"""Benchmark harness (driver contract).

Runs the headline catalog queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes its FULL plan via the noop sink (df.write.format("noop"))
so timing includes every operator, not just what a count() would prune to.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded
from stadvdb_olap_spark.session import get_session

#: The calibration probe's idle-host range in seconds (SCALING.md
#: "Host-load calibration"): the load WARN's threshold and the JSON
#: line's ``idle_calibration_band_s``.
IDLE_CALIBRATION_BAND_S = (0.076, 0.091)

HEADLINE = [
    "flagship_fact_build",
    "fact_star",
    "q1_pricing_summary",
    "q3_top_unshipped_revenue",
    "q5_revenue_by_nation",
    "rollup_revenue_region_nation",
    "top3_parts_per_brand",
    "events_sessionize_30m",
    "merge_upsert_orders",
    # Training-data pipeline headliners (registered in later build steps;
    # silently skipped if absent so bench.py never breaks mid-build):
    "dedup_minhash_pairs",
    "ann_cosine_topk",
    "text_quality_scores",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_session(app_name="stadvdb-olap-bench")

    _ensure_loaded()
    # Warm each headline query once at the smallest scale: the plan SHAPE is
    # scale-independent, so this populates the whole-stage-codegen cache and
    # JIT for every timed plan. The timed section below then measures
    # steady-state execution at sf_dir, not one-off compilation.
    for name in HEADLINE:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        spec.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    # min-of-2 per query: two timed full-plan executions, report the
    # faster. Same metric semantics as a single run (the plan's steady-
    # state wall), but robust to transient host noise (GC pause, another
    # tenant's burst) that would otherwise make round-over-round diffs
    # meaningless on a shared box.
    runs = 2
    timings: dict[str, float] = {}
    for name in HEADLINE:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        best = None
        for _ in range(runs):
            t0 = time.time()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)

    # Load-calibration constant: a fixed CPU-bound probe (1e8-row range
    # sum, zero I/O, zero shuffle) timed min-of-3 alongside the headline
    # runs. Its cost is invariant to the repo's code, so a READER can
    # judge how loaded the host was (idle band ~0.076-0.091 s per
    # SCALING.md): if calibration_s is 1.4x the band, per-query upticks
    # of similar magnitude are host noise, not regressions. It is
    # DIAGNOSTIC CONTEXT ONLY — the round-10 advice showed that
    # rescaling the total by the probe ratio systematically
    # over-discounts (query wall does not inflate proportionally to a
    # CPU-only probe), so no normalized total is published; "value" is
    # always the raw measured wall.
    cal_best = None
    for _ in range(runs + 1):
        t0 = time.time()
        spark.range(100_000_000).selectExpr("sum(id)").write.format(
            "noop"
        ).mode("overwrite").save()
        cal = time.time() - t0
        cal_best = cal if cal_best is None else min(cal_best, cal)

    # Measurement-hygiene WARN (stderr, diagnostic only — the JSON line
    # below is unchanged): when the calibration probe lands >1.3x above
    # the committed idle band, per-query walls are inflated by host load
    # and round-over-round comparisons should be re-run on a quieter
    # host (see SCALING.md "Host-load calibration").
    band_hi = IDLE_CALIBRATION_BAND_S[1]
    if cal_best > 1.3 * band_hi:
        print(
            f"WARN: calibration_s={cal_best:.3f} is "
            f"{cal_best / band_hi:.2f}x the idle band ceiling {band_hi}; "
            "host is loaded — treat these walls as inflated and re-run "
            "for round-over-round comparison",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs": runs,
                "calibration_s": round(cal_best, 3),
                "idle_calibration_band_s": list(IDLE_CALIBRATION_BAND_S),
            }
        )
    )


if __name__ == "__main__":
    main()
