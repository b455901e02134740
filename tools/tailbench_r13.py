"""Round-13 tail-query isolation bench (measurement tool, not the driver
bench): times the SPARK SIDE ALONE of the expensive non-headline catalog
queries via the noop sink — the sweep walls in SIMSWEEP_*.json conflate
Spark compute with the DuckDB oracle and the pandas canon, so optimization
A/Bs need this split.

Methodology mirrors bench.py: warm each plan once at sf0.001 (codegen/JIT),
then min-of-N timed full-plan noop executions at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], plus the same load-calibration probe.

Usage: python tools/tailbench_r13.py [query1,query2,...] [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import IDLE_CALIBRATION_BAND_S
from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded
from stadvdb_olap_spark.session import get_session

TAIL = [
    "triangle_stats_parts",
    "recsys_eval_covisit_topk",
    "asof_join_cogrouped_pandas",
    "delta_cdf_stream_orders",
    "winsorize_price_per_flag",
    "zscore_quantity_per_flag",
    "mad_quantity_per_flag",
    "supplier_covisit_jaccard",
    "lpa_modularity_parts",
    "lpa_communities_parts",
    "ann_lsh_topk",
    "ann_lsh_multiprobe_topk",
    "dedup_recall_audit_docs",
    "dedup_jaccard_verified",
    "triangle_census_copurchase_parts",
    "kcore_parts_k90",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = TAIL
    if len(sys.argv) > 1 and sys.argv[1].strip():
        names = [q.strip() for q in sys.argv[1].split(",") if q.strip()]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_session(app_name="stadvdb-olap-tailbench-r13")
    _ensure_loaded()

    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"warm: {name}")
        spec.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()  # long-session stamina (driver_sim device)

    timings: dict[str, float] = {}
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        best = None
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"timed: {name}")
            t0 = time.time()
            spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        print(f"{name}: {best:.3f}s", file=sys.stderr)
        spark.catalog.clearCache()

    cal_best = None
    for _ in range(3):
        t0 = time.time()
        spark.range(100_000_000).selectExpr("sum(id)").write.format(
            "noop"
        ).mode("overwrite").save()
        cal = time.time() - t0
        cal_best = cal if cal_best is None else min(cal_best, cal)

    print(
        json.dumps(
            {
                "metric": "tail_queries_spark_wall",
                "queries": timings,
                "total": round(sum(timings.values()), 3),
                "sf_dir": sf_dir,
                "runs": runs,
                "calibration_s": round(cal_best, 3),
                "idle_calibration_band_s": list(IDLE_CALIBRATION_BAND_S),
            }
        )
    )


if __name__ == "__main__":
    main()
