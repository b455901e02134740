"""Full-pipeline entry point — the reference's ``app.py`` re-expressed.

SURVEY.md §2.11 parity:

- **O1 dim→fact DAG** (the reference's ``app.py:13-21``): the same five
  stages (user/customer, location, date, product/part dims, then the
  fact). The reference runs them in sequence because its fact FK lookup
  reads the dims back from Postgres; here ``fact_star`` resolves its
  surrogate keys from lineage (broadcast key-map joins, not driver-side
  dicts), so no stage reads another's output. The five plans are built
  in stage order on the calling thread (plan building and the
  per-session scan cache stay single-threaded), then every stage lands
  concurrently, one thread per stage, so their Spark jobs share the
  executor slots instead of queueing behind each other.
- **O2 timing instrumentation** (``app.py:7,23-26``): a stage's seconds
  are its build time plus its own landing wall time, returned AND
  logged; landings overlap, so per-stage seconds overlap too and do not
  sum to the pipeline's wall. Row counts ride the write job itself via
  ``df.observe`` (no post-write re-scan).
- **O4 structured logging** (``ETL/user_ETL.py:12-14,84,97,139``):
  per-stage row counts and seconds through ``logging``.
- **O3 context-managed connections** — subsumed by SparkSession
  lifecycle (no per-stage connection churn to manage).
- **O5 manual ``del``/``gc.collect()`` per batch** — intentionally NOT
  replicated: executors manage memory; the reference's pattern also
  hides an unbound-variable bug on empty first batches
  (``ETL/prod_ETL.py:131``, SURVEY §2.11).
"""

from __future__ import annotations

import contextlib
import logging
import time

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger("stadvdb_olap_spark.app")


STAGES = ("dim_customer", "dim_location", "dim_date", "dim_part", "fact_star")


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    table_format: str = "parquet",
) -> dict[str, dict[str, float | int]]:
    """Run the dim→fact warehouse build into ``out_dir``; return
    per-stage ``{"rows": n, "seconds": s}`` in stage order. Each stage
    writes ``<out_dir>/<stage>`` — as a parquet atomic job commit
    (``table_format="parquet"``, the default) or as a DELTA-FORMAT
    transaction-log commit (``table_format="delta"``,
    sources/delta_log.py): every run lands as one overwrite version per
    table, the stage report records ``delta_version``, and earlier
    builds stay time-travelable. Table maintenance (OPTIMIZE, VACUUM,
    log cleanup) is the caller's job, run after its own merges.

    The stages land concurrently (module docstring, O1). Each thread
    inherits the caller's job group and other local properties. A stage
    that fails does not stop the others: once every thread has joined,
    the first failure in stage order is re-raised."""
    from stadvdb_olap_spark.plans.catalog import REGISTRY, _ensure_loaded
    from stadvdb_olap_spark.sources.delta_log import timestamp_micros

    if table_format not in ("parquet", "delta"):
        raise ValueError(f"table_format must be parquet|delta, got {table_format!r}")
    _ensure_loaded()
    built: list[tuple[str, DataFrame, Observation, float]] = []
    errors: dict[str, BaseException] = {}
    for name in STAGES:
        t0 = time.perf_counter()
        try:
            # df.observe collects the row count DURING the write job —
            # no post-write re-read (a second full scan at 100 TB).
            obs = Observation(f"{name}_rows")
            df = REGISTRY[name].fn(spark, sf_dir).observe(
                obs, F.count(F.lit(1)).alias("rows")
            )
        except Exception as exc:  # noqa: BLE001  # re-raised after the landings
            errors[name] = exc
            continue
        built.append((name, df, obs, time.perf_counter() - t0))

    landed: dict[str, tuple[int, dict[str, float | int], float]] = {}

    def land(name: str, df: DataFrame, obs: Observation) -> None:
        t0 = time.perf_counter()
        try:
            extra = _write(df, f"{out_dir}/{name}", table_format)
            rows = int(obs.get["rows"])
        except Exception as exc:  # noqa: BLE001  # re-raised after the join
            errors[name] = exc
            return
        landed[name] = (rows, extra, time.perf_counter() - t0)

    threads = [
        InheritableThread(target=land, args=(name, df, obs), session=spark,
                          name=f"run_pipeline-{name}")
        for name, df, obs, _ in built
    ]
    # Delta staging writes INT64-micros timestamps; pinning the session
    # conf once, around every landing, keeps the concurrent writers from
    # each saving/setting/restoring it (delta_log.timestamp_micros).
    pin = timestamp_micros(spark) if table_format == "delta" else contextlib.nullcontext()
    with pin:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    for name in STAGES:
        if name in errors:
            raise errors[name]

    report: dict[str, dict[str, float | int]] = {}
    for name, _df, _obs, build_s in built:
        rows, extra, land_s = landed[name]
        secs = round(build_s + land_s, 3)
        report[name] = {"rows": rows, "seconds": secs, **extra}
        log.info("stage %s: %d rows in %.3fs", name, rows, secs)
    return report


def _write(df: DataFrame, table_dir: str, table_format: str) -> dict[str, int]:
    """Write one stage to ``table_dir``; return the stage report's extra
    fields."""
    if table_format == "parquet":
        from stadvdb_olap_spark.sources.sinks import write_table

        write_table(df, table_dir)
        return {}
    from stadvdb_olap_spark.sources.delta_log import write_delta

    return {
        "delta_version": write_delta(
            df, table_dir, mode="overwrite", operation="PIPELINE LOAD"
        )
    }
