"""Known defect, reproduced so a fix shows up as an XPASS (strict).

``merge_delta_scd1`` tags each live row with its file through
``input_file_name()`` (``sources/delta_log.py``, ``_tagged_live``). When
the session holds a cached DataFrame of the target table, the cache
replaces the parquet scan, ``input_file_name()`` is empty, the file map
yields null and the merge raises ``KeyError: None``. The benchmark never
caches a Delta target, so its workloads do not hit this.
"""

from __future__ import annotations

import pytest

from stadvdb_olap_spark.sources import delta_log


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from stadvdb_olap_spark.session import get_session

    spark = get_session(
        app_name="perfbench-known-defect",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(tmp_path_factory.mktemp("spark-local")),
        },
    )
    yield spark
    spark.stop()


@pytest.mark.xfail(raises=KeyError, strict=True,
                   reason="merge_delta_scd1 maps a cached scan's file name to None")
def test_merge_into_cached_target(spark, tmp_path):
    table = str(tmp_path / "t")
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    delta_log.write_delta(target, table, mode="overwrite")
    cached = delta_log.read_delta(spark, table).cache()
    try:
        cached.count()
        source = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
        delta_log.merge_delta_scd1(spark, table, source, ["k"])
    finally:
        cached.unpersist()
