"""tables.spread(): the scale-adaptive parallelism floor (round 17).

Pins the three behaviors the optimization relies on:
- a small single-split scan is widened, with width sized by the
  >= 64 KB-per-task rule and capped at session parallelism;
- an input whose natural split count already reaches the session
  parallelism is returned UNCHANGED (the fleet-scale no-op property);
- widening never changes results (same rows, any order).
"""

from __future__ import annotations

import os

from conftest import SF_DIR, SF_DIR_MID

from quiver_spark.tables import SPREAD_MIN_TASK_BYTES, load, spread


def _nparts(df):
    return df.rdd.getNumPartitions()


def test_spread_widens_small_scan(spark):
    base = load(spark, SF_DIR_MID, "documents")
    out = spread(base, spark, SF_DIR_MID, "documents")
    cores = spark.sparkContext.defaultParallelism
    nbytes = os.path.getsize(f"{SF_DIR_MID}/documents.parquet")
    want = max(1, min(cores, nbytes // SPREAD_MIN_TASK_BYTES))
    if want > 1:
        assert _nparts(out) == want
    else:
        # tiny input: the min-task-bytes rule says one task — unchanged plan
        assert out is base


def test_spread_noop_when_naturally_split(spark, monkeypatch):
    # simulate a fleet-scale input: natural splits >= parallelism
    base = load(spark, SF_DIR, "documents")
    monkeypatch.setattr(os.path, "getsize", lambda p: 10**13)
    out = spread(base, spark, SF_DIR, "documents")
    assert out is base


def test_spread_noop_on_missing_file(spark):
    base = load(spark, SF_DIR, "documents")
    out = spread(base, spark, "/nonexistent", "documents")
    assert out is base


def test_spread_preserves_rows(spark):
    base = load(spark, SF_DIR_MID, "documents").select("doc_id")
    out = spread(
        load(spark, SF_DIR_MID, "documents"), spark, SF_DIR_MID, "documents"
    ).select("doc_id")
    assert sorted(r.doc_id for r in base.collect()) == sorted(
        r.doc_id for r in out.collect()
    )


def test_spread_parses_size_suffixes(spark):
    # the conf parser must understand every Spark byte-size spelling;
    # exercised by setting the conf and checking the no-op gate flips.
    # sf0.1 documents (~594 KB) is big enough for the 64 KB width rule
    # to widen when the natural split count is 1.
    sf01 = "/root/testdata/sf0.1"
    base = load(spark, sf01, "documents")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # 1 KB splits -> natural splits huge -> no-op
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1KB")
        assert spread(base, spark, sf01, "documents") is base
        # 1 GB splits -> one natural split -> widened
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
        out = spread(base, spark, sf01, "documents")
        assert out is not base
        assert _nparts(out) > 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
