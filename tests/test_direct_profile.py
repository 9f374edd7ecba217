"""r6 optimization guards: the direct worker-side profile read path
(plans/profile.py) must be value-identical to the JVM-scan path, its
gate must refuse non-scan inputs, and _par must only repartition
unsplittable scans (guide §2.5)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bdqc_spark.plans.profile import (
    direct_scan_files,
    profile_clips,
    profile_clips_direct,
)
from bdqc_spark.sources.iceberg import IcebergishTable
from bdqc_spark.synth.clips import generate_clips_df


@pytest.fixture(scope="module")
def tbl(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("direct_profile") / "clips")
    t = IcebergishTable(root, num_buckets=4)
    t.append(generate_clips_df(spark, 240, seed=31))
    return t


def test_direct_scan_files_gate(spark, tbl):
    clips = tbl.read(spark)
    files = direct_scan_files(clips, None)
    assert files and len(files) == len(clips.inputFiles())
    assert all(isinstance(b, int) and 0 <= b < 4 for _, b in files)
    # bucket pruning prunes the file list
    sub = direct_scan_files(clips, [1, 2])
    assert {b for _, b in sub} == {1, 2}
    # any transformation on top of the scan disqualifies (bucket can
    # no longer be derived from the file path alone)
    assert direct_scan_files(clips.where(F.col("dur_ms") > 0), None) is None
    assert direct_scan_files(clips.withColumn("x", F.lit(1)), None) is None


def test_direct_profile_value_identical(spark, tbl):
    clips = tbl.read(spark)
    files = direct_scan_files(clips, None)
    a = profile_clips_direct(spark, files, clips).orderBy("clip_id").collect()
    b = profile_clips(clips).orderBy("clip_id").collect()
    assert len(a) == len(b) == 240
    for ra, rb in zip(a, b):
        assert ra == rb


def test_par_gate(spark, sf_dir_smoke=None):
    import __spark_entry__ as entry

    d = entry._t(spark, "/root/testdata/sf0.001", "documents")
    # single input file, 4-core test session -> repartitioned wide
    par = entry._par(d, "doc_id")
    assert par.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # values unchanged
    assert par.count() == d.count()


def test_direct_gate_falls_back_on_evolved_schema(spark, tbl, tmp_path):
    """A file written before an added column must disqualify the
    direct path (the worker-side column projection cannot surface the
    missing column as null the way the JVM scan does)."""
    import shutil

    root = str(tmp_path / "evolved")
    shutil.copytree(tbl.root, root)
    t = IcebergishTable(root, num_buckets=4)
    df = generate_clips_df(spark, 40, seed=32, start=1000).withColumn(
        "rating", F.lit(5)
    )
    t.append(df)  # append with a new column evolves the schema
    clips = t.read(spark)
    assert "rating" in clips.columns
    # old files lack `rating` -> gate refuses, pipeline falls back
    assert direct_scan_files(clips, None) is None


def test_read_puts_bucket_last_for_mid_schema_first_append(spark, tmp_path):
    """profile_clips_direct appends `bucket` as the LAST column of every
    file batch and declares the output from `clips.schema`. The two
    agree because IcebergishTable.read is Spark's partitioned parquet
    read, which puts the partition column last even when the table's
    first append carried `bucket` mid-schema."""
    t = IcebergishTable(str(tmp_path / "mid"), num_buckets=4)
    raw = generate_clips_df(spark, 60, seed=33)
    mid = t.with_bucket(raw).select(raw.columns[0], "bucket", *raw.columns[1:])
    assert mid.columns[1] == "bucket"
    t.append(mid)
    clips = t.read(spark)
    assert clips.columns == raw.columns + ["bucket"]
    files = direct_scan_files(clips, None)
    assert files
    a = profile_clips_direct(spark, files, clips).orderBy("clip_id").collect()
    b = profile_clips(clips).orderBy("clip_id").collect()
    assert len(a) == len(b) == 60
    assert a == b
