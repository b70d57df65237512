"""Checkpoint-resume + lineage (north_rule: per-partition lineage rows,
resumable stages)."""

import os

from pyspark.sql import functions as F

from pytorch_ie_spark.plans.lineage import (
    read_lineage,
    resume_pending_partitions,
    run_stage,
    stage_is_complete,
)
from pytorch_ie_spark.plans.skew import size_bucketed


def test_run_stage_writes_and_resumes(spark, tmp_path):
    ckpt = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn(
            "content_sha256", F.sha2(F.col("id").cast("string"), 256)
        )

    df1 = run_stage(spark, ckpt, "stage_a", build)
    assert df1.count() == 100
    assert calls["n"] == 1
    assert stage_is_complete(ckpt, "stage_a")
    # resume: build NOT called again
    df2 = run_stage(spark, ckpt, "stage_a", build)
    assert df2.count() == 100
    assert calls["n"] == 1


def test_lineage_rows_shape(spark, tmp_path):
    ckpt = str(tmp_path)
    run_stage(
        spark,
        ckpt,
        "s1",
        lambda: spark.range(50).withColumn(
            "content_sha256", F.sha2(F.col("id").cast("string"), 256)
        ),
    )
    lin = read_lineage(spark, ckpt)
    rows = lin.collect()
    assert {r["stage"] for r in rows} == {"s1"}
    assert sum(r["row_count"] for r in rows) == 50
    assert all(r["wall_time_s"] >= 0 for r in rows)
    assert all(r["input_sha256_digest"] for r in rows)
    assert set(lin.columns) == {
        "stage",
        "partition_id",
        "input_sha256_digest",
        "row_count",
        "triple_count",
        "wall_time_s",
        "ts",
    }


def test_resume_pending_partitions_anti_join(spark):
    inputs = spark.range(10).withColumnRenamed("id", "part_key")
    done = spark.createDataFrame([(0,), (1,), (2,)], "part_key long")
    pending = resume_pending_partitions(inputs, done, "part_key")
    assert pending.count() == 7


def test_size_bucketed_partitions_by_length(spark):
    df = spark.createDataFrame(
        [(i, "x" * (10 if i % 2 == 0 else 5000)) for i in range(100)],
        "id int, text string",
    )
    out = size_bucketed(df, F.length("text"), bucket_width=1024, num_partitions=4)
    assert out.count() == 100
    assert "_size_bucket" not in out.columns
