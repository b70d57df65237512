"""Incremental, idempotent KG ingest: only new (repo, path, commit) work
units are processed on each run.

This is the partition-level complement to the stage-level resume in
plans/lineage.py: at 10^12-file scale the corpus grows continuously, and a
failed or partial run must be re-submittable without reprocessing completed
units (north_rule checkpoint-resume). The completed-unit set is derived
from an explicit `processed` marker table (so documents that legitimately
produce zero triples aren't reprocessed forever).

Crash-idempotency contract (two-phase commit via run ids):

  1. each run writes its triples under ``triples/run_id=<id>/`` (data first),
  2. the unit markers — tagged with the same run_id — are written ONLY after
     the data write succeeded (the marker write is the commit point),
  3. readers (`read_triples`) only see data whose run_id appears in the
     marker table, so a crash between (1) and (2) leaves invisible orphan
     data and still-pending units: the replay reprocesses them under a new
     run_id with no duplicate triples observable. `orphan_run_ids` surfaces
     leftovers for cleanup.

Legacy layout: out_dirs written before the run-id scheme have triples
directly under ``triples/pred=X/`` and markers with no run_id column. Mixed
partition structures fail Spark's partition discovery in a single read, so
the readers here discover the two layouts separately (explicit subdirectory
globs under a shared basePath) and union them, treating all pre-run_id data
as one implicitly committed run ``run_id='legacy'`` — the old writer's
presence-means-committed semantics. No migration needed.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_triples_fused, fused_triples
from ..sources.readers import documents_from_source_files


def _processed_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_processed_units")


def _data_path(out_dir: str, data_name: str) -> str:
    return os.path.join(out_dir, data_name)


def _triples_path(out_dir: str) -> str:
    return _data_path(out_dir, "triples")


def _unit_key_col():
    return F.concat_ws("@", F.concat_ws("/", "repo", "path"), "commit")


LEGACY_RUN_ID = "legacy"


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for whatever store `path_str` lives on — local,
    HDFS, or S3A. All path discovery goes through this instead of
    driver-local glob/os.path, which silently return nothing for remote
    out_dirs."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _glob_dirs(spark: SparkSession, pattern: str) -> list[str]:
    fs, hpath = _hadoop_fs(spark, pattern)
    statuses = fs.globStatus(hpath)
    if statuses is None:
        return []
    return sorted(str(s.getPath()) for s in statuses)


def _path_exists(spark: SparkSession, path_str: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path_str)
    return bool(fs.exists(hpath))


def _legacy_triple_dirs(spark: SparkSession, out_dir: str) -> list[str]:
    """pred=* partitions sitting DIRECTLY under triples/ (pre-run_id data)."""
    return _glob_dirs(spark, os.path.join(_triples_path(out_dir), "pred=*"))


def _marker_table(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Markers normalized to (unit_key, run_id); legacy marker files (no
    run_id column) read as run_id='legacy' via parquet schema merge."""
    ppath = _processed_path(out_dir)
    if not _path_exists(spark, ppath):
        return None
    m = spark.read.option("mergeSchema", "true").parquet(ppath)
    if "run_id" not in m.columns:
        return m.withColumn("run_id", F.lit(LEGACY_RUN_ID))
    return m.withColumn("run_id", F.coalesce("run_id", F.lit(LEGACY_RUN_ID)))


def _raw_rows(
    spark: SparkSession, out_dir: str, data_name: str, partition_col: str
) -> DataFrame:
    """All physical rows of a generic dataset regardless of layout
    generation, with a run_id column (legacy rows get run_id='legacy')."""
    tpath = _data_path(out_dir, data_name)
    legacy = _glob_dirs(spark, os.path.join(tpath, f"{partition_col}=*"))
    modern = _glob_dirs(spark, os.path.join(tpath, "run_id=*"))
    parts = []
    if modern:
        parts.append(spark.read.option("basePath", tpath).parquet(*modern))
    if legacy:
        parts.append(
            spark.read.option("basePath", tpath)
            .parquet(*legacy)
            .withColumn("run_id", F.lit(LEGACY_RUN_ID))
        )
    if not parts:
        # no partition dirs at all: surface the same error a direct read would
        return spark.read.parquet(tpath)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _raw_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """All physical triples regardless of layout generation, with a run_id
    column (legacy rows get run_id='legacy')."""
    return _raw_rows(spark, out_dir, "triples", "pred")


def pending_source_files(
    spark: SparkSession, source_files: DataFrame, out_dir: str
) -> DataFrame:
    """Anti-join the source against already-processed unit keys."""
    markers = _marker_table(spark, out_dir)
    if markers is None:
        return source_files
    done = markers.select("unit_key")
    keyed = source_files.withColumn("unit_key", _unit_key_col())
    return keyed.join(done, "unit_key", "left_anti").drop("unit_key")


def committed_run_ids(spark: SparkSession, out_dir: str) -> DataFrame:
    """(run_id) of runs whose marker write completed — the commit record.
    Pre-run_id data is an implicitly committed 'legacy' run (the old writer
    had no invisible-until-committed phase)."""
    markers = _marker_table(spark, out_dir)
    ids = (
        markers.select("run_id").dropDuplicates(["run_id"])
        if markers is not None
        else spark.createDataFrame([], "run_id string")
    )
    if _legacy_triple_dirs(spark, out_dir):
        ids = ids.union(
            spark.createDataFrame([(LEGACY_RUN_ID,)], "run_id string")
        ).dropDuplicates(["run_id"])
    return ids


def ingest_increment(
    spark: SparkSession,
    source_files: DataFrame,
    out_dir: str,
    ner_model: str = "gazetteer_ner",
    re_model: str = "cooccurrence_re",
    max_distance: int = 40,
    build_rows=None,
    data_name: str = "triples",
    data_partition_col: str = "pred",
) -> dict:
    """Process only pending units; stage rows under a run_id, then commit
    by writing the unit markers (see module docstring for the crash story).

    The two-phase machinery is dataset-generic: `build_rows` maps the
    pending source-file rows to the dataset rows (default: the fused
    triple extractor), staged under `<out_dir>/<data_name>/run_id=*/
    <data_partition_col>=*`. One out_dir hosts ONE dataset — the unit
    markers record source progress for that dataset only.

    Returns {'processed_units': n, 'new_triples': n} where new_triples is
    the count of THIS increment's rows (not the on-disk total) — zeros
    when the run is a no-op replay (idempotency)."""
    if build_rows is None:
        def build_rows(pending_src: DataFrame) -> DataFrame:
            return fused_triples(
                extract_triples_fused(
                    documents_from_source_files(pending_src),
                    ner_model=ner_model,
                    re_model=re_model,
                    max_distance=max_distance,
                )
            )

    pending = pending_source_files(spark, source_files, out_dir)
    n_units = pending.count()
    if n_units == 0:
        return {"processed_units": 0, "new_triples": 0}
    run_id = uuid.uuid4().hex[:16]
    rows = build_rows(pending).withColumn("run_id", F.lit(run_id))
    # phase 1: data under this run's partition (invisible until committed)
    rows.write.mode("append").partitionBy(
        "run_id", data_partition_col
    ).parquet(_data_path(out_dir, data_name))
    # count the increment from what was actually written for THIS run —
    # reading only this run's partition directory, NOT the full raw table:
    # inside a foreachBatch sink the latter would re-list the whole output
    # dir every micro-batch, scaling with total accumulated runs rather
    # than batch size
    run_dir = os.path.join(
        _data_path(out_dir, data_name), f"run_id={run_id}"
    )
    fs, run_hpath = _hadoop_fs(spark, run_dir)
    if fs.exists(run_hpath):
        n_rows = spark.read.parquet(run_dir).count()
    else:
        # an all-empty increment: partitionBy writes no directory at all
        n_rows = 0
    # phase 2 (commit point): markers carry the run_id that validates the data
    (
        pending.select(_unit_key_col().alias("unit_key"))
        .dropDuplicates(["unit_key"])
        .withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .parquet(_processed_path(out_dir))
    )
    return {"processed_units": n_units, "new_triples": n_rows}


def read_committed_rows(
    spark: SparkSession,
    out_dir: str,
    data_name: str = "triples",
    data_partition_col: str = "pred",
) -> DataFrame:
    """Committed rows of a generic two-phase dataset (see ingest_increment's
    build_rows): data whose run_id has markers; orphans filtered."""
    raw = _raw_rows(spark, out_dir, data_name, data_partition_col)
    committed = committed_run_ids(spark, out_dir)
    return raw.join(
        F.broadcast(committed), "run_id", "left_semi"
    ).drop("run_id")


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed triples only: data whose run_id has markers. Orphan data
    from a crashed run (data written, markers not) is filtered out — the
    run-id set is tiny, so the semi join is a broadcast."""
    t = _raw_triples(spark, out_dir)
    committed = committed_run_ids(spark, out_dir)
    return t.join(F.broadcast(committed), "run_id", "left_semi").drop("run_id")


def compact_triples(
    spark: SparkSession,
    out_dir: str,
    dest_dir: str,
    files_per_partition: int = 1,
) -> dict:
    """Iceberg-style rewrite_data_files for the triple table: every
    incremental run appends its own small files under a fresh run_id
    partition, so after many increments the committed view reads hundreds
    of tiny files — the classic small-file problem. This rewrites the
    COMMITTED triples (orphans excluded, run_id dropped) into a plain
    pred-partitioned snapshot at `dest_dir`, `files_per_partition` files
    per pred value (bounded deterministic salt; raise it for partitions
    larger than one task should hold). The ingest dir is left untouched —
    the snapshot is a read-optimized copy, exactly like an Iceberg rewrite
    producing a new snapshot without disturbing writers.

    Returns {'files_before': n, 'files_after': n, 'rows': n} for lineage.
    """
    t = read_triples(spark, out_dir)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in t.columns]),
        F.lit(max(1, files_per_partition)),
    )
    (
        t.repartition(F.col("pred"), salt)
        .write.mode("overwrite")
        .partitionBy("pred")
        .parquet(dest_dir)
    )

    def _parquet_files(root: str) -> int:
        fs, hpath = _hadoop_fs(spark, root)
        if not fs.exists(hpath):
            return 0
        it = fs.listFiles(hpath, True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    return {
        "files_before": _parquet_files(_triples_path(out_dir)),
        "files_after": _parquet_files(dest_dir),
        "rows": spark.read.parquet(dest_dir).count(),
    }


def orphan_run_ids(spark: SparkSession, out_dir: str) -> list[str]:
    """run_ids with data on disk but no commit markers (crashed runs) —
    their directories can be deleted at leisure; readers never see them."""
    data_runs = (
        _raw_triples(spark, out_dir).select("run_id").dropDuplicates(["run_id"])
    )
    committed = committed_run_ids(spark, out_dir)
    return [
        r["run_id"]
        for r in data_runs.join(committed, "run_id", "left_anti").collect()
    ]
