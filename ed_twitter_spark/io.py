"""Checkpoint catalog: Iceberg-or-Parquet stage tables + lineage/metrics rows.

The north rule (BASELINE.json:6,14) requires every pipeline stage to
checkpoint per-partition state with **lineage + metrics rows** so a run can
resume mid-pipeline. This sandbox has no Iceberg runtime jar, so the catalog
is abstracted (SURVEY.md §7): when an Iceberg catalog is configured on the
session we write via ``df.writeTo(catalog.db.name).createOrReplace()``;
otherwise each stage is a Parquet directory with two sidecar tables of
identical schema/semantics:

* ``<root>/<stage>/data/``        — the stage output
* ``<root>/<stage>/_metrics/``    — one row **per output partition**
  (stage, partition_id, rows) plus a totals row (partition_id = -1)
* ``<root>/<stage>/_lineage/``    — one row per write: stage, fingerprint
  (stage version + input fingerprints + sf_dir), dep list, schema JSON,
  row count, wall seconds, written_at

Resume contract: a stage is *complete* iff its lineage row exists and its
recorded fingerprint equals the fingerprint recomputed from the current code
version and the fingerprints of its (possibly re-run) inputs. Any upstream
change therefore invalidates exactly the downstream suffix of the DAG.

The reference's analog is its torch.save memo-cache of parsed indexes
(`deep-ed-pytorch/entities/ent_name2id_freq/ent_name_id.py:41-48,93`,
`relatedness.py:99-105`) — load-if-exists, rebuild otherwise — minus any
lineage check, which we add because a 10^12-turn run cannot afford a silently
stale stage.
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# sidecar schemas as (column, SQL type); lineage columns in key-sorted order
METRICS_COLS = (("stage", "string"), ("partition_id", "int"), ("rows", "bigint"))
LINEAGE_COLS = (("deps", "string"), ("fingerprint", "string"), ("rows", "bigint"),
                ("schema", "string"), ("stage", "string"), ("wall_s", "double"),
                ("written_at", "string"))


def _iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, if any (else None → Parquet)."""
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and v.endswith("SparkCatalog"):
            return k.split(".")[3]
    return None


def fingerprint(*parts: str) -> str:
    return hashlib.md5("\x1f".join(parts).encode()).hexdigest()[:16]


def data_path(root: str, stage: str) -> str:
    return f"{root}/{stage}/data"


def write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    fp: str,
    deps: list[str],
    started_at: float,
) -> dict:
    """Materialize a stage: data + per-partition metrics + lineage row.

    ``started_at`` is when the stage's build began; wall_s spans build +
    execution + write. Returns the lineage record (also a 1-row table). Past
    the data write the commit runs one aggregate job; sidecars are local frames.
    """
    spark = df.sparkSession
    cat = _iceberg_catalog(spark)
    if cat is not None:
        df.writeTo(f"{cat}.{root}.{stage}").createOrReplace()
        written = spark.read.table(f"{cat}.{root}.{stage}")
    else:
        df.write.mode("overwrite").parquet(data_path(root, stage))
        written = spark.read.parquet(data_path(root, stage))

    # per-partition counts of the data *as persisted* (scan partitioning); the
    # driver sums them, so an *empty* stage still records its (stage, -1, 0) row
    counts = written.groupBy(F.spark_partition_id()).count()
    parts = sorted(tuple(r) for r in counts.collect())
    n_rows = sum(n for _, n in parts)
    metrics = [(stage, p, n) for p, n in [(-1, n_rows), *parts]]
    _write_rows(spark, metrics, METRICS_COLS, f"{root}/{stage}/_metrics")

    record = dict(stage=stage, fingerprint=fp, deps=json.dumps(deps), schema=written.schema.json(),
                  rows=n_rows, wall_s=round(time.time() - started_at, 3),
                  written_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    lineage = [tuple(record[c] for c, _ in LINEAGE_COLS)]
    _write_rows(spark, lineage, LINEAGE_COLS, f"{root}/{stage}/_lineage")
    return record


def _write_rows(spark: SparkSession, rows: list[tuple], cols: tuple, path: str) -> None:
    """One Parquet file of typed literals: a JVM-only frame, no Python worker."""
    structs = [F.struct(*(F.lit(v).cast(t).alias(c) for v, (c, t) in zip(r, cols))) for r in rows]
    local = spark.range(1, numPartitions=1).select(F.inline(F.array(*structs)))
    local.write.mode("overwrite").parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned layout for the fact tables.

    At 10^12 turns the transcripts/events tables are written partitioned by
    ingest date (``dt=YYYY-MM-DD/`` directories): any query filtering on the
    partition column prunes whole directories at planning time — the scan
    never opens non-matching files, which is the difference between reading
    one day and reading 100 TB. The pruning is asserted in the plan audit
    (``PartitionFilters`` on the FileScan, `tests/test_plans.py`).
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_lineage(spark: SparkSession, root: str, stage: str) -> dict | None:
    """The stage's lineage record, or None if never (fully) written."""
    try:
        row = spark.read.parquet(f"{root}/{stage}/_lineage").first()
    except Exception:
        return None
    return row.asDict() if row is not None else None


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    cat = _iceberg_catalog(spark)
    if cat is not None:
        return spark.read.table(f"{cat}.{root}.{stage}")
    return spark.read.parquet(data_path(root, stage))


def read_metrics(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return spark.read.parquet(f"{root}/{stage}/_metrics")
