"""Contract-driven ETL: scan -> normalize -> project -> coercing cast -> sink.

Reference semantics (``/root/reference/src/etl_job.py:25-83``), re-expressed
as one lazy Spark logical plan:

- CSV is read header-only, **no schema inference** — every column arrives as
  string and is cast explicitly per the contract (the reference reads with
  pandas inference then forcibly re-casts; declaring all-string + try_cast is
  the equivalent deterministic end state).
- Header names are whitespace-stripped (``etl_job.py:43``).
- The frame is projected to declared ∩ present columns in *contract order*;
  missing declared columns are dropped with a warning, NOT an error
  (``etl_job.py:46-56``) — the DQ layer reports them later.  Extra source
  columns are silently discarded.
- Casts are coercing: unparseable int/float -> NULL (``etl_job.py:58-69``);
  on Spark 4's ANSI mode that is ``try_cast``, not ``cast``.
- The warehouse sink is a full refresh and **runs before DQ** — observable
  ordering: bad data lands in the warehouse even when the run then fails DQ
  (``etl_job.py:72-80`` precedes the DQ call in the runner).

At scale: the scan is a distributed CSV read; the sink is an overwrite-mode
parquet table write.  Everything between is a narrow plan (no shuffle).

Single pass: the DQ stats and the drift profile are folded into the
warehouse write on the runner path.  ``run_etl`` attaches both modules'
aggregate expressions to the written frame with ``DataFrame.observe``, so
the write's own job computes them and no extra job re-scans the source.
They are attached to the exact frame handed to the writer, after any
``cluster_by`` layout: observed below ``repartitionByRange`` they would
also count the rows its bounds-sampling job re-reads.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from .contract import Contract
from .drift import profile_exprs, profile_from_row
from .logger import get_logger
from .quality import dq_stat_exprs, dq_stats_from_row

log = get_logger(__name__)


def read_source(spark: SparkSession, contract: Contract, base_dir: str | Path) -> DataFrame:
    """Scan the contract's source as all-string columns with stripped headers."""
    path = str(Path(base_dir) / contract.source_path)
    fmt = contract.raw.get("source_format", "csv")
    if fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        df = (
            spark.read.option("header", True)
            .option("inferSchema", False)
            .csv(path)
        )
    # strip whitespace from header names (reference src/etl_job.py:43)
    return df.toDF(*[c.strip() for c in df.columns])


def project_and_cast(df: DataFrame, contract: Contract) -> DataFrame:
    """Project to declared ∩ present columns (contract order) and apply the
    coercing casts.  Missing declared columns warn + drop; unknown declared
    types warn + leave as-is (reference src/etl_job.py:46-69)."""
    present = set(df.columns)
    cols = []
    for name, spec in contract.columns.items():
        if name not in present:
            log.warning("declared column %r missing from source; skipping", name)
            continue
        ddl = spec.spark_type
        if ddl is None:
            log.warning("unknown declared type %r for column %r; leaving as-is", spec.type, name)
            cols.append(df[name])
        elif ddl == "string":
            cols.append(df[name].cast("string").alias(name))
        else:
            # try_cast == pandas to_numeric(errors="coerce"): bad value -> NULL
            cols.append(df[name].try_cast(ddl).alias(name))
    return df.select(*cols)


def write_warehouse(
    df: DataFrame,
    contract: Contract,
    base_dir: str | Path,
    observe: tuple[Observation, Sequence[Column]] | None = None,
) -> str:
    """Full-refresh sink: overwrite the warehouse table (parquet directory).

    The reference's truncate+insert into DuckDB (src/etl_job.py:75-80) keeps
    the table schema stable across runs; with a declared contract the
    overwrite rewrites the same schema, so semantics match.

    A contract may declare ``bucket_by: {column, buckets}``: the table is
    then written hash-bucketed (+ sorted) on that column via the session
    catalog.  At 100 TB this is the co-location contract — every
    downstream join or aggregation on the bucket key skips its shuffle
    entirely, the largest single cost in repeated warehouse workloads.

    With ``observe=(observation, metrics)`` (at least one metric), the
    aggregate ``metrics`` are observed on the frame the writer consumes;
    ``observation.get`` holds them once this returns.
    """
    out = str(Path(base_dir) / contract.warehouse_path / contract.table_name)
    bucket = contract.raw.get("bucket_by")
    partition = contract.raw.get("partition_by")
    cluster = contract.raw.get("cluster_by")
    if cluster:
        # Sort-cluster the files on the declared columns: range-partition
        # then sort within partitions, so every parquet file covers a
        # narrow value span and its footer min/max (zone maps) let any
        # engine skip files on a filter.  At 100 TB this is the difference
        # between scanning 3 files and 30,000 for a point-range query.
        # List form sizes partitions via AQE; dict form pins the file
        # count ({columns: [...], partitions: N}) for layout contracts.
        if isinstance(cluster, dict):
            cols, n = cluster["columns"], cluster.get("partitions")
        else:
            cols, n = cluster, None
        df = (
            df.repartitionByRange(int(n), *cols) if n
            else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    if observe is not None:
        observation, metrics = observe
        df = df.observe(observation, *metrics)
    if bucket:
        (
            df.write.mode("overwrite")
            .bucketBy(int(bucket["buckets"]), bucket["column"])
            .sortBy(bucket["column"])
            .option("path", out)
            .format("parquet")
            .saveAsTable(contract.table_name)
        )
    elif partition:
        # Hive-style directory partitioning: the coarse pruning axis.
        # Readers with a filter on a partition column never list, open,
        # or scan the other directories (PartitionFilters, not data
        # filters) — the primary data-skipping lever for time-organized
        # warehouses.
        df.write.mode("overwrite").partitionBy(*partition).parquet(out)
    else:
        df.write.mode("overwrite").parquet(out)
    return out


class EtlResult(NamedTuple):
    """One ETL run: the casted frame (a lazy plan over the source) and its
    DQ stats and drift profile, observed on the warehouse write."""

    df: DataFrame
    dq_stats: dict[str, Any]
    profile: dict[str, Any]


def run_etl(spark: SparkSession, contract: Contract, base_dir: str | Path) -> EtlResult:
    """Full ETL for one run, plus the statistics downstream DQ + drift need,
    computed by the write's own job.  The warehouse write happens here,
    before any DQ gate — matching the reference's observable ordering."""
    df = project_and_cast(read_source(spark, contract, base_dir), contract)
    observation = Observation()
    write_warehouse(df, contract, base_dir,
                    (observation, dq_stat_exprs(df, contract) + profile_exprs(df)))
    row = observation.get
    return EtlResult(df, dq_stats_from_row(row), profile_from_row(row))
