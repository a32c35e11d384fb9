"""Append-only incident event log.

Reference (``/root/reference/src/incident_logger.py:17-66``): a 9-column CSV
rewritten wholesale per append (O(n) per event).  Here it is an append-only
parquet table that the dashboard queries as a DataFrame.  An append is one
new ``part-<uuid4>.parquet`` file written in-process with pyarrow (no
Spark job) and moved into place atomically
(``atomic.atomic_write``): readers (``load_incidents``, the dashboard, the
streaming monitor's file source) skip the hidden temp file, so they never
see a partial record.  The two JSON payload columns keep the reference's
dict->JSON-string encoding.
"""

from __future__ import annotations

import json
import uuid
from pathlib import Path
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from .atomic import atomic_write

INCIDENT_SCHEMA = StructType(
    [
        StructField(name, StringType(), True)
        for name in (
            "run_id",
            "pipeline_name",
            "description",
            "stage",
            "status",
            "error_type",
            "error_message",
            "issues_json",
            "healing_actions_json",
        )
    ]
)
_ARROW_SCHEMA = to_arrow_schema(INCIDENT_SCHEMA)


def incidents_path(base_dir: str | Path) -> str:
    return str(Path(base_dir) / "data" / "metadata" / "incidents")


def log_incident(
    spark: SparkSession,
    base_dir: str | Path,
    *,
    run_id: str,
    pipeline_name: str,
    description: str,
    stage: str,
    status: str,
    error_type: str | None = None,
    error_message: str | None = None,
    issues: dict[str, Any] | None = None,
    healing_actions: dict[str, Any] | None = None,
) -> None:
    """Append one incident record (reference ``:33-66``; dict payloads are
    JSON-serialized into string columns, ``:49-50``).  Launches no Spark
    job; ``spark`` is kept for callers that pass it."""
    record = (
        run_id,
        pipeline_name,
        description,
        stage,
        status,
        error_type or "",
        error_message or "",
        json.dumps(issues or {}, default=str),
        json.dumps(healing_actions or {}, default=str),
    )
    table = pa.Table.from_pydict(
        {name: [value] for name, value in zip(_ARROW_SCHEMA.names, record)},
        schema=_ARROW_SCHEMA,
    )
    out = Path(incidents_path(base_dir)) / f"part-{uuid.uuid4()}.parquet"
    atomic_write(out, lambda f: pq.write_table(table, f), binary=True)


def load_incidents(spark: SparkSession, base_dir: str | Path) -> DataFrame | None:
    """Read the incident log as a DataFrame; None if nothing logged yet."""
    path = incidents_path(base_dir)
    if not Path(path).exists():
        return None
    return spark.read.schema(INCIDENT_SCHEMA).parquet(path)
