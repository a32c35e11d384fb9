"""Data-quality rule engine.

Reference semantics (``/root/reference/src/data_quality_checks.py:16-89``):
row-count minimum, missing declared columns, required-column nulls, and
per-column max-null-fraction, producing a report
``{row_count, null_fractions, failed_checks[]}`` and raising
``DataQualityError(report)`` if anything failed.

Spark-first restructuring: the reference loops one pandas pass per column;
here ALL statistics (row count + every null fraction) are one list of
aggregate expressions, ``dq_stat_exprs``.  On the runner path they are
folded into the warehouse write (``etl.run_etl`` observes them on the
written frame), so the gate launches no Spark job of its own; called on a
bare DataFrame, ``collect_dq_stats`` evaluates the same expressions as one
shuffle-free ``df.agg``.  Either way ``dq_stats_from_row`` turns the
aggregated row into the stats, and rule evaluation is scalar Python math
over them.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .contract import Contract
from .errors import DataQualityError

_NF = "__nf__"  # alias prefix of a null-fraction aggregate


def dq_stat_exprs(df: DataFrame, contract: Contract) -> list[Column]:
    """Total rows + null fraction per declared column present in ``df``.
    Null fraction = avg(isNull) ∈ [0,1] (reference
    src/data_quality_checks.py:48-49)."""
    present = [c for c in contract.columns if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("__row_count")]
    aggs += [
        F.avg(F.col(c).isNull().cast("int")).alias(f"{_NF}{c}") for c in present
    ]
    return aggs


def dq_stats_from_row(row: dict[str, Any]) -> dict[str, Any]:
    """The stats dict from a row aggregated with ``dq_stat_exprs`` (other
    keys in ``row`` are ignored)."""
    # avg over zero rows is NULL; define fraction as 0.0 then (vacuous).
    null_fractions = {
        k.removeprefix(_NF): float(v) if v is not None else 0.0
        for k, v in row.items()
        if k.startswith(_NF)
    }
    return {"row_count": int(row["__row_count"]), "null_fractions": null_fractions}


def collect_dq_stats(df: DataFrame, contract: Contract) -> dict[str, Any]:
    """The DQ stats of ``df`` in one aggregation job."""
    return dq_stats_from_row(df.agg(*dq_stat_exprs(df, contract)).collect()[0].asDict())


def run_data_quality(
    df: DataFrame, contract: Contract, stats: dict[str, Any] | None = None
) -> dict[str, Any]:
    """Evaluate all DQ rules; returns the report dict (never raises).
    ``stats`` are ``df``'s DQ stats when already aggregated (the runner
    passes those observed on the warehouse write); otherwise they are
    collected from ``df``."""
    if stats is None:
        stats = collect_dq_stats(df, contract)
    n, null_fractions = stats["row_count"], stats["null_fractions"]
    failed: list[dict[str, Any]] = []

    # Q1 min-row-count (reference :34-38)
    if n < contract.row_count_min:
        failed.append(
            {
                "check": "row_count",
                "column": None,
                "observed": n,
                "threshold": contract.row_count_min,
                "message": f"row count {n} below minimum {contract.row_count_min}",
            }
        )

    for name, spec in contract.columns.items():
        # Q2 missing declared column (reference :42-45)
        if name not in df.columns:
            failed.append(
                {
                    "check": "missing_column",
                    "column": name,
                    "observed": None,
                    "threshold": None,
                    "message": f"declared column {name!r} missing from data",
                }
            )
            continue
        frac = null_fractions[name]
        # Q3 required column must have zero nulls (reference :51-59)
        if spec.required and frac > 0:
            failed.append(
                {
                    "check": "required_nulls",
                    "column": name,
                    "observed": frac,
                    "threshold": 0.0,
                    "message": f"required column {name!r} has null fraction {frac:.4f}",
                }
            )
        # Q4 max-null-fraction tolerance (reference :61-71)
        if spec.max_null_fraction is not None and frac > spec.max_null_fraction:
            failed.append(
                {
                    "check": "max_null_fraction",
                    "column": name,
                    "observed": frac,
                    "threshold": spec.max_null_fraction,
                    "message": (
                        f"column {name!r} null fraction {frac:.4f} exceeds "
                        f"tolerance {spec.max_null_fraction}"
                    ),
                }
            )

    return {
        "row_count": n,
        "null_fractions": null_fractions,
        "failed_checks": failed,
        "passed": not failed,
    }


def enforce_data_quality(
    df: DataFrame, contract: Contract, stats: dict[str, Any] | None = None
) -> dict[str, Any]:
    """Q5 fail-fast gate: raise DataQualityError carrying the report when any
    check failed (reference :85-89); return the report otherwise."""
    report = run_data_quality(df, contract, stats)
    if report["failed_checks"]:
        raise DataQualityError(report)
    return report
