"""Statistical drift detection.

Reference semantics (``/root/reference/src/drift_detector.py``):
- profile = per *numeric* column ``{mean, std}`` over non-null values
  (``:16-26``); sample stddev with an n<=1 guard returning 0.0, not NULL
  (``:24``) — on Spark that is ``coalesce(stddev_samp(c), 0.0)``.
- first run bootstraps the profile file, ``mode="baseline_created"``, no
  comparison (``:40-47``).
- subsequent runs compare means:
  ``abs(cur - base) / abs(base) > mean_relative_tolerance`` -> drifted;
  columns with ``base mean == 0`` are skipped (zero-guard ``:64-65``), and
  columns new in the current profile are skipped (``:57-59``).
- drift never fails the run — it only reports (``:82-87``).

Spark-first restructuring: the reference profiles one pandas pass per column;
here the whole profile is one list of aggregate expressions,
``profile_exprs``.  On the runner path they are folded into the warehouse
write (``etl.run_etl`` observes them on the written frame), so drift
detection launches no Spark job of its own; ``build_profile`` evaluates the
same expressions on a bare DataFrame as one ``df.agg`` (map-side partial
aggs, no shuffle).  ``profile_from_row`` turns either aggregated row into
the profile.  The comparison itself is tiny scalar Python math; at
100 TB the profiles stay tiny (one row per column) so this never becomes
data-sized.  The profile file is replaced atomically, so a crashed save
never leaves a truncated baseline behind.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from .atomic import atomic_write
from .contract import Contract

# alias prefixes of the profile aggregates
_MEAN, _STD = "__mean__", "__std__"


def numeric_columns(df: DataFrame) -> list[str]:
    """Schema-level predicate (reference src/drift_detector.py:12-13)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]


def profile_exprs(df: DataFrame) -> list[Column]:
    """Per numeric column: mean and sample stddev over non-nulls; the
    stddev of a single value is 0.0, not NULL."""
    aggs = []
    for c in numeric_columns(df):
        aggs.append(F.avg(F.col(c)).alias(f"{_MEAN}{c}"))
        aggs.append(
            F.coalesce(F.stddev_samp(F.col(c)), F.lit(0.0)).alias(f"{_STD}{c}")
        )
    return aggs


def profile_from_row(row: dict[str, Any]) -> dict[str, Any]:
    """The profile from a row aggregated with ``profile_exprs`` (other keys
    in ``row`` are ignored).  Columns that are entirely null/empty are
    skipped (reference ``:20-22`` skips after dropna leaves nothing)."""
    profile: dict[str, Any] = {"columns": {}}
    for k, mean in row.items():
        if not k.startswith(_MEAN) or mean is None:
            continue
        c = k.removeprefix(_MEAN)
        profile["columns"][c] = {"mean": float(mean), "std": float(row[f"{_STD}{c}"])}
    return profile


def build_profile(df: DataFrame) -> dict[str, Any]:
    """Per numeric column ``{mean, std}`` over non-nulls, in ONE agg job."""
    aggs = profile_exprs(df)
    if not aggs:
        return {"columns": {}}
    return profile_from_row(df.agg(*aggs).collect()[0].asDict())


def load_profile(path: str | Path) -> dict[str, Any] | None:
    p = Path(path)
    if not p.exists():
        return None
    with open(p) as f:
        return json.load(f)


def save_profile(profile: dict[str, Any], path: str | Path) -> None:
    atomic_write(path, lambda f: json.dump(profile, f, indent=2))


def compare_profiles(
    baseline: dict[str, Any], current: dict[str, Any], tolerance: float
) -> dict[str, Any]:
    """Mean-relative drift compare (reference src/drift_detector.py:57-80)."""
    drifted: list[str] = []
    details: dict[str, Any] = {}
    base_cols = baseline.get("columns", {})
    for col, cur in current.get("columns", {}).items():
        if col not in base_cols:  # new-in-current: skipped (:58-59)
            continue
        base_mean = base_cols[col]["mean"]
        cur_mean = cur["mean"]
        if base_mean == 0:  # zero-guard (:64-65)
            continue
        rel = abs(cur_mean - base_mean) / abs(base_mean)
        details[col] = {
            "baseline_mean": base_mean,
            "current_mean": cur_mean,
            "relative_change": rel,
        }
        if rel > tolerance:
            drifted.append(col)
    return {"mode": "compared", "drifted_columns": drifted, "details": details}


def detect_and_update_drift(
    contract: Contract, base_dir: str | Path, current: dict[str, Any]
) -> dict[str, Any]:
    """Bootstrap-or-compare control flow (reference ``:29-87``) for the
    ``current`` profile (the runner passes the one observed on the
    warehouse write; ``build_profile`` gives it for a bare DataFrame).

    Never raises; always returns a drift report dict.
    """
    profile_path = Path(base_dir) / contract.drift_profile_path
    baseline = load_profile(profile_path)
    if baseline is None:
        save_profile(current, profile_path)
        return {"mode": "baseline_created", "drifted_columns": [], "details": {}}
    return compare_profiles(baseline, current, contract.mean_relative_tolerance)


# --- profile history (the at-scale profile store) ---------------------------

def profile_to_df(spark, profile: dict[str, Any], run_id: str) -> DataFrame:
    """One row per (run_id, column): the tabular form of a profile.  At
    100 TB the JSON file becomes this append-mode table — profiles from
    every run/partition live side by side and drift queries are joins
    (see ``operators.relational.q_drift_compare`` for the query shape)."""
    rows = [
        (run_id, col, float(stats["mean"]), float(stats["std"]))
        for col, stats in profile.get("columns", {}).items()
    ]
    return spark.createDataFrame(
        rows, "run_id string, column string, mean double, std double"
    )


def append_profile_history(
    spark, profile: dict[str, Any], run_id: str, base_dir: str | Path
) -> str:
    """Append this run's profile to the history table (parquet,
    append-mode — an O(1) write like the incident log, not the
    read-rewrite cycle the reference's JSON file implies)."""
    out = str(Path(base_dir) / "data" / "metadata" / "profile_history")
    profile_to_df(spark, profile, run_id).write.mode("append").parquet(out)
    return out


def drift_between_runs(
    spark, base_dir: str | Path, base_run: str, cur_run: str, tolerance: float
) -> DataFrame:
    """Distributed D3: drift between two recorded runs as a join over the
    history table — per-column relative mean change + drifted flag, with
    the reference's base_mean == 0 guard.  Works unchanged when the
    'profile' has millions of rows (per-group profiling)."""
    path = str(Path(base_dir) / "data" / "metadata" / "profile_history")
    hist = spark.read.parquet(path)
    base = hist.filter(F.col("run_id") == base_run).select(
        "column", F.col("mean").alias("base_mean")
    )
    cur = hist.filter(F.col("run_id") == cur_run).select(
        "column", F.col("mean").alias("cur_mean")
    )
    rel = F.abs(F.col("cur_mean") - F.col("base_mean")) / F.abs(F.col("base_mean"))
    return (
        base.join(cur, "column")
        .filter(F.col("base_mean") != 0.0)
        .select(
            "column", "base_mean", "cur_mean",
            rel.alias("relative_change"),
            (rel > F.lit(tolerance)).alias("drifted"),
        )
    )
