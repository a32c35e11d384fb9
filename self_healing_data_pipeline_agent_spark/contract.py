"""The pipeline contract: a mutable YAML document declaring source, schema,
data-quality rules, and drift config.

Mirrors the reference's contract surface (see
``/root/reference/config/pipeline_config.yml:1-22`` and its loader at
``/root/reference/src/pipeline_runner.py:21-28``): per-column ``type`` /
``required`` / ``max_null_fraction``, global ``quality.row_count_min``, and
``drift.{profile_path, mean_relative_tolerance}``.  The contract is the
*mutable* piece of state the self-healing agent rewrites.

Declared types are exactly ``int`` / ``float`` / ``string`` (reference
``src/etl_job.py:58-69``); unknown type names are warned about and left
uncast.  On Spark 4 (ANSI mode on by default) the coerce-to-null semantics
of the reference's ``pd.to_numeric(errors="coerce")`` map to ``try_cast``,
NOT plain ``cast`` (which would throw on ``'thirty' -> BIGINT``).
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import yaml

from .atomic import atomic_write

# config type name -> Spark DDL type for try_cast
SPARK_TYPE_FOR: dict[str, str] = {
    "int": "bigint",
    "float": "double",
    "string": "string",
}


@dataclass
class ColumnSpec:
    """Per-column declaration: type + DQ rules."""

    name: str
    type: str = "string"
    required: bool = False
    max_null_fraction: float | None = None

    @property
    def spark_type(self) -> str | None:
        return SPARK_TYPE_FOR.get(self.type)


@dataclass
class Contract:
    """Typed view over the YAML contract dict.

    ``raw`` keeps the full original mapping so healing rewrites preserve
    unknown keys and key order (the reference dumps with
    ``sort_keys=False``).
    """

    raw: dict[str, Any] = field(default_factory=dict)

    # --- accessors -------------------------------------------------------
    @property
    def source_path(self) -> str:
        return self.raw.get("source_path", "")

    @source_path.setter
    def source_path(self, value: str) -> None:
        self.raw["source_path"] = value

    @property
    def table_name(self) -> str:
        return self.raw.get("table_name", "output")

    @property
    def warehouse_path(self) -> str:
        return self.raw.get("warehouse_path", "data/warehouse")

    @property
    def columns(self) -> dict[str, ColumnSpec]:
        out: dict[str, ColumnSpec] = {}
        for name, spec in (self.raw.get("columns") or {}).items():
            spec = spec or {}
            out[name] = ColumnSpec(
                name=name,
                type=str(spec.get("type", "string")),
                required=bool(spec.get("required", False)),
                max_null_fraction=(
                    float(spec["max_null_fraction"])
                    if spec.get("max_null_fraction") is not None
                    else None
                ),
            )
        return out

    @property
    def row_count_min(self) -> int:
        # default 1, matching the reference (src/data_quality_checks.py:34):
        # a contract without quality.row_count_min still fails on empty input
        return int((self.raw.get("quality") or {}).get("row_count_min", 1))

    @property
    def drift_profile_path(self) -> str:
        return (self.raw.get("drift") or {}).get(
            "profile_path", "data/metadata/reference_profile.json"
        )

    @property
    def mean_relative_tolerance(self) -> float:
        return float(
            (self.raw.get("drift") or {}).get("mean_relative_tolerance", 0.5)
        )

    def copy(self) -> "Contract":
        return Contract(raw=copy.deepcopy(self.raw))


def load_contract(path: str | Path) -> Contract:
    with open(path) as f:
        return Contract(raw=yaml.safe_load(f) or {})


def save_contract(contract: Contract, path: str | Path) -> None:
    # sort_keys=False: keep the author's key order stable across heal cycles
    # (reference behavior at src/self_healing_agent.py:119-123).  Replaced
    # atomically: a truncated contract would break every later run.
    atomic_write(path, lambda f: yaml.safe_dump(contract.raw, f, sort_keys=False))
