"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same CSV batches and the same corpus parquet files.  The data is shaped
like the package's TPC-H-style testdata (a denormalized lineitem/orders
row for ingest; documents/embeddings/orders for the corpus) but is
synthesised from the seed, so the benchmark needs nothing outside its
checkout.

Ingest batches follow the fixed kind cycle ``CYCLE``; the seed sets every
per-batch parameter (rows sampled, damaged column, damage fraction,
shift factor, undersize share).  A fixed cycle keeps the mix, and so the
latency distribution, the same across seeds.  For each batch the generator also derives the
expected outcome from the contract rules, independently of the package.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- ingest ---------------------------------------------------------------

CYCLE = (  # 5 batches take one pipeline run, 3 heal and re-run
    "clean", "null_breach", "clean", "mean_shift", "undersized", "clean",
    "missing_column", "clean",
)

INT_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
FLOAT_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax", "o_totalprice")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
CSV_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "o_orderstatus", "o_totalprice", "o_orderpriority",
)
NUMERIC_COLS = tuple(c for c in CSV_COLS if c in INT_COLS or c in FLOAT_COLS)
TOLERANT_COLS = ("l_quantity", "l_extendedprice", "l_discount", "o_totalprice")
BASE_MAX_NULL = 0.02
DRIFT_TOLERANCE = 0.5
ROW_COUNT_MIN_SHARE = 0.5

# The healing rules' constants, restated from the contract semantics
# (raise tolerance by a step, to at least observed + margin, capped).
HEAL_STEP, HEAL_MARGIN, HEAL_CAP = 0.2, 0.05, 0.8


def contract_dict(batch_rows: int) -> dict[str, Any]:
    """The pristine contract every batch starts from."""
    columns: dict[str, Any] = {}
    for c in CSV_COLS:
        spec: dict[str, Any] = {
            "type": "int" if c in INT_COLS else "float" if c in FLOAT_COLS else "string",
            "required": c in ("l_orderkey", "l_linenumber"),
        }
        if c in TOLERANT_COLS:
            spec["max_null_fraction"] = BASE_MAX_NULL
        columns[c] = spec
    return {
        "table_name": "lineitem_orders",
        "source_path": "raw/batch.csv",
        "warehouse_path": "warehouse",
        "columns": columns,
        "quality": {"row_count_min": int(batch_rows * ROW_COUNT_MIN_SHARE)},
        "drift": {
            "profile_path": "metadata/reference_profile.json",
            "mean_relative_tolerance": DRIFT_TOLERANCE,
        },
    }


@dataclass
class Batch:
    index: int
    kind: str
    path: Path
    rows: int
    size_bytes: int
    expected: dict[str, Any] = field(default_factory=dict)


class IngestGenerator:
    """Writes CSV batches sampled from a seeded pool of ``pool_rows``
    lineitem/orders rows; ``batch(i)`` is deterministic in (seed, i)."""

    def __init__(self, seed: int, batch_rows: int, pool_rows: int = 60_000):
        self.seed = seed
        self.batch_rows = batch_rows
        rng = np.random.default_rng([seed, 1])
        n = pool_rows
        nums = {
            "l_orderkey": rng.integers(0, 150_000, n),
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n), 2),
        }
        days = rng.integers(0, 2_500, n)
        strs = {
            "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n),
            "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n),
            "l_shipdate": (np.datetime64("1995-01-01") + days).astype(str).astype(object),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), n),
            "o_orderpriority": rng.choice(np.array(PRIORITIES, dtype=object), n),
        }
        self.nums = nums
        self.text = {c: self._fmt(c, nums[c]) for c in nums}
        self.text.update(strs)
        self.contract = contract_dict(batch_rows)
        self.baseline: dict[str, float] = {}

    @staticmethod
    def _fmt(col: str, v: np.ndarray) -> np.ndarray:
        if col in INT_COLS:
            return v.astype(np.int64).astype(str).astype(object)
        return np.char.mod("%.2f", v).astype(object)

    def warmup_batch(self, out_dir: Path) -> Batch:
        """A clean batch whose profile becomes the drift baseline."""
        batch = self._make(-1, out_dir / "warmup.csv", "clean", [2], baseline=None)
        self.baseline = batch.expected.pop("means")
        return batch

    def warm_batch(self, n: int, kind: str, out_dir: Path) -> Batch:
        """Set-up batch ``n`` after the baseline one (negative indices)."""
        return self._make(-2 - n, out_dir / f"warm_{n}.csv", kind, [5, n],
                          baseline=self.baseline)

    def batch(self, i: int, out_dir: Path) -> Batch:
        """Batch ``i``; its kind is ``CYCLE[i % len(CYCLE)]``."""
        kind = CYCLE[i % len(CYCLE)]
        return self._make(i, out_dir / f"batch_{i:06d}.csv", kind, [4, i],
                          baseline=self.baseline)

    def _make(self, index: int, path: Path, kind: str, key: list[int],
              baseline: dict[str, float] | None) -> Batch:
        rng = np.random.default_rng([self.seed, *key])
        rows = self.batch_rows
        if kind == "undersized":
            rows = int(self.batch_rows * rng.uniform(0.1, 0.3))
        idx = rng.integers(0, len(self.nums["l_orderkey"]), rows)
        text = {c: self.text[c][idx].copy() for c in CSV_COLS}
        nums = {c: self.nums[c][idx].astype(np.float64) for c in NUMERIC_COLS}
        cols = list(CSV_COLS)
        if kind == "mean_shift":
            column = str(rng.choice(TOLERANT_COLS))
            nums[column] = np.round(nums[column] * rng.uniform(2.0, 3.0), 2)
            text[column] = self._fmt(column, nums[column])
        elif kind == "null_breach":
            # Half the damaged cells are empty, half non-numeric; ETL reads
            # both as NULL.
            column = str(rng.choice(TOLERANT_COLS))
            hit = rng.random(rows) < rng.uniform(0.10, 0.30)
            text[column][hit] = np.where(rng.random(int(hit.sum())) < 0.5, "", "n/a")
            nums[column][hit] = np.nan
        elif kind == "missing_column":
            cols.remove("l_linenumber")
            del nums["l_linenumber"]
        path.parent.mkdir(parents=True, exist_ok=True)
        pd.DataFrame({c: text[c] for c in cols}).to_csv(path, index=False)
        if baseline is None:
            expected = {"means": {c: float(np.nanmean(v)) for c, v in nums.items()}}
        else:
            expected = self._expect(cols, rows, nums, baseline)
        return Batch(index, kind, path, rows, path.stat().st_size, expected)

    def _expect(self, cols: list[str], rows: int, nums: dict[str, np.ndarray],
                baseline: dict[str, float]) -> dict[str, Any]:
        """Apply the contract's DQ, healing and drift rules to the batch."""
        checks: list[tuple[str, str | None]] = []
        actions: list[tuple[str, str | None]] = []
        spec = self.contract["columns"]
        row_min = self.contract["quality"]["row_count_min"]
        null_frac = {c: float(np.isnan(v).mean()) if rows else 0.0 for c, v in nums.items()}
        if rows < row_min:
            checks.append(("row_count", None))
            actions.append(("lower_row_count_min", None))
        for c in CSV_COLS:
            if c not in cols:
                checks.append(("missing_column", c))
                if spec[c]["required"]:
                    actions.append(("soften_required", c))
                continue
            frac = null_frac.get(c, 0.0)
            if spec[c]["required"] and frac > 0:
                checks.append(("required_nulls", c))
            tol = spec[c].get("max_null_fraction")
            if tol is not None and frac > tol:
                checks.append(("max_null_fraction", c))
                new = min(HEAL_CAP, max(tol + HEAL_STEP, frac + HEAL_MARGIN))
                if new != tol:
                    actions.append(("raise_null_tolerance", c))
        if not checks:
            status = "success"
        elif not actions:
            status = "no_changes"
        elif any(k in ("missing_column", "required_nulls") for k, _ in checks):
            # neither failure is cleared by a contract rewrite
            status = "failed_after_healing"
        else:
            status = "healed_success"
        drifted: list[str] = []
        if status in ("success", "healed_success"):
            for c, base in baseline.items():
                if c not in nums or base == 0 or np.isnan(nums[c]).all():
                    continue
                cur = float(np.nanmean(nums[c]))
                if abs(cur - base) / abs(base) > DRIFT_TOLERANCE:
                    drifted.append(c)
        return {
            "failed_checks": sorted(checks, key=str),
            "actions": sorted(actions, key=str),
            "status": status,
            "drifted": sorted(drifted),
            "landed_rows": rows,
        }


# --- corpus ---------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIM = 64
DUP_SHARE = 0.03


def write_corpus(seed: int, out_dir: Path, n_docs: int, n_vecs: int, n_orders: int) -> dict[str, int]:
    """Write documents / embeddings / orders parquet under ``out_dir`` with
    injected exact and near duplicates (docs and vectors)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 10])

    texts = []
    for _ in range(n_docs):
        words = rng.choice(VOCAB, int(rng.integers(10, 101)))
        if rng.random() < 0.05:
            words = np.append(words, "dup")
        texts.append(" ".join(words))
    n_dup = int(n_docs * DUP_SHARE)
    for tgt in rng.choice(np.arange(n_docs // 2, n_docs), 2 * n_dup, replace=False)[:n_dup]:
        texts[tgt] = texts[int(rng.integers(0, n_docs // 2))]
    for tgt in rng.choice(np.arange(n_docs // 2, n_docs), n_dup, replace=False):
        words = texts[int(rng.integers(0, n_docs // 2))].split()
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts[tgt] = " ".join(words)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, out_dir / "documents.parquet")

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = rng.normal(size=(n_vecs, EMB_DIM)) + 0.3 * centers[labels]
    n_vdup = int(n_vecs * DUP_SHARE)
    for tgt in rng.choice(np.arange(n_vecs // 2, n_vecs), n_vdup, replace=False):
        src = int(rng.integers(0, n_vecs // 2))
        vecs[tgt] = vecs[src] + rng.normal(scale=0.05, size=EMB_DIM)
        labels[tgt] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vecs + 1) * EMB_DIM, EMB_DIM), pa.int32()), flat),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, out_dir / "embeddings.parquet")

    base = np.datetime64("1995-01-01T00:00:00", "us")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_orders), 2), pa.float64()),
        "o_orderdate": pa.array(
            base + rng.integers(0, 2_400, n_orders).astype("timedelta64[D]"),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders), pa.string()),
    })
    pq.write_table(orders, out_dir / "orders.parquet")
    return {"docs": n_docs, "vecs": n_vecs, "orders": n_orders}
