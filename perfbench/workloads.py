"""The benchmark workloads, driven through the package's public functions.

- ``ingest_heal``: one pipeline pushes a stream of CSV batches through
  ``runner.run_single_pipeline``; a batch that fails the DQ gate goes
  through ``healing.apply_self_healing`` and is re-run; every stage is
  appended with ``incidents.log_incident``; after each batch the
  dashboard refreshes over the growing incident log.
- ``ann_serve``: one closed-loop client; requests come in rounds that
  serve each of ``SERVE_OPS`` once, in a seeded order, over indexes built
  during set-up.

Every run is: seeded inputs (untimed) -> set-up (session start, warm-up,
index builds; this is ``setup_s``) -> a measured window.  Output checks
are left out of the window: serve results are compared after it closes;
an ingest batch is checked as soon as it lands (the next batch replaces
the warehouse), and that check time is taken out of the window.
An untraced run starts new batch cycles or serve rounds for ``seconds``
and lets the last one finish.  A traced run processes a fixed quota
instead (one cycle of ingest batches, two serve rounds), so its counters
repeat; its per-layer figures are per quota, except ``session.*``, which
covers set-up.
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path
from time import perf_counter
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq
import yaml

import env
import gen
import spans as sp
from checks import Oracle
from self_healing_data_pipeline_agent_spark import dashboard, etl, healing, incidents, runner
from self_healing_data_pipeline_agent_spark.errors import DataQualityError
from self_healing_data_pipeline_agent_spark.registry import all_oracles, all_queries
from self_healing_data_pipeline_agent_spark.sources import index_store, tables

PKG = "self_healing_data_pipeline_agent_spark"
SPANS_DIR = ".perfbench_spans"  # a traced run's spans, beside the work directory

# Input sizes: a 20k-row ingest batch (1.6 MB of CSV) and a corpus of
# 1000 documents, 500 embeddings and 15k orders.  Both are below TPC-H
# sf0.1 (600k lineitem rows; 5000 / 2000 / 150k) so that one run stays near
# a minute on a shared 4-core machine: with 137k-row batches, an
# sf0.1-sized corpus and 20 s windows, runs took 45-55 s when the machine
# was quiet and 85-114 s when it was contended.  At this size Spark's fixed
# per-job cost dominates: a clean batch takes 0.96 s at 20k rows, 1.16 s at
# 100k and 1.53 s at 300k, so scanning the batch is about 5% of its latency
# here against about 40% at 300k rows, and a change that saves re-scans
# moves batch latency far less than it would at sf0.1.
INGEST_ROWS = 20_000
PREGEN_BATCHES = len(gen.CYCLE)  # later batches are written inside the window, untimed
HISTORY_ROWS = 50
CORPUS = {"n_docs": 1000, "n_vecs": 500, "n_orders": 15_000}
# Six index-backed serve queries plus one sketch profile over the same corpus.
SERVE_OPS = ("ann_ivf_kmeans_serve", "ann_pq_serve", "ann_lsh_serve",
             "embedding_near_dup_serve", "semantic_dedup_serve", "minhash_lsh_serve",
             "one_pass_profile")
SERVE_TRACE_ROUNDS = 2
# Tail percentile per workload, recorded in BENCHMARK.json.  A 5 s run on
# a 4-core machine completes one 8-batch ingest cycle and one or two
# 7-request serve rounds.  Three batches of each cycle heal and re-run and
# are the slowest; p90 of a cycle falls between its two slowest, so the
# ingest tail is the heal path's latency and the median is the single-run
# path's.  Serve's p60 has 2 to 5 requests beyond it.
TAIL_PCT = {"ingest_heal": 90, "ann_serve": 60}


def op_metrics(name: str, lat: list[float], elapsed: float) -> dict[str, float]:
    """End-to-end figures over the operations (ingest batches or serve
    requests) that completed in the window."""
    return {
        "latency_p50_ms": 1000 * statistics.median(lat),
        "latency_tail_ms": 1000 * float(np.percentile(lat, TAIL_PCT[name])),
        "throughput_per_s": len(lat) / elapsed,
    }


class Run:
    """State shared by one benchmark run."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool, work: Path) -> None:
        self.name, self.seed, self.seconds, self.trace = name, seed, seconds, trace
        self.work = work
        self.spans_path = work.parents[1] / SPANS_DIR / f"{name}-seed{seed}.jsonl"
        self.tracer = sp.Tracer() if trace else sp.NullTracer()
        self.failures: list[str] = []
        self.attempted = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def start(self) -> None:
        """Session start; the set-up clock starts here."""
        self.t_setup = perf_counter()
        if self.trace:
            install_patches(self.tracer, self.work / "indexes")
        self.session = env.Session(self.work, self.tracer)
        self.spark = self.session.spark
        if self.trace:
            self.sampler = env.RssSampler(self.session.jvm_pid)
            self.tracer.sc = self.spark.sparkContext

    def window(self) -> None:
        """Set-up is over; the measured window starts."""
        self.t_window = perf_counter()
        self.setup_s = self.t_window - self.t_setup
        self.own_s_setup = self.tracer.own_s  # tracer bookkeeping during set-up

    def finish(self) -> float:
        """End the run; a traced run returns its peak RSS in MB (the
        sampler reads /proc ten times a second, so only traced runs pay)."""
        peak = 0.0
        if self.trace:
            peak = self.sampler.stop()
            self.tracer.collect_spark()
            self.tracer.unpatch_all()
            self.tracer.dump(self.spans_path, self.t_setup)
        self.session.stop()
        return peak


# --- tracing hooks -------------------------------------------------------------

def install_patches(tracer: sp.Tracer, store: Path) -> None:
    """Rebind every inter-layer call the workloads reach to a span wrapper,
    in the module where the caller looks the name up."""
    from self_healing_data_pipeline_agent_spark import contract

    for name, layer in (("load_contract", "contract"), ("run_etl", "etl"),
                        ("enforce_data_quality", "quality"),
                        ("detect_and_update_drift", "drift")):
        tracer.patch(runner, name, layer)
    tracer.patch(etl, "read_source", "etl")
    tracer.patch(etl, "write_warehouse", "etl")
    tracer.patch(healing, "load_contract", "contract")
    tracer.patch(healing, "save_contract", "contract")
    ensure = {getattr(index_store, n) for n in dir(index_store) if n.startswith("ensure_")}
    hook = sp.index_store_builds(store, tracer)
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith(PKG + ".") or mod in (tables, contract):
            continue
        for attr, val in list(vars(mod).items()):
            if val is tables.load_table:
                tracer.patch(mod, attr, "sources.tables")
            elif callable(val) and val in ensure and mod is not index_store:
                tracer.patch(mod, attr, "sources.index_store", around=hook)


def query_layer(fn: Callable) -> str:
    return fn.__module__.removeprefix(PKG + ".")


def per_layer(run: Run, units: float, unit_latencies: list[float],
              peak_rss_mb: float) -> dict[str, float]:
    tracer: sp.Tracer = run.tracer
    setup = [s for s in tracer.spans if s.t0 < run.t_window]
    window = [s for s in tracer.spans if s.t0 >= run.t_window]
    out = sp.layer_metrics(window, units)
    out.update({k: v for k, v in sp.layer_metrics(setup, 1.0).items() if k.startswith("session.")})

    pipeline_bytes = sum(s.tags.get("source_bytes", 0) for s in window)
    scanned = sum(s.spark.get("input_mb", 0.0) for s in window
                  if s.layer in ("etl", "quality", "drift"))
    out["etl.source_mb"] = pipeline_bytes / sp.MB / units
    out["etl.source_scans_per_batch"] = scanned * sp.MB / pipeline_bytes if pipeline_bytes else 0.0

    heals = [s for s in window if s.layer == "healing"]
    applied = sum(1 for s in heals if s.tags.get("changes"))
    recovered = sum(1 for s in heals if s.tags.get("recovered"))
    out["healing.heals_applied"] = applied / units
    out["healing.recovered_ratio"] = recovered / applied if applied else 0.0

    ensures = [s for s in window if s.layer == "sources.index_store"]
    out["sources.index_store.ensure_calls"] = len(ensures) / units
    out["sources.index_store.hit_ratio"] = (
        sum(1 for s in ensures if not s.tags.get("built")) / len(ensures) if ensures else 0.0)

    appends = [s for s in window if s.layer == "incidents" and s.op == "append"]
    out["incidents.append.calls"] = len(appends) / units
    out["incidents.append.busy_s"] = sum(s.dur for s in appends) / units
    out["incidents.files"] = len(list(run.work.glob("ingest/data/metadata/incidents/*.parquet")))

    out["ingest.heal_recovery_p50_s"] = out["ingest.dashboard_p50_ms"] = 0.0  # set by ingest_heal

    out["session.peak_rss_mb"] = peak_rss_mb

    top = sum(s.dur for s in window if s.parent == 0)
    out["trace.overhead_frac"] = (tracer.own_s - run.own_s_setup) / top if top else 0.0
    out["trace.unit_p50_s"] = statistics.median(unit_latencies) if unit_latencies else 0.0
    return out


# --- ingest_heal ---------------------------------------------------------------

class Pipeline:
    """The pipeline workspace (contract, warehouse, incident log) and the
    benchmark's view of what it has logged."""

    def __init__(self, run: Run, g: gen.IngestGenerator) -> None:
        self.run, self.g = run, g
        self.ws = run.work / "ingest"
        self.raw = self.ws / "raw"
        self.cfg = self.ws / "contract.yml"
        self.logged = 0
        self.last_run_id = ""
        self.last_status = ""

    def log(self, index: int, stage: str, status: str, **kw: Any) -> None:
        run_id = f"{stage}-b{index:06d}"
        with self.run.tracer.span("incidents", "append"):
            incidents.log_incident(
                self.run.spark, self.ws, run_id=run_id, pipeline_name=runner.PIPELINE_NAME,
                description=kw.pop("description", ""), stage=stage, status=status, **kw)
        self.logged += 1
        self.last_run_id, self.last_status = run_id, status

    def pipeline(self, batch: gen.Batch) -> dict[str, Any]:
        tracer = self.run.tracer
        with tracer.span("runner", "run_single_pipeline") as s:
            if s is not None:
                s.tags["source_bytes"] = batch.size_bytes
            return runner.run_single_pipeline(self.run.spark, self.cfg, self.ws, batch.kind)

    def process(self, batch: gen.Batch) -> dict[str, Any]:
        """One batch through the self-healing loop, as ``runner.run_demo``
        stages it.  Returns what the checks need and the latency."""
        contract = dict(self.g.contract, source_path=str(batch.path.relative_to(self.ws)))
        self.cfg.write_text(yaml.safe_dump(contract, sort_keys=False))
        rec: dict[str, Any] = {"report": None, "actions": [], "drift": None}
        t0 = perf_counter()
        i = batch.index
        try:
            reports = self.pipeline(batch)
            self.log(i, "ingest", "success", issues=reports["dq_report"])
            rec["status"], rec["drift"] = "success", reports["drift_report"]
        except DataQualityError as err:
            rec["report"] = err.report
            self.log(i, "ingest", "failed", error_type="DataQualityError",
                     error_message=str(err), issues=err.report)
            with self.run.tracer.span("healing", "apply_self_healing") as hs:
                healed = healing.apply_self_healing(err.report, self.cfg)
            rec["actions"] = healed["changes"]
            if hs is not None:
                hs.tags["changes"] = bool(healed["changes"])
            if not healed["changes"]:
                self.log(i, "healing", "no_changes")
                rec["status"] = "no_changes"
            else:
                self.log(i, "healing", "healing_actions_applied",
                         healing_actions={"changes": healed["changes"]})
                try:
                    reports = self.pipeline(batch)
                    self.log(i, "post_healing", "healed_success", issues=reports["dq_report"])
                    rec["status"], rec["drift"] = "healed_success", reports["drift_report"]
                    if hs is not None:
                        hs.tags["recovered"] = True
                except DataQualityError as err2:
                    self.log(i, "post_healing", "failed_after_healing",
                             error_type="DataQualityError", error_message=str(err2))
                    rec["status"] = "failed_after_healing"
        rec["latency"] = perf_counter() - t0
        return rec

    def refresh_dashboard(self) -> tuple[float, tuple[dict, list, Any]]:
        """The dashboard's three reads; returns their time and results."""
        tracer = self.run.tracer
        t0 = perf_counter()
        with tracer.span("incidents", "load"):
            inc = incidents.load_incidents(self.run.spark, self.ws)
        with tracer.span("dashboard", "status_metrics"):
            counts = dashboard.status_metrics(inc)
        with tracer.span("dashboard", "run_history"):
            history = dashboard.run_history(inc).limit(HISTORY_ROWS).collect()
        with tracer.span("dashboard", "get_run"):
            row = dashboard.get_run(inc, self.last_run_id)
        return perf_counter() - t0, (counts, history, row)

    def check_dashboard(self, view: tuple[dict, list, Any]) -> str | None:
        counts, history, row = view
        ids = [r["run_id"] for r in history]
        if counts["total"] != self.logged:
            return f"dashboard: total {counts['total']} != {self.logged} logged"
        if len(ids) != min(HISTORY_ROWS, self.logged) or ids != sorted(ids, reverse=True):
            return "dashboard: run history not the newest-first log"
        if row is None or row["status"] != self.last_status:
            return f"dashboard: get_run({self.last_run_id}) wrong"
        return None

    def check(self, batch: gen.Batch, rec: dict[str, Any]) -> str | None:
        exp = batch.expected
        report = rec["report"]
        got = {
            "failed_checks": sorted(((c["check"], c["column"]) for c in report["failed_checks"]),
                                    key=str) if report else [],
            "actions": sorted(((a["action"], a["column"]) for a in rec["actions"]), key=str),
            "status": rec["status"],
            "drifted": sorted(rec["drift"]["drifted_columns"]) if rec["drift"] else [],
        }
        table = self.ws / self.g.contract["warehouse_path"] / self.g.contract["table_name"]
        got["landed_rows"] = sum(pq.read_metadata(f).num_rows for f in table.glob("*.parquet"))
        bad = [k for k in got if got[k] != exp[k]]
        if bad:
            return (f"batch {batch.index} ({batch.kind}): "
                    + "; ".join(f"{k} {got[k]} != expected {exp[k]}" for k in bad))
        return None


def ingest_heal(run: Run) -> dict[str, Any]:
    g = gen.IngestGenerator(run.seed, INGEST_ROWS)
    p = Pipeline(run, g)
    # Warm-up: the baseline batch, the heal-and-re-run path, then two clean
    # batches (the first clean batches after a heal still ran ~25% slow).
    warm = [g.warmup_batch(p.raw)] + [
        g.warm_batch(n, kind, p.raw) for n, kind in enumerate(("undersized", "clean", "clean"))]
    quota = len(gen.CYCLE) if run.trace else None
    # Written before set-up, so the window times the pipeline, not the generator.
    ready = [g.batch(i, p.raw) for i in range(quota or PREGEN_BATCHES)]

    run.start()
    for batch in warm:  # the first batch also writes the drift baseline
        p.process(batch)
        p.refresh_dashboard()
    run.window()

    deadline = run.t_window + run.seconds
    lat: list[float] = []
    heal: list[float] = []
    dash: list[float] = []
    untimed = 0.0  # output checks, and batches generated late, inside the window
    i = 0
    # Whole cycles only: a partial cycle would shift the mix of batch kinds,
    # and with it the percentiles, with the machine's speed.
    while (i < quota) if quota is not None else (
            i % len(gen.CYCLE) or perf_counter() - untimed < deadline):
        t0 = perf_counter()
        batch = ready[i] if i < len(ready) else g.batch(i, p.raw)
        untimed += perf_counter() - t0
        i += 1
        run.attempted += 1
        try:
            rec = p.process(batch)
            took, view = p.refresh_dashboard()
        except Exception as exc:  # noqa: BLE001 - a failed batch is counted, the loop goes on
            run.fail(f"batch {batch.index} ({batch.kind}): {type(exc).__name__}: {exc}")
            continue
        t0 = perf_counter()
        why = p.check(batch, rec) or p.check_dashboard(view)
        untimed += perf_counter() - t0
        if why:
            run.fail(why)
        lat.append(rec["latency"])
        dash.append(took)
        if rec["status"] == "healed_success":
            heal.append(rec["latency"])
    elapsed = perf_counter() - run.t_window - untimed

    peak = run.finish()
    if not run.trace:
        return op_metrics(run.name, lat, elapsed)
    out = per_layer(run, 1.0, lat, peak)
    out["ingest.heal_recovery_p50_s"] = statistics.median(heal) if heal else 0.0
    out["ingest.dashboard_p50_ms"] = 1000 * statistics.median(dash) if dash else 0.0
    return out


# --- ann_serve --------------------------------------------------------------------

def ann_serve(run: Run) -> dict[str, Any]:
    corpus = run.work / "corpus"
    gen.write_corpus(run.seed, corpus, **CORPUS)
    oracle = Oracle(corpus, all_oracles())
    queries = all_queries()
    for name in SERVE_OPS:  # oracle answers are computed before set-up starts
        oracle.expect(name)
    src = str(corpus)

    def serve(name: str) -> tuple[list[str], list[tuple]]:
        fn = queries[name]
        with run.tracer.span(query_layer(fn), name):
            df = fn(run.spark, src)
            return df.columns, [tuple(r) for r in df.collect()]

    run.start()
    for name in SERVE_OPS:  # warm-up; builds every index
        serve(name)
    run.window()

    rng = np.random.default_rng([run.seed, 20])
    deadline = run.t_window + run.seconds
    lat: list[float] = []
    results: list[tuple[str, list[str], list[tuple]]] = []
    rounds = 0
    quota = SERVE_TRACE_ROUNDS if run.trace else None
    while (rounds < quota) if quota is not None else (perf_counter() < deadline):
        for j in rng.permutation(len(SERVE_OPS)):  # whole rounds: every query equally often
            name = SERVE_OPS[j]
            run.attempted += 1
            t0 = perf_counter()
            try:
                results.append((name, *serve(name)))
            except Exception as exc:  # noqa: BLE001 - a failed request is counted, the loop goes on
                run.fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            lat.append(perf_counter() - t0)
        rounds += 1
    elapsed = perf_counter() - run.t_window
    for name, columns, rows in results:
        why = oracle.mismatch(name, columns, rows)
        if why:
            run.fail(why)
    oracle.close()

    peak = run.finish()
    if run.trace:
        return per_layer(run, float(rounds), lat, peak)
    return op_metrics(run.name, lat, elapsed)


def run(name: str, seed: int, seconds: float, trace: bool, work: Path) -> dict[str, Any]:
    """One benchmark run; metric values are bare numbers, units come from
    BENCHMARK.json."""
    r = Run(name, seed, seconds, trace, work)
    metrics = ingest_heal(r) if name == "ingest_heal" else ann_serve(r)
    if not trace:
        metrics["setup_s"] = r.setup_s
        metrics["ok_frac"] = 1.0 - len(r.failures) / max(1, r.attempted)
    return {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": metrics,
        "failures": r.failures,
    }

