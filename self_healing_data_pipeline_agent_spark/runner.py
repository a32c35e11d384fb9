"""Pipeline orchestration: the composable single run and the 4-stage
self-healing demo state machine.

Reference (``/root/reference/src/pipeline_runner.py``):
- ``run_single_pipeline`` (``:48-61``): load config fresh -> ETL (writes the
  warehouse BEFORE DQ) -> DQ gate (raises ``DataQualityError`` on bad data)
  -> drift detect (never raises) -> return both reports.
- ``main`` (``:69-223``): reset env -> STEP 1 baseline on clean data
  (``success``) -> STEP 2 broken data (expected ``failed`` with
  ``DataQualityError``) -> STEP 3 heal the contract
  (``healing_actions_applied``) -> STEP 4 re-run (``healed_success`` /
  ``failed_after_healing``).  Config is reloaded from disk each stage so the
  re-run picks up the healed YAML.  Exactly one heal iteration — no loop.
"""

from __future__ import annotations

import shutil
from datetime import datetime, timezone
from pathlib import Path
from typing import Any

from pyspark.sql import SparkSession

from .contract import load_contract
from .drift import detect_and_update_drift
from .errors import DataQualityError
from .etl import run_etl
from .healing import apply_self_healing
from .incidents import log_incident
from .quality import enforce_data_quality

PIPELINE_NAME = "self_healing_pipeline"


def make_run_id(label: str) -> str:
    """O4 (reference ``:64-66``)."""
    ts = datetime.now(timezone.utc).replace(tzinfo=None).isoformat(timespec="seconds")
    return f"{label}-{ts}Z"


def reset_environment(base_dir: str | Path, contract_path: str | Path) -> None:
    """O3 (reference ``:31-45``): clear warehouse + drift profile; the
    incident log intentionally survives resets."""
    base = Path(base_dir)
    contract = load_contract(contract_path)
    shutil.rmtree(base / contract.warehouse_path, ignore_errors=True)
    profile = base / contract.drift_profile_path
    if profile.exists():
        profile.unlink()


def run_single_pipeline(
    spark: SparkSession,
    contract_path: str | Path,
    base_dir: str | Path,
    description: str = "",
) -> dict[str, Any]:
    """O1 (reference ``:48-61``): one pipeline run.  Raises
    ``DataQualityError`` on DQ failure (after the warehouse write).

    Spark work happens only inside ETL (the source scan's header read and
    the warehouse write): DQ and drift are evaluated from the stats
    observed on the write."""
    contract = load_contract(contract_path)  # reloaded fresh every run (:50)
    etl = run_etl(spark, contract, base_dir)
    # raises on failure, so only a run that passed DQ can create the baseline
    dq_report = enforce_data_quality(etl.df, contract, etl.dq_stats)
    drift_report = detect_and_update_drift(contract, base_dir, etl.profile)
    return {"dq_report": dq_report, "drift_report": drift_report}


def run_demo(
    spark: SparkSession,
    base_dir: str | Path,
    contract_path: str | Path,
    clean_source: str,
    broken_source: str,
    streaming_monitor: bool = False,
) -> list[dict[str, Any]]:
    """O2 (reference ``:69-223``): the 4-stage golden scenario.

    Returns the list of stage outcomes (mirrors the incident rows written).
    With ``streaming_monitor=True`` a fifth outcome is appended: the
    incident log re-read as a STREAM (readStream -> running counts per
    status, availableNow drain) so the golden scenario exercises the
    streaming ring end-to-end — the counters it reports must agree with
    the batch dashboard over the same log.
    """
    outcomes: list[dict[str, Any]] = []

    def record(stage: str, status: str, **kw: Any) -> None:
        run_id = make_run_id(stage)
        log_incident(
            spark,
            base_dir,
            run_id=run_id,
            pipeline_name=PIPELINE_NAME,
            description=kw.get("description", ""),
            stage=stage,
            status=status,
            error_type=kw.get("error_type"),
            error_message=kw.get("error_message"),
            issues=kw.get("issues"),
            healing_actions=kw.get("healing_actions"),
        )
        outcomes.append({"stage": stage, "status": status, **kw})

    reset_environment(base_dir, contract_path)

    # STEP 1: baseline on clean data (reference :73-107)
    contract = load_contract(contract_path)
    contract.source_path = clean_source
    from .contract import save_contract

    save_contract(contract, contract_path)
    try:
        reports = run_single_pipeline(spark, contract_path, base_dir, "baseline")
        record("baseline", "success", description="baseline run on clean data",
               issues=reports["dq_report"])
    except Exception as exc:  # noqa: BLE001 — any failure aborts the demo
        record("baseline", "failed", error_type=type(exc).__name__,
               error_message=str(exc))
        return outcomes

    # STEP 2: broken data — DQ failure expected (reference :109-164)
    contract = load_contract(contract_path)
    contract.source_path = broken_source
    save_contract(contract, contract_path)
    issue_report: dict[str, Any] | None = None
    try:
        run_single_pipeline(spark, contract_path, base_dir, "broken")
        record("drifted", "success", description="broken data unexpectedly passed")
        return outcomes
    except DataQualityError as dq_err:
        issue_report = dq_err.report
        record("drifted", "failed", error_type="DataQualityError",
               error_message=str(dq_err), issues=issue_report)
    except Exception as exc:  # noqa: BLE001
        record("drifted", "failed", error_type=type(exc).__name__,
               error_message=str(exc))
        return outcomes

    # STEP 3: heal the contract (reference :171-189)
    healing = apply_self_healing(issue_report, contract_path)
    if healing["changes"]:
        record("healing", "healing_actions_applied",
               healing_actions={"changes": healing["changes"]})
    else:
        record("healing", "no_changes")
        return outcomes

    # STEP 4: re-run with the healed contract (reference :191-223)
    try:
        reports = run_single_pipeline(spark, contract_path, base_dir, "post_healing")
        record("post_healing", "healed_success", issues=reports["dq_report"])
    except Exception as exc:  # noqa: BLE001
        record("post_healing", "failed_after_healing",
               error_type=type(exc).__name__, error_message=str(exc))

    if streaming_monitor:
        from .streaming.events import streaming_incident_metrics

        counts = {
            r["status"]: r["n"]
            for r in streaming_incident_metrics(spark, base_dir).collect()
        }
        outcomes.append(
            {"stage": "streaming_monitor", "status": "success",
             "incident_counts": counts}
        )
    return outcomes


# --- CLI entry point: `python -m self_healing_data_pipeline_agent_spark.runner` -------------------------------

DEMO_CLEAN_CSV = """customer_id,name,age,country
1,Alice,25,US
2,Bob,31,UK
3,Charlie,29,IN
4,Dana,42,US
"""

# age: empty for rows 2 & 4, non-numeric for row 3 -> 3/5 nulls after coercion
DEMO_BROKEN_CSV = """customer_id,name,age,country
1,Alice,25,US
2,Bob,,UK
3,Charlie,thirty,IN
4,Dana,,US
5,Evan,28,FR
"""

DEMO_CONTRACT = """table_name: customers
source_path: data/raw/customers_v1.csv
warehouse_path: data/warehouse
columns:
  customer_id:
    type: int
    required: true
  name:
    type: string
    required: true
  age:
    type: int
    required: false
    max_null_fraction: 0.2
  country:
    type: string
    required: false
quality:
  row_count_min: 3
drift:
  profile_path: data/metadata/reference_profile.json
  mean_relative_tolerance: 0.5
"""


def bootstrap_demo_workspace(base_dir: str | Path) -> Path:
    """Create a self-contained demo workspace (clean CSV, broken CSV,
    contract) mirroring the reference's fixture shapes."""
    base = Path(base_dir)
    (base / "data" / "raw").mkdir(parents=True, exist_ok=True)
    (base / "config").mkdir(parents=True, exist_ok=True)
    (base / "data" / "raw" / "customers_v1.csv").write_text(DEMO_CLEAN_CSV)
    (base / "data" / "raw" / "customers_v2_broken.csv").write_text(DEMO_BROKEN_CSV)
    cfg = base / "config" / "pipeline_config.yml"
    cfg.write_text(DEMO_CONTRACT)
    return cfg


def main() -> None:
    """4-stage demo, reference entry-point parity
    (``python -m src.pipeline_runner`` -> ``python -m self_healing_data_pipeline_agent_spark.runner``)."""
    import sys
    import tempfile

    from .dashboard import status_metrics
    from .incidents import load_incidents
    from .session import get_spark

    base = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="spark_graft_demo_")
    cfg = bootstrap_demo_workspace(base)
    spark = get_spark(app_name="self-healing-demo", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    outcomes = run_demo(
        spark, base, cfg,
        clean_source="data/raw/customers_v1.csv",
        broken_source="data/raw/customers_v2_broken.csv",
        streaming_monitor=True,
    )
    print(f"\nworkspace: {base}")
    for o in outcomes:
        extra = f"  {o['incident_counts']}" if "incident_counts" in o else ""
        print(f"  {o['stage']:>17}: {o['status']}{extra}")
    incidents = load_incidents(spark, base)
    print("incident metrics:", status_metrics(incidents))
    spark.stop()


if __name__ == "__main__":
    main()
