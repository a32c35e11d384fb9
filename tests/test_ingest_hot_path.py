"""The ingest hot path: DQ stats and drift profiles observed on the
warehouse write (one Spark pass per run), the Spark-free incident append,
and crash-safe contract / profile writes."""

from __future__ import annotations

import concurrent.futures
import functools
import json
import sys
import threading
import uuid
from pathlib import Path

import pytest
import yaml

from self_healing_data_pipeline_agent_spark import drift, etl, runner
from self_healing_data_pipeline_agent_spark.contract import (
    Contract,
    load_contract,
    save_contract,
)
from self_healing_data_pipeline_agent_spark.dashboard import status_metrics
from self_healing_data_pipeline_agent_spark.drift import build_profile
from self_healing_data_pipeline_agent_spark.errors import DataQualityError
from self_healing_data_pipeline_agent_spark.incidents import (
    incidents_path,
    load_incidents,
    log_incident,
)
from self_healing_data_pipeline_agent_spark.quality import collect_dq_stats
from self_healing_data_pipeline_agent_spark.streaming.events import (
    streaming_incident_metrics,
)

HEADER = "customer_id,name,age,country\n"
INPUTS = {
    "clean": HEADER + "1,Asha,25,India\n2,Boris,31,USA\n3,Carmen,29,UK\n4,Devi,42,India\n",
    # age: two empty cells and one non-numeric cell -> 3/5 NULL after the cast
    "null_breach": HEADER + "1,Asha,25,India\n2,Boris,,USA\n3,Carmen,twentynine,UK\n"
                            "4,Devi,42,India\n5,Elio,,Canada\n",
    "missing_column": "customer_id,name,country\n1,Asha,India\n2,Boris,USA\n3,Carmen,UK\n",
    "header_only": HEADER,
}
LAYOUTS = {
    "plain": {},
    "partition_by": {"partition_by": ["country"]},
    "cluster_by_list": {"cluster_by": ["customer_id"]},
    "cluster_by_dict": {"cluster_by": {"columns": ["customer_id"], "partitions": 2}},
    "bucket_by": {"bucket_by": {"column": "customer_id", "buckets": 2}},
}
COLUMNS = {
    "customer_id": {"type": "int", "required": True},
    "name": {"type": "string", "required": True},
    "age": {"type": "int", "max_null_fraction": 0.2},
    "country": {"type": "string"},
}
WAIT_S = 120  # a hung Observation.get fails the test instead of stalling the suite


def within(seconds: float, fn, *args):
    """``fn(*args)`` on a daemon thread; TimeoutError if it has not
    returned within ``seconds``."""
    fut: concurrent.futures.Future = concurrent.futures.Future()

    def work() -> None:
        try:
            fut.set_result(fn(*args))
        except BaseException as exc:  # noqa: BLE001 - re-raised by fut.result
            fut.set_exception(exc)

    threading.Thread(target=work, daemon=True).start()
    return fut.result(timeout=seconds)


def flat(profile: dict) -> dict:
    return {(c, k): v for c, stats in profile["columns"].items() for k, v in stats.items()}


def write_source(base: Path, text: str) -> str:
    raw = base / "data" / "raw"
    raw.mkdir(parents=True, exist_ok=True)
    (raw / "batch.csv").write_text(text)
    return "data/raw/batch.csv"


@pytest.mark.parametrize("layout", LAYOUTS)
@pytest.mark.parametrize("kind", INPUTS)
def test_observed_stats_match_df_agg(spark, tmp_path, kind, layout):
    """The stats observed on the warehouse write equal the df-based
    reference (collect_dq_stats + build_profile) on every input kind and
    every warehouse layout: observed last, range-bounds sampling and the
    writer's sorts neither double-count nor hang."""
    table = f"observed_{kind}_{layout}"
    contract = Contract(raw={
        "table_name": table,
        "warehouse_path": "wh",
        "source_path": write_source(tmp_path, INPUTS[kind]),
        "columns": COLUMNS,
        **LAYOUTS[layout],
    })
    try:
        res = within(WAIT_S, etl.run_etl, spark, contract, tmp_path)
        assert res.dq_stats == collect_dq_stats(res.df, contract)
        # cluster_by changes the partitioning, so the partial aggregates
        # merge in another order: compare floats to a double's precision
        expected = flat(build_profile(res.df))
        assert flat(res.profile) == pytest.approx(expected, rel=1e-12)
        assert res.dq_stats["row_count"] == INPUTS[kind].count("\n") - 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def job_ids(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def in_group(spark, group: str, fn):
    """``fn`` wrapped so its Spark jobs run in job group ``group``; the
    caller's group is restored afterwards."""
    sc = spark.sparkContext

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            return fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
    return wrapper


def test_pipeline_launches_only_the_warehouse_write(spark, tmp_path, monkeypatch):
    """A pipeline run's Spark jobs all come from ETL (the source header
    read and the warehouse write); the DQ gate and drift detection launch
    none, on the baseline-creating run, the comparing run and a DQ
    failure alike."""
    tag = uuid.uuid4().hex[:8]
    groups = {name: f"{name}-{tag}" for name in ("run", "write", "dq", "drift")}
    monkeypatch.setattr(etl, "write_warehouse",
                        in_group(spark, groups["write"], etl.write_warehouse))
    monkeypatch.setattr(runner, "enforce_data_quality",
                        in_group(spark, groups["dq"], runner.enforce_data_quality))
    monkeypatch.setattr(runner, "detect_and_update_drift",
                        in_group(spark, groups["drift"], runner.detect_and_update_drift))
    run = in_group(spark, groups["run"], runner.run_single_pipeline)

    cfg = tmp_path / "contract.yml"
    contract = {"table_name": "customers", "warehouse_path": "wh", "columns": COLUMNS,
                "drift": {"profile_path": "profile.json"}}
    for n, kind in enumerate(("clean", "clean", "null_breach")):
        contract["source_path"] = write_source(tmp_path / kind, INPUTS[kind])
        cfg.write_text(yaml.safe_dump(contract))
        if kind == "null_breach":
            with pytest.raises(DataQualityError):
                run(spark, cfg, tmp_path / kind)
        else:
            run(spark, cfg, tmp_path / kind)
        assert len(job_ids(spark, groups["write"])) == n + 1  # one job per write
    assert job_ids(spark, groups["dq"]) == []
    assert job_ids(spark, groups["drift"]) == []
    # the rest is read_source's header read, one job per run
    assert len(job_ids(spark, groups["run"])) == 3


def test_incident_append_launches_no_spark_job(spark, tmp_path):
    group = f"append-{uuid.uuid4().hex[:8]}"
    append = in_group(spark, group, log_incident)
    for i in range(3):
        append(spark, tmp_path, run_id=f"r{i}", pipeline_name="p",
               description="", stage="s", status="success")
    assert job_ids(spark, group) == []
    # the same group does see Spark work: the assertion above is not vacuous
    assert in_group(spark, group, lambda: load_incidents(spark, tmp_path).count())() == 3
    assert job_ids(spark, group) != []
    files = sorted(p.name for p in Path(incidents_path(tmp_path)).iterdir())
    assert len(files) == 3
    assert all(f.startswith("part-") and f.endswith(".parquet") for f in files)


def test_readers_skip_a_crashed_append(spark, tmp_path):
    """A hidden temp file left by an append that died mid-write is invisible
    to the batch reader, the dashboard and the streaming monitor."""
    for i, status in enumerate(["success", "failed", "healed_success"]):
        log_incident(spark, tmp_path, run_id=f"r{i}", pipeline_name="p",
                     description="", stage="s", status=status)
    crashed = Path(incidents_path(tmp_path)) / f".part-{uuid.uuid4()}.parquet.{uuid.uuid4().hex}.tmp"
    crashed.write_bytes(b"PAR1\x00half a parquet file")
    incidents = load_incidents(spark, tmp_path)
    assert incidents.count() == 3
    assert status_metrics(incidents)["total"] == 3
    counts = {r["status"]: r["n"] for r in streaming_incident_metrics(spark, tmp_path).collect()}
    assert counts == {"success": 1, "failed": 1, "healed_success": 1}


def test_concurrent_appends_lose_no_record(spark, tmp_path):
    per_thread = 50
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def append_all(t: int) -> None:
            for i in range(per_thread):
                log_incident(spark, tmp_path, run_id=f"t{t}-{i:03d}", pipeline_name="p",
                             description="", stage="s", status="success")

        with concurrent.futures.ThreadPoolExecutor(2) as pool:
            for fut in [pool.submit(append_all, t) for t in range(2)]:
                fut.result(timeout=WAIT_S)
    finally:
        sys.setswitchinterval(switch)
    ids = {r["run_id"] for r in load_incidents(spark, tmp_path).select("run_id").collect()}
    assert ids == {f"t{t}-{i:03d}" for t in range(2) for i in range(per_thread)}


def serializer_dies(data, stream, **kwargs) -> None:
    stream.write('{"columns": {"trunc')
    raise RuntimeError("serializer died mid-write")


def test_contract_save_is_atomic(tmp_path, monkeypatch):
    path = tmp_path / "contract.yml"
    before = Contract(raw={"table_name": "t", "columns": {"a": {"type": "int"}}})
    save_contract(before, path)
    healed = before.copy()
    healed.raw["columns"]["a"]["max_null_fraction"] = 0.65
    monkeypatch.setattr(yaml, "safe_dump", serializer_dies)
    with pytest.raises(RuntimeError):
        save_contract(healed, path)
    assert load_contract(path).raw == before.raw
    assert [p.name for p in tmp_path.iterdir()] == ["contract.yml"]  # temp file removed


def test_profile_save_is_atomic(tmp_path, monkeypatch):
    path = tmp_path / "profile.json"
    before = {"columns": {"age": {"mean": 31.75, "std": 7.27}}}
    drift.save_profile(before, path)
    monkeypatch.setattr(json, "dump", serializer_dies)
    with pytest.raises(RuntimeError):
        drift.save_profile({"columns": {}}, path)
    assert drift.load_profile(path) == before
    assert [p.name for p in tmp_path.iterdir()] == ["profile.json"]
