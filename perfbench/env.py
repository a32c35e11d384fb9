"""The benchmark's process environment: the isolated work directory, the
local SparkSession and the peak-memory sampler."""

from __future__ import annotations

import os
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def driver_memory() -> str:
    """Driver heap: a quarter of physical memory, between 1 and 4 GiB."""
    pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(4, pages // (4 << 30)))}g"


def isolate(work: Path) -> None:
    """Point every write the package or Spark makes into ``work`` and make
    the package importable by Python workers."""
    for sub in ("spark-local", "indexes", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = str(work / "indexes")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.chdir(work)  # saveAsTable's relative spark-warehouse/ lands here


class Session:
    """One local SparkSession sized to the machine, and its shutdown."""

    def __init__(self, work: Path, tracer) -> None:
        from self_healing_data_pipeline_agent_spark import session

        cpus = os.environ["SPARK_GRAFT_CPUS"]
        with tracer.span("session", "get_spark"):
            self.spark = session.get_spark(
                app_name="perfbench",
                master=f"local[{cpus}]",
                shuffle_partitions=int(cpus),
                extra_conf={
                    "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "20000",
                    "spark.ui.retainedStages": "20000",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


class RssSampler:
    """Peak resident memory of the driver JVM plus its descendants (the
    Python workers), sampled from /proc every 100 ms."""

    def __init__(self, root_pid: int) -> None:
        self.root = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _field(pid: int, name: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(name):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            total = sum(self._field(p, "VmRSS:") for p in self._tree())
            self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self.peak_kb = max(self.peak_kb, self._field(self.root, "VmHWM:"))
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0
