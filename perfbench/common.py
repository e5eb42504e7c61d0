"""Shared plumbing: the tree under test, the pinned environment, Spark
session start/stop, the process-tree RSS sampler and run results."""

from __future__ import annotations

import os
import shutil
import signal
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the tree under test: the checkout's root
PACKAGE = "flink_cdc_multi_spark"
WORK = os.path.join(ROOT, ".perfbench_work")  # scratch space inside the checkout
CACHE = os.path.join(WORK, "cache")  # kept across runs (query data, oracle digests)


class TreeMissing(RuntimeError):
    """The benchmark was started outside a checkout of the program."""


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def pin_environment() -> dict:
    """Export what Spark and its Python workers need to use this tree and
    stay inside the checkout; return the pinned values for the report."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise TreeMissing(f"no {PACKAGE} package beside {HERE}")
    cpus = len(os.sched_getaffinity(0))
    driver_gb = max(1, min(4, physical_ram_bytes() // (4 << 30)))
    env = {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(cpus)),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(WORK, "tmp"),
    }
    os.environ.update(env)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p != ROOT])
    env["PYTHONPATH"] = os.environ["PYTHONPATH"]
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    # the package must come from this tree, before anything else can
    # import it from somewhere else
    if ROOT in sys.path:
        sys.path.remove(ROOT)
    sys.path.insert(0, ROOT)
    import flink_cdc_multi_spark as pkg

    pkg_file = os.path.realpath(pkg.__file__)
    if not pkg_file.startswith(os.path.realpath(ROOT) + os.sep):
        raise TreeMissing(f"{PACKAGE} imported from {pkg_file}, not {ROOT}")
    return env


def new_session(app: str, trace_dir: str | None = None, cpus: int | None = None):
    """A session from the program's own factory. ``trace_dir`` turns on
    the Spark event log there."""
    from flink_cdc_multi_spark.session import get_spark

    conf = {
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the checkout too
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + trace_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    master = f"local[{cpus}]" if cpus else None
    return get_spark(app, master=master, shuffle_partitions=cpus, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = getattr(SparkContext, "_gateway", None)
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def descendants(pid: int) -> list[int]:
    """Every live process below pid, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reap_children(timeout: float = 20.0) -> None:
    """Terminate whatever this process still has below it and wait."""
    deadline = time.time() + timeout
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants(os.getpid())
        if not pids:
            break
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        while time.time() < deadline and descendants(os.getpid()):
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus all its descendants (the
    JVM and Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        total = rss_kb(me) + sum(rss_kb(p) for p in descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


@dataclass
class Outcome:
    """What one workload run produced."""

    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)  # (op, exception type, detail)
    e2e: dict = field(default_factory=dict)  # name -> value
    layers: dict = field(default_factory=dict)  # name -> value
    report: dict = field(default_factory=dict)  # extra context for humans

    def fail(self, op: str, kind: str, detail: str = "") -> None:
        self.failed += 1
        self.failures.append({"op": op, "type": kind, "detail": detail[-2000:]})

    def check(self, op: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail(op, "CheckFailed", detail)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
