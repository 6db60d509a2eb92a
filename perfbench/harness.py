"""Shared machinery of the benchmark: Spark session, layer windows,
status-REST attribution, release/leak accounting, process-tree memory
and clean shutdown. Nothing here touches ``smaph_spark`` internals; the
only program entry used is ``smaph_spark.session.get_spark``.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import signal
import statistics
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# process-tree resident memory, sampled from /proc
# ---------------------------------------------------------------------------

def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed VmRSS of this process and all descendants
    (the JVM and its Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in _tree_pids(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def start_spark(n_cores: int, trace: bool):
    """local[n_cores] with n_cores shuffle partitions; everything the
    JVM and the workers write stays under the checkout's cache dir. The
    web UI (and with it the status REST API) is on only when tracing."""
    local = os.path.join(CACHE, "spark-local")
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SMAPH_SPARK_LOCAL_DIR"] = local
    # the program's own heap override: with its 8 GB default the peak
    # RSS spread by ~0.2 of the median across runs (heap growth follows
    # GC timing) and reached 6 GB on a host that shares its memory
    os.environ["SMAPH_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    from smaph_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{n_cores}]",
        shuffle_partitions=n_cores, extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, then anything left in
    this process tree, waiting for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in _tree_pids(me) if p != me]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline and [p for p in _tree_pids(me) if p != me]:
            for pid in left:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)


# ---------------------------------------------------------------------------
# op hygiene
# ---------------------------------------------------------------------------

def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def release(spark) -> int:
    """Drop every cached frame and let the context cleaner collect
    unreferenced RDDs; returns the persistent-RDD count left after."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)
    return persistent_rdds(spark)


def frame_sha(pdf) -> str:
    """Order-insensitive sha256 of a pandas frame's rows."""
    cols = sorted(pdf.columns)
    canon = pdf[cols].astype(str).sort_values(cols, kind="mergesort")
    return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()


def check_recorded(path: str, key: str, value: str) -> bool:
    """Cross-run determinism: the first run of a seed records ``value``
    under ``key``; every later run of that seed must reproduce it."""
    record = {}
    if os.path.exists(path):
        with open(path) as fh:
            record = json.load(fh)
    if key in record:
        return record[key] == value
    record[key] = value
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(record, fh)
    os.replace(tmp, path)
    return True


# ---------------------------------------------------------------------------
# layer windows + status REST attribution (traced runs)
# ---------------------------------------------------------------------------

class Tracer:
    """Times named windows from outside and tags each with its own
    Spark job group ``<name>#<seq>``. After the run, ``collect`` reads
    the status REST API once and attributes every stage to the first
    job group that listed it (a later job lists it again only as a
    skipped stage)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seq = 0
        self.windows: list[tuple[str, str, float]] = []  # (name, group, s)

    @contextmanager
    def window(self, name: str):
        self.seq += 1
        group = f"{name}#{self.seq}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.windows.append((name, group, time.perf_counter() - t0))
            self.sc.setJobGroup(f"glue#{self.seq}", "glue")

    def _get(self, path: str):
        url = (self.sc.uiWebUrl.rstrip("/")
               + f"/api/v1/applications/{self.sc.applicationId}{path}")
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def collect(self) -> dict[str, dict]:
        """group -> {jobs, task_s, shuffle_mb, spill_mb}."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sorted(self._get("/jobs"), key=lambda j: j["jobId"])
        stages: dict[int, dict] = {}
        for st in self._get("/stages"):
            if st["status"] == "SKIPPED":
                continue
            acc = stages.setdefault(st["stageId"], {"run": 0, "shw": 0, "spill": 0})
            acc["run"] += st.get("executorRunTime", 0)
            acc["shw"] += st.get("shuffleWriteBytes", 0)
            acc["spill"] += st.get("diskBytesSpilled", 0)
        out: dict[str, dict] = {}
        seen: set[int] = set()
        for job in jobs:
            g = out.setdefault(job.get("jobGroup") or "", {
                "jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
            })
            g["jobs"] += 1
            for sid in job["stageIds"]:
                if sid in seen or sid not in stages:
                    continue
                seen.add(sid)
                g["task_s"] += stages[sid]["run"] / 1000.0
                g["shuffle_mb"] += stages[sid]["shw"] / 2**20
                g["spill_mb"] += stages[sid]["spill"] / 2**20
        return out


# ---------------------------------------------------------------------------
# provenance
# ---------------------------------------------------------------------------

def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot: a run
    whose delta is high ran on a contended host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def git_sha() -> str | None:
    """``git rev-parse HEAD`` of the checkout; None when the checkout is
    not itself a git tree (the search stops at its parent directory)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=30,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None
