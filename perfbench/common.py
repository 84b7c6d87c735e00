"""Shared plumbing: host sizing, the per-run work directory, the Spark
session, process-tree CPU by role, spans, and Spark's own listener data.

Everything here observes the program from outside: it calls the public
functions of ``nf2pq_spark`` and reads the status store Spark keeps
whether or not its UI is on.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")   # reusable inputs (tables)
OUT = os.path.join(HERE, ".out")       # span files of traced runs


def host() -> dict:
    """Cores and memory of this host; every size below derives from it."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh
                      if ln.startswith("MemTotal:"))
    return {"cpus": cpus, "mem_gb": mem_kb / 1024 / 1024}


class Workdir:
    """Fresh scratch tree for one run (Spark local dirs, temp files,
    capture/Parquet/checkpoint directories), removed on close."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(HERE, ".work",
                                 f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def isolate(work: Workdir) -> None:
    """Point every temp-file user of this process tree (Python, the JVM,
    Spark's block manager, the Python workers) into the work directory,
    and let the workers import the package from the checkout."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    import tempfile
    tempfile.tempdir = tmp
    os.chdir(work.path)  # Spark's default warehouse dir is cwd-relative


def start_session(h: dict):
    """The engine's own session builder, sized to the host: every core,
    and a quarter of memory for the driver heap (at most 8 GB)."""
    from nf2pq_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = (
        f"{max(1, min(8, int(h['mem_gb'] / 4)))}g")
    spark = get_spark("nf2pq_spark-perfbench", cpus=str(h["cpus"]))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- process tree CPU ---------------------------------------------------------


class CpuMeter:
    """Process-tree CPU between two points, split by role.  The per-PID
    accounting is bench.py's; this adds the role of each PID."""

    def __init__(self):
        import bench
        self._snap = bench._tree_cpu_snapshot
        self._roles: dict[int, str] = {}

    def _classify(self, snap: dict) -> None:
        me = os.getpid()
        for pid in snap:
            if pid in self._roles:
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read().replace(b"\0", b" ").decode(
                        errors="replace")
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                cmd, comm = "", ""
            self._roles[pid] = metrics.classify(cmd, comm, me, pid)

    def snapshot(self) -> dict:
        snap = self._snap()
        self._classify(snap)
        return snap

    def split(self, before: dict, after: dict) -> dict[str, float]:
        return metrics.cpu_by_role(before, after, self._roles)


def quiesce(spark, cpu: CpuMeter, idle_cores: float = 0.5,
            limit_s: float = 15.0) -> float:
    """Wait until the process tree is nearly idle (background JIT
    compilation, GC and cleanup left over from the warm-up would
    otherwise land in the first timed queries).  Returns the wait."""
    t0 = time.perf_counter()
    spark.sparkContext._jvm.System.gc()
    prev = cpu.snapshot()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(0.5)
        cur = cpu.snapshot()
        if metrics.system_cpu(cpu.split(prev, cur)) < idle_cores * 0.5:
            break
        prev = cur
    return time.perf_counter() - t0


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants."""
    import bench
    total = 0
    for pid in bench._tree_cpu_snapshot():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for ln in fh:
                    if ln.startswith("VmRSS:"):
                        total += int(ln.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


# -- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id, attributes),
    written out once at the end.  Disabled, it records nothing and costs
    one attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.peak_rss_mb = 0.0

    @contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "trace": trace, "name": name, "start": time.time(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())

    def add(self, name: str, start: float, end: float, trace: str = "",
            parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (Spark jobs, stream batches)."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "trace": trace,
                           "name": name, "start": start, "end": end,
                           **attrs})
        return sid

    def write(self, workload: str, seed: int) -> str | None:
        if not self.enabled:
            return None
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"spans-{workload}-{seed}.json")
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
        return path


# -- Spark listener data ------------------------------------------------------

STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                "input_mb")


class SparkStats:
    """Per-job and per-stage lookups in Spark's status store.

    Jobs are found by id range (ids are sequential per context) and
    filtered by job group, so a lookup touches only the jobs of the
    interval asked about, never the whole store."""

    def __init__(self, spark):
        self._js = spark.sparkContext._jsc.sc()
        self._store = self._js.statusStore()

    def next_job_id(self) -> int:
        return int(self._js.dagScheduler().nextJobId())

    def settle(self) -> None:
        """Wait until the listener has seen every event posted so far."""
        self._js.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int, group: str | None = None
             ) -> list[dict]:
        out = []
        for jid in range(first, end):
            try:
                jd = self._store.job(jid)
            except Exception:  # evicted or never registered
                continue
            g = jd.jobGroup()
            if group is not None and (not g.isDefined() or g.get() != group):
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            desc = jd.description()
            out.append({
                "id": jid, "name": jd.name(),
                "description": desc.get() if desc.isDefined() else "",
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
                "stage_ids": [jd.stageIds().apply(i)
                              for i in range(jd.stageIds().length())]})
        return out

    def stages(self, stage_ids) -> dict:
        """Sums over the stages that ran (skipped stages count nothing)."""
        tot = {k: 0.0 for k in STAGE_FIELDS}
        tot.update(stages=0, tasks=0)
        for sid in sorted(set(stage_ids)):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["executor_run_s"] += sd.executorRunTime() / 1e3
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            tot["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / 2**20
            tot["input_mb"] += sd.inputBytes() / 2**20
        return tot


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase seconds from the frame's own QueryExecution tracker.
    Forces planning of that QueryExecution, which the noop write would
    otherwise do on a separate one; traced runs only."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        o = phases.get(name)
        out[name] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
    return out


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
