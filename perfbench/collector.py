"""Collector workloads: the live pipeline (``ingest``) and catch-up after
an outage (``backfill``).

ingest:   sender process ──UDP──▶ bridge process ──capture files──▶
          run_collector (micro-batches) ──▶ Parquet
backfill: seeded capture files ──▶ run_collector(available_now=True,
          decode_strings=True) ──▶ Parquet

Both balance what was generated against what landed: per (exporter,
protocol) flow counts and byte sums in Parquet equal the generator's for
every datagram the capture files hold, and every datagram sent is either
in a capture file or counted as lost.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import numpy as np

import common
import corpus
import metrics

ROTATE_S = 1.0
#: every wire format on both: with decode_strings=false the string-IE
#: exporters take the scalar walk without surfacing the strings
INGEST_FORMATS = BACKFILL_FORMATS = corpus.FORMATS
TEMPLATE_S = ROTATE_S / 4  # live exporters re-announce templates this often
WARM_S = 3.0           # ingest warm-up traffic, seconds at the run rate
BACKFILL_DGRAMS = 5000  # 150k flows
FILE_DGRAMS = 50       # datagrams per backfill capture file
FILE_TEMPLATE_EVERY = 10  # backfill files: template on every 10th datagram
RUN_SEQ_BASE = 1 << 24  # run-phase sequence numbers never meet warm-up's
#: offered load per core, datagrams (30 flows each) per second; see
#: README.md "Offered load" for the saturation runs it is set against
RATE_PER_CORE = 50.0


def dgram_rate(h: dict, per_core: float | None = None) -> float:
    return (per_core or RATE_PER_CORE) * h["cpus"]


# -- processes ----------------------------------------------------------------


class Bridge:
    """The bridge child; ready once it has reported its bound port."""

    def __init__(self, cap_dir: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(common.HERE, "bridge_child.py"),
             cap_dir, str(ROTATE_S)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.proc.kill()
            self.proc.wait()
            raise RuntimeError(f"bridge did not start: {line!r}")
        self.port = int(line.split()[1])

    def stop(self) -> dict:
        out, _ = self.proc.communicate(timeout=30)
        return json.loads(out.strip().splitlines()[-1])

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def send(port: int, seed: int, layout_seed: int, n: int, rate: float,
         formats, seq_base: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(common.HERE, "sender.py"), str(port),
         str(seed), str(layout_seed), str(n), str(rate), ",".join(formats),
         str(seq_base), str(TEMPLATE_S)],
        capture_output=True, text=True, timeout=120)
    if p.returncode != 0:
        raise RuntimeError(f"sender failed: {p.stderr[-500:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


# -- what landed ---------------------------------------------------------------


def capture_files(cap_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(cap_dir, "*", "cap_*.bin")))


def committed_datagrams(c: corpus.Corpus, files: list[str]) -> np.ndarray:
    """Indices of the corpus datagrams present in the capture files."""
    from nf2pq_spark.sources.ipfix import iter_datagrams

    index = {(e.ip, int(s)): i for i, (e, s) in enumerate(
        zip((c.exporters[x] for x in c.dgram_exporter), c.dgram_seq))}
    found = []
    for f in files:
        ip = os.path.basename(os.path.dirname(f))
        with open(f, "rb") as fh:
            for d in iter_datagrams(fh.read()):
                i = index.get((ip, corpus.datagram_key(d)[1]))
                if i is not None:
                    found.append(i)
    return np.array(sorted(found), dtype=np.int64)


def parquet_totals(con, out_dir: str, strings: bool) -> dict:
    s = ("count(app_name), coalesce(sum(length(app_name)), 0)" if strings
         else "0, 0")
    rows = con.execute(
        f"SELECT regexp_extract(exporter, '[^/]+$'), pr, count(*), "
        f"sum(ibyt), {s} FROM read_parquet('{out_dir}/**/*.parquet', "
        f"hive_partitioning = true) GROUP BY 1, 2").fetchall()
    return {(r[0], int(r[1])): tuple(int(x) for x in r[2:]) for r in rows}


def check_output(con, want: dict, out_dir: str, strings: bool) -> list[str]:
    """Parquet per-(exporter, protocol) totals against the generator's
    (``corpus.expected`` form); string totals only when decoded."""
    if not strings:
        want = {k: v[:2] + (0, 0) for k, v in want.items()}
    got = parquet_totals(con, out_dir, strings)
    return [f"{k}: parquet {got.get(k)} != generated {want.get(k)}"
            for k in sorted(set(want) | set(got), key=str)
            if got.get(k) != want.get(k)]


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id → time its checkpoint commit was written."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        out[int(os.path.basename(p))] = os.stat(p).st_mtime
    return out


def collector_config(work: common.Workdir, tag: str, strings: bool):
    from nf2pq_spark.config import CollectorConfig

    return CollectorConfig(
        capture_dir=work.sub("capture"),
        parquet_path=os.path.join(work.path, f"parquet-{tag}"),
        checkpoint=os.path.join(work.path, f"ckpt-{tag}"),
        rotation_seconds=int(ROTATE_S), decode_strings=strings)


# -- traced-run layers -----------------------------------------------------------


def stream_layers(progress: list[dict], jobs: list[dict]) -> dict:
    """Micro-batch layers from StreamingQuery.recentProgress and the
    batches' jobs, grouped by call site: the decode + Parquet write job
    is the sink's ``parquet`` call, the other job of a batch is the
    phase-1 template harvest (a collect issued from the batch callback)."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    trig, over = [], []
    for p in batches:
        d = p["durationMs"]
        if d.get("addBatch", 0) > d["triggerExecution"]:
            raise metrics.CheckFailed(
                f"batch {p['batchId']}: addBatch {d['addBatch']} ms > "
                f"triggerExecution {d['triggerExecution']} ms")
        trig.append(d["triggerExecution"] / 1e3)
        over.append((d["triggerExecution"] - d.get("addBatch", 0)) / 1e3)
    per_batch: dict[int, dict[str, float]] = {}
    for j in jobs:
        tag = "decode_write" if j["name"].startswith("parquet") else "harvest"
        b = _batch_of(j["description"])
        if b is None or j["end"] is None:
            continue
        d = per_batch.setdefault(b, {"harvest": 0.0, "decode_write": 0.0})
        d[tag] += j["end"] - j["start"]
    hv = [d["harvest"] for d in per_batch.values()] or [0.0]
    dw = [d["decode_write"] for d in per_batch.values()] or [0.0]
    return {
        "stream.batches": len(batches),
        "stream.batch_p50_s": metrics.median(trig) if trig else 0.0,
        "stream.overhead_s": metrics.median(over) if over else 0.0,
        "ipfix.harvest_s": metrics.median(hv),
        "ipfix.decode_write_s": metrics.median(dw),
    }


def _batch_of(description: str) -> int | None:
    """Micro-batch id from the job description streaming sets
    (``id = ..``, ``runId = ..``, ``batch = N``, one per line)."""
    for part in description.replace(",", "\n").splitlines():
        k, _, v = part.strip().partition("=")
        if k.strip() == "batch" and v.strip().isdigit():
            return int(v)
    return None


def decode_rps(c: corpus.Corpus, files: list[str], tracer: common.Tracer
               ) -> dict:
    """Single-thread flows/s of the make_decoder body on this run's own
    capture files, one figure per decode path (no Spark)."""
    import pandas as pd

    from nf2pq_spark.sources.ipfix import make_decoder

    fmt_of = {e.ip: e.fmt for e in c.exporters}
    paths = {"v5": ("v5",), "template": ("v9", "ipfix"),
             "varlen": ("ipfix_str",)}
    out = {}
    for path, fmts in paths.items():
        sel = [f for f in files
               if fmt_of.get(os.path.basename(os.path.dirname(f))) in fmts]
        if not sel:
            out[f"ipfix.decode_rps.{path}"] = 0.0
            continue
        contents = []
        for f in sel:
            with open(f, "rb") as fh:
                contents.append(fh.read())
        pdf = pd.DataFrame({"path": sel, "content": contents})
        body = make_decoder(with_strings=(path == "varlen"))
        best = None
        for _ in range(3):
            with tracer.span("decode_kernel", trace=path, files=len(sel)):
                t0 = time.perf_counter()
                n = sum(len(f) for f in body(iter([pdf])))
                dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[f"ipfix.decode_rps.{path}"] = n / best
    return out


def sink_layers(out_dir: str, flows: int, batches: int) -> dict:
    files = glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)
    size = sum(os.path.getsize(f) for f in files)
    return {"sinks.bytes_per_flow": size / max(flows, 1),
            "sinks.files_per_batch": len(files) / max(batches, 1)}


def file_commit_s(files: list[str]) -> float:
    """Median time from a capture file's opening (the ms in its name) to
    its rename into place (the inode change time)."""
    ages = [os.stat(f).st_ctime - int(os.path.basename(f).split("_")[1]) / 1e3
            for f in files]
    return metrics.median(ages) if ages else 0.0


# -- workloads -------------------------------------------------------------------


def source_files(ckpt: str) -> dict[str, int]:
    """Capture file → id of the micro-batch that read it, from the file
    source's own log in the checkpoint (compacted files included)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "[0-9]*")):
        if p.endswith(".tmp"):
            continue
        with open(p) as fh:
            lines = fh.read().splitlines()[1:]  # first line: log version
        for ln in lines:
            e = json.loads(ln)
            out[e["path"].removeprefix("file://")] = e["batchId"]
    return out


def _wait_drained(q, cap_dir: str, ckpt: str, deadline: float) -> None:
    """Until every capture file the bridge has committed was read by a
    micro-batch whose checkpoint commit is written."""
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"collector query failed: {q.exception()}")
        if not glob.glob(os.path.join(cap_dir, "*", ".cap_*.tmp")):
            read = source_files(ckpt)
            batches = {read.get(f) for f in capture_files(cap_dir)}
            if None not in batches and batches <= set(commit_times(ckpt)):
                return
        time.sleep(0.1)
    raise TimeoutError("collector did not drain the capture files in time")


def _spark_window(stats: common.SparkStats, j0: int) -> tuple[list, dict]:
    """Jobs of the micro-batches since job ``j0`` and their stage totals."""
    stats.settle()
    jobs = [j for j in stats.jobs(j0, stats.next_job_id())
            if _batch_of(j["description"]) is not None]
    tot = stats.stages(s for j in jobs for s in j["stage_ids"])
    layers = {f"spark.{k}": v for k, v in tot.items()}
    layers["spark.jobs"] = len(jobs)
    return jobs, layers


def ingest(_prepared, args, h: dict, work: common.Workdir,
           tracer: common.Tracer) -> dict:
    import duckdb

    from nf2pq_spark.config import run_collector

    rate = dgram_rate(h, args.rate_per_core)
    n_warm, n_run = int(WARM_S * rate), int(args.seconds * rate)
    # one exporter layout for both phases; field values differ
    warm_seed, run_seed = 2 * args.seed, 2 * args.seed + 1
    cfg = collector_config(work, "live", strings=False)
    cpu = common.CpuMeter()
    bridge = None
    t0 = time.perf_counter()
    with tracer.span("session"):
        spark = common.start_session(h)
    session_s = time.perf_counter() - t0
    try:
        stats = common.SparkStats(spark)
        with tracer.span("warmup"):
            bridge = Bridge(cfg.capture_dir)
            q = run_collector(spark, cfg)
            warm = send(bridge.port, warm_seed, args.seed, n_warm, rate,
                        INGEST_FORMATS, 0)
            _wait_drained(q, cfg.capture_dir, cfg.checkpoint,
                          time.monotonic() + 60)
        setup_s = time.perf_counter() - t0
        common.quiesce(spark, cpu)
        c0, j0 = cpu.snapshot(), stats.next_job_id()
        with tracer.span("window"):
            run = send(bridge.port, run_seed, args.seed, n_run, rate,
                       INGEST_FORMATS, RUN_SEQ_BASE)
            _wait_drained(q, cfg.capture_dir, cfg.checkpoint,
                          time.monotonic() + 60)
        split = cpu.split(c0, cpu.snapshot())
        tr0 = time.perf_counter()
        if tracer.enabled:
            progress = [json.loads(p.json) for p in q.recentProgress]
            jobs, spark_layers = _spark_window(stats, j0)
        trace_s = time.perf_counter() - tr0
        q.stop()
        bstats = bridge.stop()
        bridge = None
    finally:
        if bridge is not None:
            bridge.kill()
        common.stop_session(spark)

    # correctness: every datagram sent is in a capture file or lost, and
    # Parquet holds exactly the flows of the datagrams in capture files
    con = duckdb.connect()
    files = capture_files(cfg.capture_dir)
    problems, want, received = [], {}, 0
    for seed, n, base, sent in ((warm_seed, n_warm, 0, warm),
                                (run_seed, n_run, RUN_SEQ_BASE, run)):
        c = corpus.make_corpus(seed, n, INGEST_FORMATS, base, args.seed)
        everything = np.arange(len(c.dgram_exporter))
        got = committed_datagrams(c, files)
        if sent["sent"] != len(everything):
            problems.append(f"sender sent {sent['sent']} of "
                            f"{len(everything)} datagrams")
        problems += metrics.conservation(
            _pairs(corpus.expected(c, everything)),
            _pairs(corpus.expected(c, got)),
            _pairs(corpus.expected(c, np.setdiff1d(everything, got))))
        want = _merge(want, corpus.expected(c, got))
        received += len(got)
        if sent["max_late_s"] >= TEMPLATE_S:
            problems.append(f"sender ran {sent['max_late_s']:.3f} s late; "
                            f"template refresh every {TEMPLATE_S} s no "
                            f"longer holds")
    if bstats["datagrams_received"] != received:
        problems.append(f"bridge counted {bstats['datagrams_received']} "
                        f"datagrams; capture files hold {received}")
    problems += check_output(con, want, cfg.parquet_path, strings=False)
    sent_total = warm["sent"] + run["sent"]
    if sent_total != received:
        problems.append(f"lost {sent_total - received} of {sent_total} "
                        f"datagrams")

    # lag of the run phase's flows: batch commit time minus send stamp
    commits = commit_times(cfg.checkpoint)
    rows = con.execute(
        f"SELECT te_ms, batch_id FROM read_parquet('{cfg.parquet_path}/**/"
        f"*.parquet', hive_partitioning = true) "
        f"WHERE te_ms >= {int(run['first_due'] * 1000)}").fetchnumpy()
    batch_ids = rows["batch_id"].tolist()
    stamps = rows["te_ms"].tolist()
    lags = metrics.flow_lags(stamps, batch_ids, commits)
    lag_p50, (tail_p, tail_v) = metrics.median(lags), metrics.tail(lags)
    pass_cpu = metrics.system_cpu(split)
    out = {
        "setup_s": setup_s,
        "pass_s": lag_p50,
        "pass_cpu_s": pass_cpu,
        "figures": {"ingest_lag_p50_s": lag_p50,
                    "ingest_lag_tail_s": tail_v, "ingest_lag_tail_pct": tail_p,
                    "ingest_lag_growth_s": metrics.lag_growth(stamps, lags),
                    "lag_samples": len(lags),
                    "offered_dgrams_per_s": rate,
                    "cpu_s_per_mflow": pass_cpu / (len(lags) / 1e6)},
        "cpu_split": split,
        "correct": not problems,
        "attempted": sent_total,
        "failed": sent_total - received,
        "problems": problems,
    }
    if tracer.enabled:
        run_batches = set(batch_ids)
        layers = stream_layers(
            [p for p in progress if p["batchId"] in run_batches],
            [j for j in jobs if _batch_of(j["description"]) in run_batches])
        layers.update(spark_layers)
        layers.update(sink_layers(cfg.parquet_path,
                                  sum(v[0] for v in want.values()),
                                  len(commits)))
        layers.update(decode_rps(c, files, tracer))  # c: the run phase
        layers.update({
            "session.start_s": session_s,
            "pyworker.cpu_s": split["pyworker"], "jvm.cpu_s": split["jvm"],
            "driver.cpu_s": split["driver"],
            "udp_bridge.datagrams_received": bstats["datagrams_received"],
            "udp_bridge.write_errors": bstats["write_errors"],
            "udp_bridge.cpu_s": split["bridge"],
            "udp_bridge.file_commit_s": file_commit_s(files),
            "gen.sent": run["sent"], "gen.max_late_s": run["max_late_s"],
            "proc.peak_rss_mb": tracer.peak_rss_mb,
            "trace.overhead_s": trace_s})
        out["layers"] = layers
    return out


def write_backfill(c: corpus.Corpus, cap_dir: str) -> None:
    """The corpus in the bridge's per-exporter capture layout, as if the
    bridge had rotated every FILE_DGRAMS datagrams of each exporter."""
    from nf2pq_spark.sources.ipfix import write_capture_file

    base_ms = 1_700_000_000_000
    for x, e in enumerate(c.exporters):
        idx = np.nonzero(c.dgram_exporter == x)[0]
        d = os.path.join(cap_dir, e.ip)
        os.makedirs(d, exist_ok=True)
        for f, start in enumerate(range(0, len(idx), FILE_DGRAMS)):
            chunk = idx[start:start + FILE_DGRAMS]
            ms = base_ms + f * 1000
            write_capture_file(
                os.path.join(d, f"cap_{ms:015d}_{os.getpid():07d}.bin"),
                [corpus.encode(c, int(i), ms + int(i),
                               j % FILE_TEMPLATE_EVERY == 0)
                 for j, i in enumerate(chunk)])


def backfill(_prepared, args, h: dict, work: common.Workdir,
             tracer: common.Tracer) -> dict:
    import duckdb

    from nf2pq_spark.config import run_collector

    c = corpus.make_corpus(args.seed, BACKFILL_DGRAMS, BACKFILL_FORMATS)
    cap_dir = work.sub("capture")
    write_backfill(c, cap_dir)
    files = capture_files(cap_dir)
    want = corpus.expected(c, np.arange(len(c.dgram_exporter)))
    con = duckdb.connect()
    cpu = common.CpuMeter()
    problems: list[str] = []
    drains_failed = 0

    def drain(tag: str) -> tuple[float, object]:
        nonlocal drains_failed
        cfg = collector_config(work, tag, strings=True)
        t = time.perf_counter()
        q = run_collector(spark, cfg, available_now=True)
        q.awaitTermination()
        dt = time.perf_counter() - t
        bad = check_output(con, want, cfg.parquet_path, True)
        problems.extend(f"drain {tag}: {p}" for p in bad)
        drains_failed += bool(bad)
        return dt, (q, cfg)

    t0 = time.perf_counter()
    with tracer.span("session"):
        spark = common.start_session(h)
    session_s = time.perf_counter() - t0
    try:
        stats = common.SparkStats(spark)
        with tracer.span("warmup"):
            warm_s, _ = drain("warm")
        setup_s = session_s + warm_s
        common.quiesce(spark, cpu)
        walls, cpus = [], []
        m0 = time.perf_counter()
        while not walls or time.perf_counter() - m0 < args.seconds:
            c0 = cpu.snapshot()
            dt, _ = drain(f"run{len(walls)}")
            walls.append(dt)
            cpus.append(cpu.split(c0, cpu.snapshot()))
        if tracer.enabled:
            c0, j0 = cpu.snapshot(), stats.next_job_id()
            with tracer.span("drain", trace="traced"):
                dt, (q, cfg) = drain("traced")
            split = cpu.split(c0, cpu.snapshot())
            tr0 = time.perf_counter()
            progress = [json.loads(p.json) for p in q.recentProgress]
            jobs, spark_layers = _spark_window(stats, j0)
            trace_s = time.perf_counter() - tr0
    finally:
        common.stop_session(spark)

    n_flows = c.n_flows
    per_cpu = [metrics.system_cpu(s) for s in cpus]
    out = {
        "setup_s": setup_s,
        "pass_s": metrics.median(walls),
        "pass_cpu_s": metrics.median(per_cpu),
        "figures": {
            "drain_flows_per_s": n_flows / metrics.median(walls),
            "cpu_s_per_mflow": metrics.median(per_cpu) / (n_flows / 1e6)},
        "pass_walls": walls,
        "cpu_split": cpus[len(cpus) // 2],
        "correct": not problems,
        "attempted": 1 + len(walls) + tracer.enabled,
        "failed": drains_failed,
        "problems": problems,
    }
    if tracer.enabled:
        layers = stream_layers(progress, jobs)
        layers.update(spark_layers)
        layers.update(sink_layers(cfg.parquet_path, n_flows,
                                  layers["stream.batches"]))
        layers.update(decode_rps(c, files, tracer))
        layers.update({
            "session.start_s": session_s,
            "pyworker.cpu_s": split["pyworker"], "jvm.cpu_s": split["jvm"],
            "driver.cpu_s": split["driver"],
            "proc.peak_rss_mb": tracer.peak_rss_mb,
            "trace.overhead_s": trace_s})
        out["layers"] = layers
    return out


def _pairs(d: dict) -> dict:
    return {k: v[:2] for k, v in d.items()}


def _merge(a: dict, b: dict) -> dict:
    out = dict(a)
    for k, v in b.items():
        out[k] = tuple(x + y for x, y in zip(out.get(k, (0,) * len(v)), v))
    return out
