"""Query workloads: a fixed set of registered headline queries run over
seeded sf0.1 tables in one session, in a seeded order.

One warm-up pass (queries run a few at a time) collects every result and
checks it against the query's DuckDB oracle; after the process tree goes
quiet, the timed passes run each query's function plus a noop write, one
query at a time, as bench.py does.  A traced run adds one untraced pass (the
baseline for the tracing overhead) and one pass with spans, a job group
per query phase, per-job and per-stage status-store lookups and the
frame's Catalyst phase times.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np

import common
import metrics
import tables

#: JVM-only relational and time-series queries
OLAP = ["q1", "j1", "j5", "a7", "w4", "t1", "j8", "j8c", "rl1", "t12", "j17",
        "sql1", "sql5", "sql6", "sql7", "sql13", "sql14", "sql22"]
#: Arrow-UDF kernels and eager materialization while frames are built
CURATION = ["l1", "l2", "l2d", "l3", "l14", "l16", "l25", "l28", "mm1", "g1",
            "g3"]
SF = 0.1
TABLE_SEED = 42


def _resolve(short: list[str]) -> list[str]:
    from nf2pq_spark import plans
    by_prefix = {n.split("_")[0]: n for n in plans.REGISTRY}
    return [by_prefix[s] for s in short]


class Oracles:
    """DuckDB oracle results per table set.  They depend only on the
    table bytes and the oracle SQL, so they are keyed by both hashes:
    ``perfbench/oracles.json`` ships the results for the benchmark's own
    tables (l2d's oracle alone takes about a minute at sf0.1) and a
    query whose oracle SQL or tables changed is recomputed into the local
    cache."""

    GOLDEN = os.path.join(common.HERE, "oracles.json")

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        h = hashlib.sha1()
        for t in tables.TABLES:
            with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
                h.update(fh.read())
        self.tables = h.hexdigest()[:16]
        self.path = sf_dir + ".oracles.json"
        self.known: dict[str, dict] = {}
        for p in (self.GOLDEN, self.path):
            try:
                with open(p) as fh:
                    self.known.update(json.load(fh))
            except (OSError, ValueError):
                pass
        self._con = None

    def get(self, name: str, sql: str) -> dict:
        key = f"{self.tables}/{name}"
        digest = hashlib.sha1(sql.encode()).hexdigest()
        hit = self.known.get(key)
        if hit is None or hit["sql"] != digest:
            hit = self._compute(sql, digest)
            self.known[key] = hit
            tmp = self.path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.known, fh, indent=0, sort_keys=True)
            os.replace(tmp, self.path)
        return hit

    def _compute(self, sql: str, digest: str) -> dict:
        from driver_sim import register_oracle_views, vhash

        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            register_oracle_views(self._con, self.sf_dir)
        want = self._con.execute(sql).fetchdf()
        return {"sql": digest, "rows": len(want),
                "columns": sorted(want.columns), "hash": vhash(want)}


def _warm_and_check(spark, oracles: Oracles, name: str, sf_dir: str
                    ) -> str | None:
    """Warm-up execution of one query: None when its collected result
    matches the DuckDB oracle (or, for a query without one, has rows),
    else what went wrong."""
    from driver_sim import vhash
    from nf2pq_spark import plans

    spec = plans.REGISTRY[name]
    try:
        got = spec.fn(spark, sf_dir).toPandas()
    except Exception as ex:
        return f"{type(ex).__name__}: {ex}"[:300]
    if not spec.oracle:
        return None if len(got) else "no rows"
    want = oracles.get(name, spec.oracle)
    if len(got) != want["rows"] or sorted(got.columns) != want["columns"]:
        return (f"shape {got.shape} != oracle "
                f"({want['rows']}, {len(want['columns'])})")
    if vhash(got) != want["hash"]:
        return "values differ from the oracle"
    return None


class _QueryRun:
    def __init__(self, spark, sf_dir: str, order: list[str],
                 tracer: common.Tracer):
        self.spark, self.sf_dir, self.order = spark, sf_dir, order
        self.tracer = tracer
        self.stats = common.SparkStats(spark) if tracer.enabled else None
        self.cpu = common.CpuMeter()
        self.layers: dict[str, float] = {}
        self.failed = 0

    def one(self, name: str, pass_no: int) -> float:
        """fn call + noop action; traced: spans and Spark lookups."""
        from nf2pq_spark import plans

        fn = plans.REGISTRY[name].fn
        if not self.tracer.enabled:
            t0 = time.perf_counter()
            fn(self.spark, self.sf_dir).write.format("noop").mode(
                "overwrite").save()
            return time.perf_counter() - t0
        sc, st, qid = self.spark.sparkContext, self.stats, f"{name}#{pass_no}"
        j0 = st.next_job_id()
        t0 = time.perf_counter()
        with self.tracer.span("query", trace=qid, query=name) as q:
            with self.tracer.span("build", trace=qid):
                sc.setJobGroup(f"{qid}.build", "frame build")
                b0 = time.perf_counter()
                df = fn(self.spark, self.sf_dir)
                build = time.perf_counter() - b0
            j1 = st.next_job_id()
            with self.tracer.span("action", trace=qid):
                sc.setJobGroup(f"{qid}.action", "noop write")
                a0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                action = time.perf_counter() - a0
        wall = time.perf_counter() - t0
        sc.setJobGroup("perfbench", "between queries")
        st.settle()
        eager = st.jobs(j0, j1, f"{qid}.build")
        acted = st.jobs(j1, st.next_job_id(), f"{qid}.action")
        for j in eager + acted:
            self.tracer.add("job", j["start"], j["end"], trace=qid,
                            parent=q["id"], job=j["id"], call_site=j["name"])
        stages = st.stages(s for j in eager + acted for s in j["stage_ids"])
        cat = common.catalyst_phases(df)
        if abs(wall - build - action) > 0.10 * wall:
            raise metrics.CheckFailed(
                f"{name}: build {build:.3f}s + action {action:.3f}s is not "
                f"within 10% of query wall {wall:.3f}s")
        add = self._add
        add("plans.build_s", build)
        add("plans.eager_jobs", len(eager))
        add("plans.eager_job_s", sum(j["end"] - j["start"] for j in eager
                                     if j["end"]))
        add("action.wall_s", action)
        for k, v in cat.items():
            add(f"catalyst.{k}_s", v)
        add("spark.jobs", len(eager) + len(acted))
        for k, v in stages.items():
            add(f"spark.{k}", v)
        return wall

    def _add(self, k: str, v: float) -> None:
        self.layers[k] = self.layers.get(k, 0.0) + v

    def one_pass(self, pass_no: int) -> dict:
        c0 = self.cpu.snapshot()
        t0 = time.perf_counter()
        lat = []
        for name in self.order:
            try:
                lat.append(self.one(name, pass_no))
                common.log(f"pass {pass_no} {name}: {lat[-1]:.3f}s")
            except metrics.CheckFailed:
                raise
            except Exception as ex:  # a failing query is counted, not fatal
                common.log(f"{name}: {type(ex).__name__}: {ex}")
                self.failed += 1
        wall = time.perf_counter() - t0
        split = self.cpu.split(c0, self.cpu.snapshot())
        return {"wall": wall, "lat": lat, "cpu": split}


def prepare(short: list[str]) -> tuple[str, list[str]]:
    """Tables and oracle results, built once per checkout (the first run
    pays for both) before the timed part of any run starts."""
    from nf2pq_spark import plans

    with open(tables.__file__, "rb") as fh:  # new generator, new tables
        gen = hashlib.sha1(fh.read()).hexdigest()[:8]
    sf_dir = os.path.join(common.CACHE, f"sf{SF}-{TABLE_SEED}-{gen}")
    tables.write_tables(sf_dir, SF, TABLE_SEED)
    names = _resolve(short)
    oracles = Oracles(sf_dir)
    for name in names:
        if plans.REGISTRY[name].oracle:
            oracles.get(name, plans.REGISTRY[name].oracle)
    return sf_dir, names


def run(prepared: tuple[str, list[str]], args, h: dict,
        work: common.Workdir, tracer: common.Tracer) -> dict:
    sf_dir, names = prepared
    order = list(np.random.default_rng(args.seed).permutation(names))
    common.log(f"order: {' '.join(n.split('_')[0] for n in order)}")

    t0 = time.perf_counter()
    with tracer.span("session"):
        spark = common.start_session(h)
    session_s = time.perf_counter() - t0
    try:
        oracles = Oracles(sf_dir)
        # warm-up: every query once, its result checked; queries run
        # concurrently (many are orchestration-bound and leave cores idle)
        from concurrent.futures import ThreadPoolExecutor

        w0 = time.perf_counter()
        threads = max(1, h["cpus"] - 1)
        with tracer.span("warmup"), ThreadPoolExecutor(threads) as ex:
            checks = list(ex.map(
                lambda n: _warm_and_check(spark, oracles, n, sf_dir), order))
        setup_s = session_s + time.perf_counter() - w0
        bad = {n: err for n, err in zip(order, checks) if err}
        run_ = _QueryRun(spark, sf_dir, order, common.Tracer(False))
        common.log(f"quiet after {common.quiesce(spark, run_.cpu):.1f}s")
        passes = []
        m0 = time.perf_counter()
        while not passes or time.perf_counter() - m0 < args.seconds:
            passes.append(run_.one_pass(len(passes)))
        failed = run_.failed + len(bad)
        attempted = len(order) * (1 + len(passes))
        out = _summarize(passes, setup_s)
        if tracer.enabled:
            traced = _QueryRun(spark, sf_dir, order, tracer)
            common.quiesce(spark, traced.cpu)
            tp = traced.one_pass(len(passes))
            failed += traced.failed
            attempted += len(order)
            stage_cpu = traced.layers.get("spark.executor_cpu_s", 0.0)
            proc_cpu = metrics.system_cpu(tp["cpu"])
            if stage_cpu > proc_cpu:
                raise metrics.CheckFailed(
                    f"stage CPU {stage_cpu:.2f}s exceeds process-tree CPU "
                    f"{proc_cpu:.2f}s")
            out["layers"] = dict(traced.layers)
            out["layers"].update({
                "session.start_s": session_s,
                "pyworker.cpu_s": tp["cpu"]["pyworker"],
                "jvm.cpu_s": tp["cpu"]["jvm"],
                "driver.cpu_s": tp["cpu"]["driver"],
                "proc.peak_rss_mb": tracer.peak_rss_mb,
                "trace.overhead_s": tp["wall"] - out["pass_s"]})
    finally:
        common.stop_session(spark)
    out.update(correct=not bad and failed == 0, attempted=attempted,
               failed=failed,
               problems=[f"{name}: {err}" for name, err in bad.items()])
    return out


def _summarize(passes: list[dict], setup_s: float) -> dict:
    lat = [x for p in passes for x in p["lat"]]
    tail_p, tail_v = metrics.tail(lat)
    return {
        "setup_s": setup_s,
        "pass_s": metrics.median(p["wall"] for p in passes),
        "pass_cpu_s": metrics.median(metrics.system_cpu(p["cpu"])
                                     for p in passes),
        "figures": {"query_p50_s": metrics.median(lat),
                    "query_tail_s": tail_v, "query_tail_pct": tail_p,
                    "query_samples": len(lat)},
        "pass_walls": [p["wall"] for p in passes],
        "cpu_split": passes[len(passes) // 2]["cpu"],
    }
