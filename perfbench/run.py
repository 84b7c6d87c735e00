#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and listener lookups and reports the per-layer
metrics instead.  Human-readable lines come first; the last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  The exit code is 0 only when every correctness check held.
See perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: name -> unit; every workload reports all of them
END_TO_END = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s", "plans.eager_jobs": "count",
    "plans.eager_job_s": "s", "action.wall_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "pyworker.cpu_s": "s", "jvm.cpu_s": "s", "driver.cpu_s": "s",
    "proc.peak_rss_mb": "MB",
    "ipfix.decode_rps.v5": "1/s", "ipfix.decode_rps.template": "1/s",
    "ipfix.decode_rps.varlen": "1/s",
    "ipfix.harvest_s": "s", "ipfix.decode_write_s": "s",
    "sinks.bytes_per_flow": "B", "sinks.files_per_batch": "count",
    "stream.batches": "count", "stream.batch_p50_s": "s",
    "stream.overhead_s": "s",
    "udp_bridge.datagrams_received": "count",
    "udp_bridge.write_errors": "count", "udp_bridge.cpu_s": "s",
    "udp_bridge.file_commit_s": "s",
    "gen.sent": "count", "gen.max_late_s": "s",
    "trace.overhead_s": "s",
}
#: a run that has not finished by then is stopped and fails
DEADLINE_S = 170


def _workloads():
    """name -> (prepare, run): ``prepare()`` builds inputs that later runs
    reuse and is not under the run deadline; ``run(prepared, args, host,
    workdir, tracer)`` is."""
    import collector
    import queries

    return {
        "olap": (lambda: queries.prepare(queries.OLAP), queries.run),
        "curation": (lambda: queries.prepare(queries.CURATION), queries.run),
        "ingest": (lambda: None, collector.ingest),
        "backfill": (lambda: None, collector.backfill),
    }


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def _on_term(signum, frame):
    # unwind through the cleanup paths: Spark JVM, bridge, work dir
    raise SystemExit(f"stopped by signal {signum}")


def _drop_import_seeds() -> None:
    """Importing nf2pq_spark.plans seeds two per-process fixture dirs
    under /tmp; remove this process's copies so runs do not pile up."""
    mod = sys.modules.get("nf2pq_spark.plans.collector")
    for d in (getattr(mod, "_CSV_SCAN_DIR", None),
              getattr(mod, "_JSON_SCAN_DIR", None)):
        if d and d.endswith(f"_{os.getpid()}"):
            shutil.rmtree(d, ignore_errors=True)
            if os.path.exists(d + ".lock"):
                os.remove(d + ".lock")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate-per-core", type=float, default=None,
                    help="ingest: offered datagrams/s per core, for "
                         "saturation runs (default: the gated load)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nf2pq_spark")):
        print("nf2pq_spark/ not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import common

    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2
    prepare, run = workloads[args.workload]
    h = common.host()
    work = common.Workdir(args.workload, args.seed)
    tracer = common.Tracer(bool(args.trace))
    signal.signal(signal.SIGTERM, _on_term)
    try:
        common.isolate(work)
        prepared = prepare()
        signal.signal(signal.SIGALRM, _on_deadline)
        signal.alarm(DEADLINE_S)
        res = run(prepared, args, h, work, tracer)
    finally:
        signal.alarm(0)
        os.chdir(ROOT)
        work.close()
        _drop_import_seeds()
    spans = tracer.write(args.workload, args.seed)

    for p in res.get("problems", []):
        print(f"CHECK FAILED: {p}")
    print(f"host: {h['cpus']} cpus, {h['mem_gb']:.1f} GB; workload "
          f"{args.workload}, seed {args.seed}")
    if "pass_walls" in res:
        print("pass walls: " + " ".join(f"{w:.3f}" for w in res["pass_walls"]))
    print("cpu by role: " + ", ".join(
        f"{k} {v:.2f}s" for k, v in res["cpu_split"].items()))
    for k, v in res["figures"].items():
        print(f"{k}: {v:.4f}")
    print(f"failed_ratio: {res['failed'] / res['attempted']:.6f} "
          f"({res['failed']} of {res['attempted']})")
    if spans:
        print(f"spans: {spans}")
    names = PER_LAYER if args.trace else END_TO_END
    values = res.get("layers", {}) if args.trace else res
    found = {k: {"value": float(values.get(k, 0.0)), "unit": u}
             for k, u in names.items()}
    for k, m in found.items():
        print(f"{k:32s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": found}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
