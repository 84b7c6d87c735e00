"""Pure arithmetic behind the benchmark's numbers (no Spark, no I/O).

Kept apart from the workload code so the rules that turn raw samples into
reported metrics are unit-tested on their own (perfbench/tests).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Mapping


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[min(rank, len(xs)) - 1]


def tail_percentile(n: int, cap: float = 99.0, beyond: int = 10) -> float:
    """The highest percentile that still has ``beyond`` samples above it
    in a run of ``n`` samples, capped at ``cap`` and floored at the
    median: a run of fewer than ``2 * beyond`` samples supports no tail
    beyond its median, so the tail then reads as the median."""
    if n <= 0:
        raise ValueError("tail of no samples")
    p = 100.0 * (n - beyond) / n
    return max(50.0, min(cap, math.floor(p * 100) / 100))


def tail(values: list[float], cap: float = 99.0) -> tuple[float, float]:
    """``(percentile, value)`` of the tail latency under the rule above;
    never below the median (nearest rank can fall under an even-count
    median)."""
    p = tail_percentile(len(values), cap)
    return p, max(percentile(values, p), median(values))


def median(values: Iterable[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


#: process role of each CPU consumer in the measured tree
ROLES = ("driver", "jvm", "pyworker", "bridge", "sender", "other")


def classify(cmdline: str, comm: str, driver_pid: int, pid: int) -> str:
    """Role of one process from its command line (``\\0`` → space)."""
    if pid == driver_pid:
        return "driver"
    if comm == "java" or " org.apache.spark." in f" {cmdline}":
        return "jvm"
    if "pyspark.daemon" in cmdline or "pyspark.worker" in cmdline \
            or "pyspark/daemon" in cmdline or "pyspark/worker" in cmdline:
        return "pyworker"
    if "bridge_child" in cmdline:
        return "bridge"
    if "sender" in cmdline and "perfbench" in cmdline:
        return "sender"
    return "other"


def cpu_by_role(before: Mapping[int, tuple[float, float]],
                after: Mapping[int, tuple[float, float]],
                roles: Mapping[int, str]) -> dict[str, float]:
    """Split the CPU burned between two per-PID ``(self, reaped-children)``
    snapshots by process role.

    Self time is charged to the process's own role.  Reaped-children
    time is charged to the role of the children a parent of that role
    reaps: the JVM reaps the pyspark daemon and the daemon reaps its
    workers, so both pass reaped time to ``pyworker``; what the driver
    reaps (the benchmark's own helper processes) goes to ``other``.
    Reaped time already visible before the interval is compensated as
    ``bench._cpu_delta`` does, by the full before-total of every PID
    that vanished, so over a tree without helpers the roles sum to
    ``bench._cpu_delta``."""
    out = {r: 0.0 for r in ROLES}
    for pid, (s, _c) in after.items():
        out[roles.get(pid, "other")] += max(0.0, s - before.get(pid, (0.0, 0.0))[0])
    kid_d: dict[str, float] = {}
    for pid, (_s, c) in after.items():
        d = max(0.0, c - before.get(pid, (0.0, 0.0))[1])
        if d:
            r = _reaped_role(roles.get(pid, "other"))
            kid_d[r] = kid_d.get(r, 0.0) + d
    vanished: dict[str, float] = {}
    for pid, (s, c) in before.items():
        if pid not in after:
            r = roles.get(pid, "other")
            vanished[r] = vanished.get(r, 0.0) + s + c
    for r in set(kid_d) | set(vanished):
        out[r] += max(0.0, kid_d.get(r, 0.0) - vanished.get(r, 0.0))
    return out


def _reaped_role(parent_role: str) -> str:
    return {"jvm": "pyworker", "pyworker": "pyworker"}.get(parent_role,
                                                          "other")


def flow_lags(stamps_ms: Iterable[int], batch_of: Iterable[int],
              commit_s: Mapping[int, float]) -> list[float]:
    """Per-flow ingest lag in seconds: the commit time of the micro-batch
    that wrote the flow minus the send stamp the generator put in the
    flow's timestamp field.  A flow whose batch has no commit raises: an
    uncommitted batch means the drain was not finished."""
    return [commit_s[b] - ms / 1000.0 for ms, b in zip(stamps_ms, batch_of)]


def lag_growth(stamps_ms: list[int], lags: list[float]) -> float:
    """Median lag of the flows sent in the last third of the window minus
    that of the first third: near 0 while the pipeline keeps up with the
    offered load, growing with the window once it falls behind."""
    lo, hi = min(stamps_ms), max(stamps_ms)
    third = (hi - lo) / 3
    first = [g for s, g in zip(stamps_ms, lags) if s <= lo + third]
    last = [g for s, g in zip(stamps_ms, lags) if s >= hi - third]
    return median(last) - median(first)


def conservation(sent: Mapping[tuple, tuple[int, int]],
                 committed: Mapping[tuple, tuple[int, int]],
                 lost: Mapping[tuple, tuple[int, int]]) -> list[str]:
    """Check ``sent == committed + lost`` per key, where each value is a
    ``(flows, bytes)`` pair.  Returns one message per key that does not
    balance (empty when everything sent is either committed or counted
    as lost)."""
    bad = []
    for key in sorted(set(sent) | set(committed) | set(lost), key=str):
        s = sent.get(key, (0, 0))
        c = committed.get(key, (0, 0))
        x = lost.get(key, (0, 0))
        if (s[0], s[1]) != (c[0] + x[0], c[1] + x[1]):
            bad.append(f"{key}: sent {s} != committed {c} + lost {x}")
    return bad


#: roles whose CPU counts as the system's: the sender is the load
#: generator and ``other`` holds reaped helpers, so neither is charged
SYSTEM_ROLES = ("driver", "jvm", "pyworker", "bridge")


def system_cpu(split: Mapping[str, float]) -> float:
    return sum(split.get(r, 0.0) for r in SYSTEM_ROLES)


class CheckFailed(Exception):
    """A self-check on the measurements did not hold (layers that do not
    add up); the run stops instead of reporting numbers that lie."""
