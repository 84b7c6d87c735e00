"""Seeded flow corpus for the collector workloads, encoded without
per-flow Python objects.

A corpus is a set of exporters (loopback addresses), each speaking one
wire format: NetFlow v5, NetFlow v9, IPFIX with the fixed 12-field
template, or IPFIX whose template adds applicationName (IE 96) as a
variable-length string.  Flow fields are numpy arrays; records are packed
with big-endian structured dtypes and each datagram is one header plus a
slice of record bytes.  A datagram's flows all carry the same end
timestamp, the stamp passed to :func:`encode`: the send time for the live
workload, which makes per-flow lag readable from the decoded rows.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

PER_DGRAM = 30        # records per datagram (v5's maximum)
UPTIME_MS = 100_000_000  # exporter sysUptime carried in v5/v9 headers
APP_IE = 96           # applicationName
VARLEN = 0xFFFF

FORMATS = ("v5", "v9", "ipfix", "ipfix_str")
PROTOS = np.array([6, 17, 1])
PROTO_P = [0.6, 0.35, 0.05]

_V5_REC = np.dtype([
    ("sa", ">u4"), ("da", ">u4"), ("nh", ">u4"), ("inif", ">u2"),
    ("outif", ">u2"), ("pkts", ">u4"), ("oct", ">u4"), ("first", ">u4"),
    ("last", ">u4"), ("sp", ">u2"), ("dp", ">u2"), ("p1", "u1"),
    ("flg", "u1"), ("pr", "u1"), ("tos", "u1"), ("sas", ">u2"),
    ("das", ">u2"), ("sm", "u1"), ("dm", "u1"), ("p2", ">u2")])
_V9_FIELDS = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1),
              (2, 4), (1, 4), (22, 4), (21, 4), (16, 2), (17, 2)]
_V9_REC = np.dtype([
    ("sa", ">u4"), ("da", ">u4"), ("sp", ">u2"), ("dp", ">u2"),
    ("pr", "u1"), ("flg", "u1"), ("pkts", ">u4"), ("oct", ">u4"),
    ("first", ">u4"), ("last", ">u4"), ("sas", ">u2"), ("das", ">u2")])
_IPFIX_FIELDS = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1),
                 (2, 4), (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
_IPFIX_REC = np.dtype([
    ("sa", ">u4"), ("da", ">u4"), ("sp", ">u2"), ("dp", ">u2"),
    ("pr", "u1"), ("flg", "u1"), ("pkts", ">u4"), ("oct", ">u4"),
    ("first", ">u8"), ("last", ">u8"), ("sas", ">u4"), ("das", ">u4")])
_V9_TID, _IPFIX_TID = 300, 256
_APPS = ["http", "https", "dns", "ssh", "smtp", "imap", "ntp", "quic",
         "rtp-video", "bittorrent", "netflix-stream", "teams-voice"]


@dataclass
class Exporter:
    ip: str
    fmt: str
    n_dgrams: int


@dataclass
class Corpus:
    """Flow fields in datagram order per exporter, plus the per-datagram
    ledger the checks balance against."""
    exporters: list[Exporter]
    dgram_exporter: np.ndarray   # exporter index of each datagram
    dgram_seq: np.ndarray        # header sequence number of each datagram
    flow_dgram: np.ndarray       # datagram index of each flow
    fields: dict[str, np.ndarray]
    apps: np.ndarray             # object array; None where no string IE

    @property
    def n_flows(self) -> int:
        return len(self.flow_dgram)


def make_corpus(seed: int, n_dgrams: int, formats: tuple[str, ...],
                seq_base: int = 0, layout_seed: int | None = None) -> Corpus:
    """``n_dgrams`` datagrams spread over a seeded number of exporters.

    Every format in ``formats`` gets exporters (two to four per format,
    drawn from ``layout_seed``, default ``seed``) and an equal share of
    the datagrams, so the decode-path mix is fixed while exporter count,
    field values and strings vary.  Corpora sharing a ``layout_seed``
    give each loopback address the same wire format."""
    layout = np.random.default_rng(seed if layout_seed is None
                                   else layout_seed)
    rng = np.random.default_rng(seed)
    exporters: list[Exporter] = []
    per_fmt = n_dgrams // len(formats)
    for fmt in formats:
        k = int(layout.integers(2, 5))
        split = np.full(k, per_fmt // k)
        split[: per_fmt % k] += 1
        for n in split:
            exporters.append(Exporter(f"127.0.0.{len(exporters) + 2}", fmt,
                                      int(n)))
    d_exp = np.repeat(np.arange(len(exporters)),
                      [e.n_dgrams for e in exporters])
    d_idx = np.concatenate([np.arange(e.n_dgrams) for e in exporters])
    n = len(d_exp) * PER_DGRAM
    flow_dgram = np.repeat(np.arange(len(d_exp)), PER_DGRAM)
    fields = {
        "sa": rng.integers(0x0A000000, 0x0AFFFFFF, n, dtype=np.uint32),
        "da": rng.integers(0xC0A80000, 0xC0A8FFFF, n, dtype=np.uint32),
        "sp": rng.integers(1024, 65535, n, dtype=np.uint16),
        "dp": rng.choice(np.array([53, 80, 123, 443, 8080], np.uint16), n),
        "pr": rng.choice(PROTOS, n, p=PROTO_P).astype(np.uint8),
        "flg": rng.integers(0, 64, n, dtype=np.uint8),
        "pkts": rng.integers(1, 1000, n, dtype=np.uint32),
        "sas": rng.integers(1, 65535, n, dtype=np.uint32),
        "das": rng.integers(1, 65535, n, dtype=np.uint32),
        "dur": rng.integers(0, 5000, n, dtype=np.uint32),
    }
    fields["oct"] = (fields["pkts"] * rng.integers(40, 1500, n)).astype(
        np.uint32)
    is_str = np.array([exporters[e].fmt == "ipfix_str" for e in d_exp])
    apps = np.full(n, None, dtype=object)
    str_flows = np.repeat(is_str, PER_DGRAM)
    k = int(str_flows.sum())
    if k:
        base = np.array(_APPS, dtype=object)[rng.integers(0, len(_APPS), k)]
        suffix = rng.integers(0, 1000, k).astype(str).astype(object)
        apps[str_flows] = base + "/" + suffix
    # v5 and IPFIX sequence numbers count flows, v9's count datagrams
    per = np.array([PER_DGRAM if exporters[e].fmt != "v9" else 1
                    for e in d_exp])
    return Corpus(exporters, d_exp, seq_base + d_idx * per, flow_dgram,
                  fields, apps)


def _v5(c: Corpus, sl: slice, seq: int, stamp_ms: int) -> bytes:
    f = c.fields
    r = np.zeros(sl.stop - sl.start, _V5_REC)
    for k in ("sa", "da", "pkts", "oct", "sp", "dp", "flg", "pr",
              "sas", "das"):
        r[k] = f[k][sl]
    r["last"] = UPTIME_MS
    r["first"] = UPTIME_MS - f["dur"][sl]
    hdr = struct.pack(">HHIIIIBBH", 5, len(r), UPTIME_MS, stamp_ms // 1000,
                      (stamp_ms % 1000) * 1_000_000, seq, 0, 0, 0)
    return hdr + r.tobytes()


def _v9(c: Corpus, sl: slice, seq: int, stamp_ms: int, tmpl: bool) -> bytes:
    f = c.fields
    r = np.zeros(sl.stop - sl.start, _V9_REC)
    for k in ("sa", "da", "sp", "dp", "pr", "flg", "pkts", "oct", "sas",
              "das"):
        r[k] = f[k][sl]
    # boot = unixSecs*1000 - sysUptime, so LAST = sysUptime + the stamp's
    # sub-second part decodes to exactly stamp_ms
    r["last"] = UPTIME_MS + stamp_ms % 1000
    r["first"] = r["last"] - f["dur"][sl]
    body = b""
    if tmpl:
        t = struct.pack(">HH", _V9_TID, len(_V9_FIELDS)) + b"".join(
            struct.pack(">HH", ie, ln) for ie, ln in _V9_FIELDS)
        body += struct.pack(">HH", 0, 4 + len(t)) + t
    recs = r.tobytes()
    body += struct.pack(">HH", _V9_TID, 4 + len(recs)) + recs
    hdr = struct.pack(">HHIIII", 9, 2 if tmpl else 1, UPTIME_MS,
                      stamp_ms // 1000, seq, 1)
    return hdr + body


def _ipfix(c: Corpus, sl: slice, seq: int, stamp_ms: int, tmpl: bool,
           strings: bool) -> bytes:
    f = c.fields
    r = np.zeros(sl.stop - sl.start, _IPFIX_REC)
    for k in ("sa", "da", "sp", "dp", "pr", "flg", "pkts", "oct", "sas",
              "das"):
        r[k] = f[k][sl]
    r["last"] = stamp_ms
    r["first"] = stamp_ms - f["dur"][sl].astype(np.uint64)
    fields = _IPFIX_FIELDS + ([(APP_IE, VARLEN)] if strings else [])
    if strings:
        fixed = r.view(np.dtype((np.void, _IPFIX_REC.itemsize)))
        recs = b"".join(fx.tobytes() + bytes([len(s)]) + s
                        for fx, s in zip(fixed, (a.encode()
                                                 for a in c.apps[sl])))
    else:
        recs = r.tobytes()
    body = b""
    if tmpl:
        t = struct.pack(">HH", _IPFIX_TID, len(fields)) + b"".join(
            struct.pack(">HH", ie, ln) for ie, ln in fields)
        body += struct.pack(">HH", 2, 4 + len(t)) + t
    body += struct.pack(">HH", _IPFIX_TID, 4 + len(recs)) + recs
    return struct.pack(">HHIII", 10, 16 + len(body), stamp_ms // 1000, seq,
                       1) + body


def encode(c: Corpus, i: int, stamp_ms: int, tmpl: bool) -> bytes:
    """Datagram ``i`` of the corpus with every flow ending at
    ``stamp_ms``; ``tmpl`` puts the exporter's template in front of the
    records (v9 and IPFIX).  The decoder reads templates only from the
    micro-batch being decoded, so the caller decides when an exporter
    re-announces."""
    sl = slice(i * PER_DGRAM, (i + 1) * PER_DGRAM)
    e = c.exporters[c.dgram_exporter[i]]
    seq = int(c.dgram_seq[i])
    if e.fmt == "v5":
        return _v5(c, sl, seq, stamp_ms)
    if e.fmt == "v9":
        return _v9(c, sl, seq, stamp_ms, tmpl)
    return _ipfix(c, sl, seq, stamp_ms, tmpl, e.fmt == "ipfix_str")


class Announcer:
    """When each exporter re-announces its template: on its first
    datagram, on any datagram sent at least ``every_s`` after its last
    announcement, and on its final datagram.

    The bridge cuts an exporter's capture file once it is
    ``rotate_seconds`` old, so with ``every_s`` a quarter of that, every
    file but the last spans several announcement intervals and holds a
    template whatever the send rate (an exporter slower than one
    datagram per ``every_s`` announces on every datagram); the last
    file holds the final datagram.  The guarantee assumes the sender
    never stalls for ``every_s`` or more."""

    def __init__(self, n_exporters: int, every_s: float):
        self.last = np.full(n_exporters, -np.inf)
        self.every_s = every_s

    def __call__(self, x: int, now: float, final: bool = False) -> bool:
        if final or now - self.last[x] >= self.every_s:
            self.last[x] = now
            return True
        return False


def datagram_key(buf: bytes) -> tuple[int, int]:
    """``(version, header sequence)`` of one encoded datagram."""
    version = struct.unpack_from(">H", buf, 0)[0]
    off = {5: 16, 9: 12, 10: 8}[version]
    return version, struct.unpack_from(">I", buf, off)[0]


def expected(c: Corpus, dgrams: np.ndarray) -> dict[tuple, tuple]:
    """Per ``(exporter ip, protocol)`` totals over the given datagram
    indices: ``(flows, bytes, string flows, string chars)``."""
    mask = np.isin(c.flow_dgram, dgrams)
    exp = c.dgram_exporter[c.flow_dgram[mask]]
    pr = c.fields["pr"][mask]
    byt = c.fields["oct"][mask].astype(np.int64)
    slen = np.array([len(a) if a is not None else -1
                     for a in c.apps[mask]], dtype=np.int64)
    out: dict[tuple, tuple] = {}
    keys = exp.astype(np.int64) * 256 + pr
    for k in np.unique(keys):
        m = keys == k
        s = slen[m]
        out[(c.exporters[k // 256].ip, int(k % 256))] = (
            int(m.sum()), int(byt[m].sum()), int((s >= 0).sum()),
            int(s[s >= 0].sum()))
    return out
