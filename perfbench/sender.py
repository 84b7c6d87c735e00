"""Open-loop load generator: replays a seeded corpus to the bridge.

    python3 perfbench/sender.py <port> <seed> <layout_seed> <n_dgrams> <rate> \
        <formats> <seq_base> <template_s>

Each exporter sends from its own loopback address.  Datagrams of all
exporters are interleaved and due at ``t0 + k / rate`` whatever the
receiver does; each is stamped with its due time (ms) in the flows' end
timestamp, so lag is measured from when a datagram was due, and a late
generator shows up in ``max_late_s`` instead of hiding as lower load.
Exporters re-announce their templates by the send clock
(``corpus.Announcer``, every ``template_s`` seconds).  Prints one JSON
line: datagrams sent, first and last due time, and how late the
generator ran.
"""

from __future__ import annotations

import json
import os
import socket
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402


def main() -> None:
    port, seed, layout_seed, n = (int(a) for a in sys.argv[1:5])
    rate, formats = float(sys.argv[5]), tuple(sys.argv[6].split(","))
    seq_base, template_s = int(sys.argv[7]), float(sys.argv[8])
    c = corpus.make_corpus(seed, n, formats, seq_base, layout_seed)
    socks = []
    for e in c.exporters:
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        s.bind((e.ip, 0))
        socks.append(s)
    # each exporter's datagrams spread evenly over the window, interleaved
    pos = np.concatenate([np.arange(e.n_dgrams) / e.n_dgrams
                          for e in c.exporters])
    order = np.argsort(pos, kind="stable")
    exp = c.dgram_exporter[order]
    final = np.zeros(len(order), dtype=bool)  # each exporter's last datagram
    final[len(exp) - 1 - np.unique(exp[::-1], return_index=True)[1]] = True
    announce = corpus.Announcer(len(c.exporters), template_s)
    dest = ("127.0.0.1", port)
    t0 = time.time() + 0.2
    max_late = 0.0
    for k, i in enumerate(order):
        due = t0 + k / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        else:
            max_late = max(max_late, -wait)
        x = exp[k]
        tmpl = announce(x, time.monotonic(), bool(final[k]))
        socks[x].sendto(corpus.encode(c, int(i), int(due * 1000), tmpl),
                        dest)
    for s in socks:
        s.close()
    print(json.dumps({"sent": len(order), "first_due": t0,
                      "last_due": t0 + (len(order) - 1) / rate,
                      "max_late_s": max_late}), flush=True)


if __name__ == "__main__":
    main()
