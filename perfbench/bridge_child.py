"""The collector's UDP bridge in a process of its own.

    python3 perfbench/bridge_child.py <capture_dir> <rotate_seconds>

Binds an ephemeral loopback port, prints ``PORT <n>`` once the socket is
bound (the parent's readiness handshake), and runs until its stdin
closes.  It then stops the bridge, which commits every open capture
file, and prints one JSON line with the bridge's counters and this
process's CPU seconds.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nf2pq_spark.sources.udp_bridge import UdpCaptureBridge  # noqa: E402


def main() -> None:
    out_dir, rotate = sys.argv[1], float(sys.argv[2])
    bridge = UdpCaptureBridge("127.0.0.1", 0, out_dir,
                              rotate_seconds=rotate).start()
    print(f"PORT {bridge.addr[1]}", flush=True)
    sys.stdin.read()  # until the parent closes the pipe
    bridge.stop()
    t = os.times()
    print(json.dumps({"datagrams_received": bridge.datagrams_received,
                      "write_errors": bridge.write_errors,
                      "cpu_s": t.user + t.system}), flush=True)


if __name__ == "__main__":
    main()
