"""UDP datagram bridge — the collector's front door (SURVEY §2.1 S5, §3.3).

Spark has no UDP source, so the nf2pq-equivalent deployment is:

    exporters ──UDP──▶ bridge (this module) ──capture files──▶
        spark.readStream.format("binaryFile") ──▶ decode (sources.ipfix)

The bridge is deliberately tiny and stateless: receive datagrams, frame
them (length-prefixed capture format, ``sources.capture``),
rotate the output file on a time interval — exactly the reference daemon's
buffer-and-rotate front end, minus decoding, which belongs in Spark where
it scales horizontally. One bridge process per listener address; files land
in ``out_dir/<exporter-ip>/`` so the per-exporter IPFIX template streams
stay keyed by directory (see ``ipfix._exporter_of``).

At 100 TB/day the bridge is the only vertical component; it does no
parsing, so a single socket loop sustains the O(10⁵) datagrams/s a busy
exporter emits; shard by listener port for more.
"""

from __future__ import annotations

import os
import socket
import threading
import time

from .capture import _CAPTURE_MAGIC, write_frame


class UdpCaptureBridge:
    """Listen on UDP, write rotation-interval capture files per exporter."""

    def __init__(self, host: str, port: int, out_dir: str,
                 rotate_seconds: float = 60.0, bufsize: int = 65535):
        self.addr = (host, port)
        self.out_dir = out_dir
        self.rotate_seconds = rotate_seconds
        self.bufsize = bufsize
        self._sock: socket.socket | None = None
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()
        self._files: dict[str, tuple[object, float, str]] = {}
        self._next_flush = float("inf")  # earliest rotation deadline
        self._last_name_ms = 0  # per-bridge monotone clamp for file names
        self.datagrams_received = 0
        self.write_errors = 0
        self.last_error: Exception | None = None

    # -- file management ----------------------------------------------------

    def _sink_for(self, exporter_ip: str, now: float):
        entry = self._files.get(exporter_ip)
        # a retained entry whose fh is CLOSED (the write-error path
        # finalized a non-expired capture, close succeeded, rename
        # failed) is due-for-finalize regardless of its age: a write to
        # the closed handle would raise ValueError in the receiver loop
        if (entry is not None and now - entry[1] < self.rotate_seconds
                and not entry[0].closed):
            return entry[0]
        if entry is not None:
            try:
                self._finalize(exporter_ip)
            except OSError as ex:
                # rotation failed: _finalize kept the entry (see its
                # ordering note), so the commit of the SAME capture is
                # retried at the next due scan — only THIS datagram is
                # dropped, never the buffered capture.
                self.write_errors += 1
                self.last_error = ex
                return None
        d = os.path.join(self.out_dir, exporter_ip)
        os.makedirs(d, exist_ok=True)
        # write to a dot-prefixed temp name; the streaming source must never
        # observe a half-written capture file. The NAME uses zero-padded
        # WALL-clock ms: the capture stream reader requires lexicographic
        # order == arrival order, which unpadded names break at every
        # digit rollover, and monotonic() resets on reboot (colliding with
        # — and silently replacing — previously committed files). The ms is
        # clamped monotone per bridge (an NTP step-back must not produce a
        # name that sorts before — or equals, silently replacing — an
        # already-committed file), and the pid suffix keeps port-sharded
        # bridges writing one out_dir collision-free.
        ms = max(int(time.time() * 1000), self._last_name_ms + 1)
        self._last_name_ms = ms
        tmp = os.path.join(d, f".cap_{ms:015d}_{os.getpid():07d}.bin.tmp")
        fh = open(tmp, "wb")
        fh.write(_CAPTURE_MAGIC)
        self._files[exporter_ip] = (fh, now, tmp)
        self._next_flush = min(self._next_flush, now + self.rotate_seconds)
        return fh

    def _finalize(self, exporter_ip: str) -> None:
        fh, _, tmp = self._files[exporter_ip]
        fh.close()
        final = os.path.join(os.path.dirname(tmp),
                             os.path.basename(tmp)[1:-4])  # drop dot + .tmp
        os.rename(tmp, final)
        # removed only AFTER the rename, so a transient close/rename
        # failure never orphans the .tmp and its buffered datagrams: the
        # entry stays (expired, so every later scan retries it; file
        # close is idempotent on the retry path).
        del self._files[exporter_ip]

    def _flush_expired(self, now: float) -> None:
        # rotation must not depend on the NEXT datagram arriving: an idle
        # exporter's last capture would otherwise sit as a hidden .tmp
        # (invisible to every reader) until stop()
        for exporter, (_fh, opened, _tmp) in list(self._files.items()):
            if now - opened >= self.rotate_seconds:
                try:
                    self._finalize(exporter)
                except OSError as ex:
                    # the failed exporter's entry is kept for retry; the
                    # OTHER expired exporters must still flush this scan,
                    # and the deadline below must still be recomputed
                    self.write_errors += 1
                    self.last_error = ex
        # recompute the earliest deadline over the files still open, so
        # the hot loop's per-datagram check is a single float compare
        nxt = min(
            (opened + self.rotate_seconds
             for _fh, opened, _tmp in self._files.values()),
            default=float("inf"))
        if nxt <= now:
            # a kept finalize-failed entry is already expired: retry on a
            # bounded cadence instead of rescanning on every datagram
            # while the disk stays broken
            nxt = now + min(1.0, self.rotate_seconds)
        self._next_flush = nxt

    # -- socket loop ---------------------------------------------------------

    def _loop(self) -> None:
        assert self._sock is not None
        self._sock.settimeout(0.2)
        while not self._stop.is_set():
            try:
                data, (src_ip, _src_port) = self._sock.recvfrom(self.bufsize)
            except socket.timeout:
                # a rotation failure never kills the receiver thread:
                # _flush_expired records it per-exporter and keeps the
                # failed entry for retry at the next timeout/datagram
                self._flush_expired(time.monotonic())
                continue
            now = time.monotonic()
            # under SUSTAINED traffic the 0.2s recv timeout never fires, so
            # the timeout branch alone would leave idle exporters' last
            # captures hidden as .tmp; this deadline check is one float
            # compare per datagram, scanning only when a rotation is due.
            # Rotation failure belongs to the exporter being FLUSHED, not
            # the one whose datagram we're holding — _flush_expired
            # swallows it per-exporter and RETAINS the failed handle so
            # the same capture retries.
            if now >= self._next_flush:
                self._flush_expired(now)
            try:
                fh = self._sink_for(src_ip, now)
                if fh is None:
                    continue  # this exporter's own rotation failed;
                              # datagram dropped, commit retries later
                write_frame(fh, data)
                self.datagrams_received += 1
            except (OSError, ValueError) as ex:
                # ValueError = write-to-closed-file: _sink_for's closed
                # guard should make it unreachable, but an unforeseen
                # closed-handle path must degrade like any fs error,
                # never kill the receiver thread
                # disk full / fs error: DROP the datagram (UDP gives it no
                # delivery promise) but never the receiver thread, which
                # would otherwise die silently while the bridge looks
                # healthy. COMMIT what this exporter already buffered
                # rather than abandon its earlier frames — a torn tail
                # frame is the truncated-tail state the capture reader
                # already drops; if the commit itself fails the entry
                # stays for retry.
                self.write_errors += 1
                self.last_error = ex
                if src_ip in self._files:
                    try:
                        self._finalize(src_ip)
                    except OSError as ex2:
                        # two distinct failures, two counted errors —
                        # every finalize-failure path increments the
                        # counter a monitor alerts on
                        self.write_errors += 1
                        self.last_error = ex2

    def start(self) -> "UdpCaptureBridge":
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.bind(self.addr)
        self.addr = self._sock.getsockname()  # resolve port 0
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        t = self._thread
        if t is not None:
            t.join(timeout=5)
            if t.is_alive():
                # wedged mid-write (hung disk/NFS): finalizing the files
                # it still holds would commit an interleaved/corrupt
                # capture, and closing its handles races ValueError into
                # the loop. Leave the .tmp files invisible (the
                # crash-consistent state every reader already tolerates)
                # and close only the socket so recvfrom unblocks.
                if self._sock:
                    self._sock.close()
                return
        for exporter in list(self._files):
            try:
                self._finalize(exporter)
            except OSError as ex:
                # shutdown is the last chance: commit every exporter we
                # can; a failed one stays a .tmp (the crash-consistent
                # state readers tolerate) instead of blocking the rest
                self.write_errors += 1
                self.last_error = ex
        if self._sock:
            self._sock.close()
