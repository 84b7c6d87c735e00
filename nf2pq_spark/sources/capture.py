"""Capture-file framing shared by the UDP bridge and the decoders.

A capture file holds many datagrams: the 4-byte magic, then one
``[len:u32 big-endian][datagram]`` frame per datagram. The bridge rotates
one file per interval, not one per packet: thousands of single-datagram
files would drown a scan in open() overhead.

Standard library only, so the bridge process starts without numpy, pandas
or the decoder (a restarted bridge drops traffic until it has bound).
"""

from __future__ import annotations

import os
import struct

_CAPTURE_MAGIC = b"NF2Q"
_FRAME_LEN = struct.Struct(">I")


def write_frame(fh, datagram: bytes) -> None:
    """Append one length-prefixed datagram frame to an open capture file."""
    fh.write(_FRAME_LEN.pack(len(datagram)))
    fh.write(datagram)


def write_capture_file(path: str, datagrams: list[bytes]) -> None:
    """Write a rotation-interval capture file: magic + [len:u32][datagram]*.

    The write is atomic (tmp file + rename): readers that list the directory
    — the binaryFile batch path AND the nfcapture streaming source, whose
    offset is the file-count and never re-reads a committed file — must
    never observe a half-written capture under its final name.
    """
    # dot-prefixed tmp: Spark file sources skip hidden files, so even a
    # concurrent binaryFile scan can't pick the partial file up
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(_CAPTURE_MAGIC)
        for dgram in datagrams:
            write_frame(fh, dgram)
    os.replace(tmp, path)


def iter_datagrams(buf: bytes):
    """Yield datagrams from either a capture file or a raw single datagram."""
    if buf[:4] == _CAPTURE_MAGIC:
        off = 4
        while off + 4 <= len(buf):
            (n,) = _FRAME_LEN.unpack_from(buf, off)
            off += 4
            yield buf[off:off + n]
            off += n
    else:
        yield buf
