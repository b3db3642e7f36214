"""Independent writer for the documented ``LYNX1`` WAL segment format.

The benchmark preloads the server by handing it WAL segments, so the
program replays them the way it replays its own log at start-up. This
encoder is written from the format description (big-endian integers;
``b"LYNX1"`` header; per record: namespace, measurement, value, tag
count, tags as ``type u8, key, str|u64``, then an i64 timestamp) and
imports nothing from the program, so a change to the program's encoder
cannot hide behind it.
"""

from __future__ import annotations

import struct
from pathlib import Path

HEADER = b"LYNX1"


def _string(s: str) -> bytes:
    data = s.encode("utf-8")
    return struct.pack(">Q", len(data)) + data


def encode(point: dict) -> bytes:
    out = [
        _string(point["namespace"]),
        _string(point["measurement"]),
        _string(point["value"]),
        struct.pack(">Q", len(point["metadata"])),
    ]
    for key, value in point["metadata"].items():
        if isinstance(value, int):
            out.append(b"\x01" + _string(key) + struct.pack(">Q", value))
        else:
            out.append(b"\x00" + _string(key) + _string(value))
    out.append(struct.pack(">q", point["timestamp"]))
    return b"".join(out)


def write_segments(directory: Path, points: list[dict], per_segment: int) -> list[Path]:
    """Write ``points`` as segments ``1.wal``, ``2.wal``, ... of at
    most ``per_segment`` records each; returns the paths in order."""
    directory.mkdir(parents=True, exist_ok=True)
    paths = []
    for n, start in enumerate(range(0, len(points), per_segment), start=1):
        path = directory / f"{n}.wal"
        with open(path, "wb") as f:
            f.write(HEADER)
            for p in points[start:start + per_segment]:
                f.write(encode(p))
        paths.append(path)
    return paths
