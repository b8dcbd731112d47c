"""Atomic file publication — the one shared implementation of the
tmp + rename idiom every chain/metadata writer uses (review r12: the
hand-expanded copies had a fixed tmp name, which lets two concurrent
writers interleave into the SAME temp file and publish a torn
byte-mixture — the private uuid-suffixed temp file exists precisely
to prevent that)."""

from __future__ import annotations

import os
import uuid


def atomic_write(path: str, data: bytes | str, fsync: bool = True) -> None:
    """Write ``data`` to a PRIVATE uuid-suffixed temp file, then
    ``os.replace`` onto ``path``: concurrent writers each own their
    tmp (last replace wins whole — never interleaved), readers see
    either version whole, and a crash leaves only ``*.tmp-*`` debris
    (collected by ``remove_orphan_files``). ``fsync`` flushes file
    data before the rename and the directory after it, so both the
    published content and its directory entry survive power loss."""
    mode = "wb" if isinstance(data, (bytes, bytearray)) else "w"
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, mode) as fh:
        fh.write(data)
        if fsync:
            fh.flush()
            os.fsync(fh.fileno())
    os.replace(tmp, path)
    if fsync:
        dfd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
