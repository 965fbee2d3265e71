"""bzip2 member codec behind `.tar.bz2` composite scans: a stream loop
over the stdlib C decoder (`bz2.BZ2Decompressor`).

Concatenated streams are legal (what pbzip2 emits), so every stream is
read: a fresh decompressor starts on the previous one's `unused_data`
until the buffer is empty. Unlike `bz2.decompress`, which ignores
trailing bytes that are not a stream, anything after the last stream
raises. Errors surface as `ValueError`, the type every other archive
reader here raises.
"""

from __future__ import annotations

import bz2


def decompress(buf: bytes) -> bytes:
    """All concatenated bzip2 streams of `buf`, decoded; `ValueError` on
    corrupt, truncated or trailing data."""
    out = []
    while buf:
        d = bz2.BZ2Decompressor()
        try:
            out.append(d.decompress(buf))
        except OSError as e:
            raise ValueError(f"bzip2: {e}") from e
        if not d.eof:
            raise ValueError("bzip2: truncated stream")
        buf = d.unused_data
    return b"".join(out)
