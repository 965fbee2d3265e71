""".xz member codec behind `.tar.xz` composite scans: a stream loop over
the stdlib C decoder (`lzma.LZMADecompressor(FORMAT_XZ)`).

The loop is load-bearing: `lzma.decompress` silently drops every
stream after xz stream padding (pinned in tests/test_bzip2_xz.py), so
never replace it with that call. Per the xz file format, streams may
be concatenated and each may be followed by stream padding, a run of
NUL bytes whose length is a multiple of 4; any other run, trailing
garbage, or the legacy `.lzma` alone format raises. Errors surface as
`ValueError`, the type every other archive reader here raises.
"""

from __future__ import annotations

import lzma


def decompress(buf: bytes) -> bytes:
    """All concatenated xz streams of `buf`, decoded; `ValueError` on
    corrupt, truncated, misaligned-padding or trailing data."""
    out = []
    while buf:
        d = lzma.LZMADecompressor(lzma.FORMAT_XZ)
        try:
            out.append(d.decompress(buf))
        except lzma.LZMAError as e:
            raise ValueError(f"xz: {e}") from e
        if not d.eof:
            raise ValueError("xz: truncated stream")
        rest = d.unused_data
        buf = rest.lstrip(b"\x00")
        if (len(rest) - len(buf)) % 4:
            raise ValueError("xz: stream padding not a multiple of 4")
    return b"".join(out)
