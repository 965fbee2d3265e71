"""The bzip2 and xz stream loops (`sources/bzip2.py`, `sources/xz.py`)
over the stdlib C decoders, checked against the stdlib writers
(bz2 / lzma) and on framing edge cases: multi-block bz2 streams,
concatenated streams, stream padding, all xz check variants,
truncation, trailing data and corruption detection, and the
tar.bz2/tar.xz composite scans end to end."""

from __future__ import annotations

import bz2 as std_bz2
import lzma as std_lzma
import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from lswms_forage_etl_spark.sources import bzip2 as B  # noqa: E402
from lswms_forage_etl_spark.sources import xz as X  # noqa: E402

_R = random.Random(20240815)

PAYLOADS = [
    b"",
    b"x",
    b"hello world",
    b"a" * 4096,
    bytes(_R.randrange(256) for _ in range(5000)),
    b"the quick brown fox jumps over the lazy dog " * 300,
    bytes(_R.randrange(4) for _ in range(150_000)),
]


# -------------------------------------------------------------- bzip2


@pytest.mark.parametrize("level", [1, 5, 9])
def test_bzip2_roundtrip_all_levels(level):
    for data in PAYLOADS:
        assert B.decompress(std_bz2.compress(data, level)) == data


def test_bzip2_multiblock_stream():
    # level 1 => 100k block size; 250k of low-entropy data spans
    # multiple blocks in ONE stream
    data = bytes(_R.randrange(8) for _ in range(250_000))
    comp = std_bz2.compress(data, 1)
    assert B.decompress(comp) == data


def test_bzip2_concatenated_streams():
    comp = (std_bz2.compress(b"first|", 9)
            + std_bz2.compress(b"second|", 1)
            + std_bz2.compress(b"", 5)
            + std_bz2.compress(b"third", 9))
    assert B.decompress(comp) == b"first|second|third"
    # stdlib agrees on the same bytes
    assert std_bz2.decompress(comp) == b"first|second|third"


def test_bzip2_truncation_and_corruption_raise():
    comp = std_bz2.compress(b"some payload worth checking", 9)
    with pytest.raises(ValueError):
        B.decompress(comp[:-3])
    flipped = bytearray(comp)
    flipped[len(comp) // 2] ^= 0xFF     # flip a mid-stream byte
    with pytest.raises((ValueError, NotImplementedError, IndexError)):
        B.decompress(bytes(flipped))
    with pytest.raises(ValueError):
        B.decompress(b"NOTBZ" + comp)


# ----------------------------------------------------------------- xz


@pytest.mark.parametrize("preset", [0, 6, 9])
def test_xz_roundtrip_all_presets(preset):
    for data in PAYLOADS:
        assert X.decompress(std_lzma.compress(data, preset=preset)) \
            == data


@pytest.mark.parametrize("check", [std_lzma.CHECK_NONE,
                                   std_lzma.CHECK_CRC32,
                                   std_lzma.CHECK_CRC64,
                                   std_lzma.CHECK_SHA256])
def test_xz_all_check_variants(check):
    data = b"integrity-checked payload " * 40
    assert X.decompress(std_lzma.compress(data, check=check)) == data


def test_xz_concatenated_streams_with_padding():
    comp = (std_lzma.compress(b"first|")
            + b"\x00" * 8
            + std_lzma.compress(b"second|",
                                check=std_lzma.CHECK_CRC32)
            + std_lzma.compress(b"third"))
    assert X.decompress(comp) == b"first|second|third"
    # stdlib lzma.decompress SILENTLY DROPS everything after stream
    # padding (same silent-truncation family as single-shot
    # zlib.decompress on multi-member gzip — the round-14 tar.gz
    # lesson); the xz CLI reads all three streams. Pin the trap so a
    # future "simplify to stdlib" refactor can't lose data.
    assert std_lzma.decompress(comp) == b"first|"


def test_xz_concatenated_streams_no_padding_stdlib_agrees():
    comp = (std_lzma.compress(b"first|")
            + std_lzma.compress(b"second|",
                                check=std_lzma.CHECK_CRC32))
    assert X.decompress(comp) == b"first|second|"
    assert std_lzma.decompress(comp) == b"first|second|"


def test_xz_misaligned_padding_raises():
    comp = (std_lzma.compress(b"a") + b"\x00" * 3
            + std_lzma.compress(b"b"))
    with pytest.raises(ValueError):
        X.decompress(comp)


def test_xz_corruption_raises():
    comp = bytearray(std_lzma.compress(b"payload " * 100))
    comp[len(comp) // 2] ^= 0x01
    with pytest.raises((ValueError, IndexError)):
        X.decompress(bytes(comp))


def test_xz_check_field_verified():
    comp = bytearray(std_lzma.compress(b"check me " * 50))
    # the CRC64 check field sits right before the index; flip a byte
    # inside the uncompressed-data check by flipping near the end of
    # the block (before index+footer = last ~40 bytes)
    comp[-45] ^= 0xFF
    with pytest.raises((ValueError, IndexError)):
        X.decompress(bytes(comp))


def test_lzma1_alone_format_rejected():
    comp = std_lzma.compress(b"legacy", format=std_lzma.FORMAT_ALONE)
    with pytest.raises(ValueError):
        X.decompress(comp)


_XZ = std_lzma.compress(b"payload " * 50)
_BZ = std_bz2.compress(b"payload " * 50, 9)


@pytest.mark.parametrize("codec, buf, want", [
    (X, _XZ + b"\x00" * 4, b"payload " * 50),
    (X, _XZ + b"\x00" * 3, ValueError),
    (X, _XZ[:-5], ValueError),
    (X, _XZ + b"garbage!", ValueError),
    (B, _BZ + b"garbage!", ValueError),
    (X, _XZ + _XZ[:-5], ValueError),
    (B, _BZ + _BZ[:-5], ValueError),
    (X, b"", b""),
], ids=["xz-pad4", "xz-pad3", "xz-truncated", "xz-trailing",
        "bz2-trailing", "xz-truncated-2nd", "bz2-truncated-2nd",
        "xz-empty"])
def test_decoder_edge_case_contract(codec, buf, want):
    if want is ValueError:
        with pytest.raises(ValueError):
            codec.decompress(buf)
    else:
        assert codec.decompress(buf) == want


# ------------------------------------------------- composite scans


def test_tar_bz2_xz_composite_scan(spark):
    from lswms_forage_etl_spark.sources.archive import (
        parse_tar, synth_tarbz2_media, synth_tarxz_media)

    docs = spark.createDataFrame(
        [(i, f"doc body {i} " * (1 + i % 5), "en", "s", 10)
         for i in range(24)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    for synth in (synth_tarbz2_media, synth_tarxz_media):
        media = synth(docs).collect()
        assert len(media) == 3           # 24 docs / 8 per archive
        seen = {}
        for row in media:
            for name, content in parse_tar(bytes(row["payload"])):
                seen[name] = content
        assert len(seen) == 24
        assert seen["doc-7.txt"] == ("doc body 7 " * 3).encode()
