"""Archive source tests (sources/archive.py): the from-scratch zip
reader against the INDEPENDENT stdlib-zipfile writer, the WARC codec
against stdlib gzip, corruption/unsupported gates, and the Spark
member-scan end to end."""

from __future__ import annotations

import gzip
import hashlib
import io
import zipfile

import pytest

from lswms_forage_etl_spark.sources.archive import (
    encode_tar,
    encode_warc,
    encode_zip,
    parse_tar,
    parse_warc,
    parse_zip,
    scan_tar_members,
    scan_warc_records,
    scan_zip_members,
    synth_tar_media,
    synth_warc_media,
    synth_zip_media,
)

MEMBERS = [("a.txt", b"hello world", False),
           ("big.txt", b"spark " * 2000, True),
           ("dir/nested.txt", "unicode éü".encode(), True),
           ("empty.bin", b"", False)]


def test_zip_roundtrip_against_stdlib_writer():
    buf = encode_zip(MEMBERS)
    assert parse_zip(buf) == [(n, c) for n, c, _ in MEMBERS]
    # and the stdlib READER agrees with our writer's bytes
    with zipfile.ZipFile(io.BytesIO(buf)) as zf:
        assert [(i.filename, zf.read(i.filename)) for i in zf.infolist()] \
            == [(n, c) for n, c, _ in MEMBERS]


def test_zip_parser_reads_foreign_zipfile_bytes():
    # a zip written by stdlib WITHOUT our fixed-timestamp convention
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("x/y.txt", b"payload bytes here")
        zf.writestr("z.txt", b"")
    got = parse_zip(buf.getvalue())
    assert got == [("x/y.txt", b"payload bytes here"), ("z.txt", b"")]


def test_zip_crc_corruption_detected():
    buf = bytearray(encode_zip([("a.txt", b"0123456789abcdef", False)]))
    # flip a content byte inside the stored member
    i = bytes(buf).find(b"0123456789abcdef")
    buf[i] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-32"):
        parse_zip(bytes(buf))


def test_zip_gates():
    with pytest.raises(ValueError, match="end-of-central"):
        parse_zip(b"not a zip at all")
    # encrypted flag set in the central directory
    buf = bytearray(encode_zip([("a.txt", b"secret", False)]))
    cd = bytes(buf).find(b"PK\x01\x02")
    buf[cd + 8] |= 0x1
    with pytest.raises(NotImplementedError, match="encrypted"):
        parse_zip(bytes(buf))


def test_warc_roundtrip_and_stdlib_gzip_agreement():
    recs = [("http://corpus/doc/1", b"hello"),
            ("http://corpus/doc/2", b"x" * 3000),
            ("http://corpus/doc/3", b"")]
    buf = encode_warc(recs)
    got = parse_warc(buf)
    assert [(h["WARC-Target-URI"], c) for h, c in got] == recs
    assert all(h["WARC-Type"] == "response" for h, _ in got)
    # stdlib gzip can read our fixed-header members (concatenated)
    assert gzip.decompress(buf).startswith(b"WARC/1.0")
    assert buf == encode_warc(recs)        # byte-determinism


def test_warc_truncation_detected():
    buf = encode_warc([("u", b"abcdef")])
    inner = gzip.decompress(buf)
    bad = gzip.compress(inner[:-4], mtime=0)   # drop the trailer
    with pytest.raises(ValueError, match="trailer|truncated"):
        parse_warc(bad)


def test_tar_roundtrip_against_stdlib_writer():
    import tarfile
    members = [(n, c) for n, c, _ in MEMBERS]
    buf = encode_tar(members)
    assert parse_tar(buf) == members
    # stdlib READER agrees with the bytes our writer produced
    with tarfile.open(fileobj=io.BytesIO(buf)) as tf:
        got = [(m.name, tf.extractfile(m).read())
               for m in tf.getmembers()]
    assert got == members


def test_tar_parser_reads_foreign_tarfile_bytes():
    import tarfile
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        info = tarfile.TarInfo("plain.txt")
        data = b"written by stdlib with default metadata"
        info.size = len(data)
        info.mtime = 1700000000
        info.mode = 0o755
        tf.addfile(info, io.BytesIO(data))
        d = tarfile.TarInfo("dir/")             # directory entry skipped
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
    got = parse_tar(buf.getvalue())
    assert got == [("plain.txt", data)]


def test_tar_gates():
    buf = bytearray(encode_tar([("a.txt", b"abc")]))
    buf[0] ^= 0xFF                              # corrupt the name field
    with pytest.raises(ValueError, match="checksum"):
        parse_tar(bytes(buf))
    import tarfile
    pax = io.BytesIO()
    with tarfile.open(fileobj=pax, mode="w",
                      format=tarfile.PAX_FORMAT) as tf:
        info = tarfile.TarInfo("x" * 150)       # forces a PAX header
        info.size = 0
        tf.addfile(info)
    with pytest.raises(NotImplementedError, match="PAX"):
        parse_tar(pax.getvalue())


def test_tar_gz_autodetect():
    import tarfile
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        info = tarfile.TarInfo("a.txt")
        info.size = 3
        tf.addfile(info, io.BytesIO(b"abc"))
    assert parse_tar(buf.getvalue()) == [("a.txt", b"abc")]


def test_tar_gz_concatenated_members():
    """Concatenated gzip members (RFC 1952 — the pigz/block-parallel
    shape): a single-shot inflate would silently truncate the tar at
    the first member boundary and LOSE the later files; the member
    loop must recover all of them, at block-aligned and arbitrary
    split points alike."""
    from lswms_forage_etl_spark.sources.archive import encode_tar
    members = [(f"m{i}.txt", f"body {i} ".encode() * (i + 2))
               for i in range(6)]
    tar = encode_tar(members)
    for split in (512, 1000, len(tar) // 2, len(tar) - 7):
        gz = (gzip.compress(tar[:split], 6, mtime=0)
              + gzip.compress(tar[split:], 6, mtime=0))
        assert parse_tar(gz) == members, split
    # three members
    gz3 = b"".join(gzip.compress(tar[i::3][:0] or tar[j:j + len(tar) // 3 + 1], 6, mtime=0)
                   for i, j in enumerate(range(0, len(tar),
                                               len(tar) // 3 + 1)))
    assert parse_tar(gz3) == members
    # stalled / garbage after a valid member raises loudly
    with pytest.raises(Exception):
        parse_tar(gzip.compress(tar, 6, mtime=0) + b"\x1f\x8bgarbage")


def test_scan_targz_members_spark(spark):
    """Graded-path shape: odd archives carry TWO gzip members; the
    scan output matches the plain-tar scan exactly."""
    from lswms_forage_etl_spark.sources.archive import (
        scan_tar_members, synth_tar_media, synth_targz_media)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(24)
    plain = sorted(map(tuple, scan_tar_members(
        synth_tar_media(docs)).collect()))
    gz = sorted(map(tuple, scan_tar_members(
        synth_targz_media(docs)).collect()))
    assert gz == plain and len(gz) == 24


def test_streaming_zip_ingest(spark, tmp_path):
    # archives land as files; a binaryFile stream + availableNow batch
    # scans members through the same from-scratch reader (the corpus-
    # ingest composition: container scan at the streaming boundary)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(24)
    zips = synth_zip_media(docs).collect()
    src_dir = tmp_path / "landing"
    src_dir.mkdir()
    for r in zips:
        (src_dir / f"{r['archive_id']}.zip").write_bytes(r["payload"])
    stream = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary")
              .option("pathGlobFilter", "*.zip")
              .load(str(src_dir))
              .selectExpr("cast(0 as long) as archive_id",
                          "content as payload"))
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (scan_zip_members(stream).writeStream
         .format("parquet").option("path", str(out_dir))
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(str(out_dir))
    assert got.count() == docs.count()
    names = {r["member_name"] for r in got.collect()}
    assert names == {f"doc-{r['doc_id']}.txt" for r in docs.collect()}


def test_scan_tar_members_end_to_end(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = scan_tar_members(synth_tar_media(docs)).collect()
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(out) == len(src)
    for r in out:
        did = int(r["member_name"][4:-4])
        raw = src[did].encode()
        assert r["content_fp"] == hashlib.md5(raw).hexdigest()
        assert r["n_bytes"] == len(raw)


def test_scan_zip_members_end_to_end(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = scan_zip_members(synth_zip_media(docs)).collect()
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(out) == len(src)
    for r in out:
        did = int(r["member_name"][4:-4])
        raw = src[did].encode()
        assert r["archive_id"] == did - did % 8
        assert r["n_bytes"] == len(raw)
        assert r["content_fp"] == hashlib.md5(raw).hexdigest()


def test_scan_warc_records_end_to_end(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = scan_warc_records(synth_warc_media(docs)).collect()
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(out) == len(src)
    for r in out:
        did = int(r["member_name"].rsplit("/", 1)[1])
        raw = src[did].encode()
        assert r["n_bytes"] == len(raw)
        assert r["content_fp"] == hashlib.md5(raw).hexdigest()


def test_write_zip_shards_roundtrip_and_idempotence(spark, tmp_path):
    from lswms_forage_etl_spark.sources.archive import write_zip_shards
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(40)
    out = str(tmp_path / "export")
    m1 = {r["archive_id"]: (r["file"], r["n_members"], r["n_bytes"])
          for r in write_zip_shards(docs, out).collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    # every doc lands exactly once across the shards, content exact
    seen = {}
    import os
    for aid, (fname, n_members, n_bytes) in m1.items():
        buf = open(os.path.join(out, fname), "rb").read()
        assert len(buf) == n_bytes
        members = parse_zip(buf)
        assert len(members) == n_members
        for name, content in members:
            seen[int(name[4:-4])] = content
    assert set(seen) == set(src)
    assert all(seen[i] == src[i].encode() for i in src)
    # idempotent resume: re-run skips existing files (mtimes unchanged)
    stats = {f: os.stat(os.path.join(out, f)).st_mtime_ns
             for f, _, _ in m1.values()}
    m2 = {r["archive_id"]: (r["file"], r["n_members"], r["n_bytes"])
          for r in write_zip_shards(docs, out).collect()}
    assert m2 == m1
    for f, t in stats.items():
        assert os.stat(os.path.join(out, f)).st_mtime_ns == t


def test_zip64_parse_against_forced_stdlib_writer():
    """Zip64 (round 12): saturated EOCD + per-member 0x0001 extras,
    produced by the INDEPENDENT stdlib writer with its zip64 limits
    patched down so every record takes the 64-bit form."""
    import io
    import zipfile
    from unittest import mock

    from lswms_forage_etl_spark.sources.archive import parse_zip

    payloads = [(f"m{i}.txt", bytes([65 + i]) * (100 + i), i % 2 == 0)
                for i in range(5)]
    with mock.patch.object(zipfile, "ZIP64_LIMIT", 10), \
            mock.patch.object(zipfile, "ZIP_FILECOUNT_LIMIT", 2):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", allowZip64=True) as zf:
            for name, content, deflate in payloads:
                info = zipfile.ZipInfo(name,
                                       date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = (zipfile.ZIP_DEFLATED if deflate
                                      else zipfile.ZIP_STORED)
                zf.writestr(info, content, compresslevel=6)
        data = buf.getvalue()
    assert b"PK\x06\x06" in data          # the writer went zip64
    assert parse_zip(data) == [(n, c) for n, c, _ in payloads]
    # ordinary archives still parse through the classic EOCD path
    plain = io.BytesIO()
    with zipfile.ZipFile(plain, "w") as zf:
        zf.writestr(zipfile.ZipInfo("a", date_time=(1980, 1, 1, 0, 0, 0)),
                    b"hello")
    assert parse_zip(plain.getvalue()) == [("a", b"hello")]


def test_jsonl_shard_scan_roundtrip(spark):
    """JSONL shards: tricky text (quotes, backslashes, newlines,
    unicode) must survive json write -> gzip member loop -> JVM
    split/explode/from_json exactly; newline framing is unambiguous
    because json.dumps escapes control characters."""
    import hashlib

    from pyspark.sql import functions as F

    from lswms_forage_etl_spark.sources.archive import (
        scan_jsonl_docs, synth_jsonl_media)

    texts = [
        'quote " and backslash \\ here',
        "newline\nand\ttab inside",
        "unicode café — ok",
        "plain",
    ] * 4
    docs = spark.createDataFrame(
        [(i, texts[i], "en", f"s{i % 3}", len(texts[i]))
         for i in range(16)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = scan_jsonl_docs(synth_jsonl_media(docs)).orderBy("doc_id")
    rows = out.collect()
    assert len(rows) == 16
    for r in rows:
        want = texts[r["doc_id"]]
        assert r["n_chars"] == len(want)
        assert r["text_fp"] == hashlib.md5(
            want.encode("utf-8")).hexdigest()
        assert r["source"] == f"s{r['doc_id'] % 3}"
    # parsing stays JVM-side: no python eval past the inflate stage
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "from_json" in plan.lower() or "JsonToStructs" in plan


def test_synth_archives_hands_rows_in_doc_id_order(spark):
    """`encode` sees each archive's (doc_id, *cols) rows sorted by
    doc_id, however the shuffle delivered them."""
    import json

    from lswms_forage_etl_spark.sources.archive import (
        ARCHIVE_GROUP, synth_archives)
    ids = [13, 2, 7, 0, 11, 5, 9, 3, 14, 1, 6, 12, 4, 10, 8, 15]
    docs = spark.createDataFrame([(i, f"t{i}") for i in ids],
                                 "doc_id long, text string").repartition(5)
    out = synth_archives(
        docs, lambda aid, rows: json.dumps([aid, rows]).encode(),
        ["text"]).collect()
    got = {r["archive_id"]: json.loads(r["payload"]) for r in out}
    assert set(got) == {0, ARCHIVE_GROUP}
    for aid, (seen_aid, rows) in got.items():
        assert seen_aid == aid
        assert rows == [[i, f"t{i}"]
                        for i in range(aid, aid + ARCHIVE_GROUP)]
