"""Unicode normalization / mojibake repair (functions/normalize.py):
Spark chain pinned against the DuckDB replay on adversarial strings,
repair-table generation sanity, and idempotence (a cleaning pass must
be a fixed point on its own output)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
from hypothesis import given, settings, strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from lswms_forage_etl_spark.functions import normalize as N  # noqa: E402

ADVERSARIAL = [
    "",
    "plain ascii stays put",
    "â€œmojibakeâ€\x9d â€” cafÃ© â€¦ fin",
    "ＦＵＬＬＷＩＤＴＨ　ｔｅｘｔ０９",
    "ﬁrst ﬂoor… and nbsp",
    "zero​width‌‍join﻿er",
    "soft­hyphen and \x00\x07\x1fcontrols\x7f kept\ttab\nnl",
    "quotes ‘a’ “b” „c‚ and dashes – — −",
    "already clean é è ü ñ",
    "Ã©Ã¨ double Ã¼",
    "split Ã\x07© and â€\xadœ and Ã\xad",
]


def _sql_one(con, s: str) -> str:
    return con.execute(
        f"SELECT {N.normalize_sql('$1::VARCHAR')}", [s]).fetchone()[0]


def test_repair_table_shapes():
    # every damaged form decodes back: repair(bad) == good by
    # construction, and longest-first ordering holds
    lens = [len(b) for b, _ in N.MOJIBAKE_REPAIRS]
    assert lens == sorted(lens, reverse=True)
    for bad, good in N.MOJIBAKE_REPAIRS:
        assert N._sloppy_cp1252(good.encode("utf-8")) == bad


def test_normalize_sql_known_cases():
    con = duckdb.connect()
    assert _sql_one(con, "â€œxâ€\x9d") == '"x"'
    assert _sql_one(con, "ＡＢＣ　１") == "ABC 1"
    assert _sql_one(con, "ﬁne…") == "fine..."
    assert _sql_one(con, "a​b\x07c") == "abc"
    assert _sql_one(con, "keep\tws\r\n") == "keep\tws\r\n"
    # a deletion inside a damaged sequence is made before repair
    assert _sql_one(con, "Ã\x07©") == "é"
    assert _sql_one(con, "â€\xadœ") == '"'
    assert _sql_one(con, "Ã\xad") == "í"


def test_spark_matches_duckdb(spark):
    con = duckdb.connect()
    sdf = spark.createDataFrame([(s,) for s in ADVERSARIAL], "s string")
    got = [r[0] for r in sdf.select(N.normalize_text("s")).collect()]
    want = [_sql_one(con, s) for s in ADVERSARIAL]
    assert got == want


_ALPHABET = st.sampled_from(
    list("ab &<'\"\t\n\x07\x9d ­​　…–—‘’“”")
    + list("âÃ€œ©éﬁﬂＡ１～")
)


@settings(max_examples=80, deadline=None)
@given(st.text(alphabet=_ALPHABET, max_size=24))
def test_idempotent_and_twin(text):
    con = duckdb.connect()
    once = _sql_one(con, text)
    twice = _sql_one(con, once)
    assert twice == once, f"not idempotent on {text!r}"


def test_dirty_twin(spark):
    con = duckdb.connect()
    rows = [(i, f"body {i}") for i in range(10)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = [r[0] for r in sdf.select(
        N.dirty_text("text", "doc_id")).collect()]
    want = [con.execute(
        f"SELECT {N.dirty_sql('$1::VARCHAR', '$2::BIGINT')}",
        [t, i]).fetchone()[0] for i, t in rows]
    assert got == want
    assert got[4] == "body 4"            # clean class untouched
