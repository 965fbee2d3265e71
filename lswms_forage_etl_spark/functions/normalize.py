"""Unicode normalization + mojibake repair (VERDICT r14 next #5): the
standard corpus-cleaning pass ahead of dedup/tokenization — repair
UTF-8-read-as-cp1252 double-encoding damage, fold typographic and
fullwidth forms to ASCII, strip zero-width/soft-hyphen/control
characters.

Instead of calling a library normalizer (whose tables could drift
between engines), the ENTIRE transform is generated from the explicit
mapping tables below — the same tables render the Spark column chain
and the DuckDB SQL replay, so the oracle pins every rule exactly
(the "pin the NFKC subset actually used via explicit mapping tables"
discipline). The fold set is the pragmatic corpus-cleaning subset:
fullwidth ASCII block (NFKC), ligatures fi/fl (NFKC), typographic
quotes/dashes/ellipsis (not NFKC, but what every web-text pipeline
folds), NBSP/ideographic space, zero-width strip. Accented letters are
kept as-is (repair fixes their mojibake forms; we do not asciify).

Order matters and is fixed, so that one pass is a fixed point on its
own output: (1) strip controls, zero-widths and the BOM — a deletion
made after repair could join the two halves of a damaged sequence that
a second pass would then repair; (2) repair the damaged forms that
contain a soft hyphen, then strip soft hyphens; (3) mojibake repair
(the damaged sequences contain characters like 'â' that later folds
would touch), longest damaged sequence first; (4) multi-char folds;
(5) one `translate` pass for every 1:1 fold. All stages are built-in
string functions — whole-stage codegen on Spark, same functions in
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ----------------------------------------------------------- mojibake

# cp1252 has five undefined bytes (0x81 8D 8F 90 9D); real-world
# mojibake text contains them verbatim (produced by decoders that pass
# undefined bytes through, e.g. Python's latin-1 or Windows APIs) —
# the "sloppy cp1252" convention ftfy documents.
_CP1252_UNDEF = {0x81, 0x8D, 0x8F, 0x90, 0x9D}


def _sloppy_cp1252(b: bytes) -> str:
    out = []
    for x in b:
        out.append(chr(x) if x in _CP1252_UNDEF
                   else bytes([x]).decode("cp1252"))
    return "".join(out)


# The repair targets: each true character generates its damaged form
# (its UTF-8 bytes decoded as sloppy cp1252). Longest damaged form
# first so 3-byte-target repairs never get clipped by 2-byte ones.
MOJIBAKE_TARGETS = (
    "‘’“”–—… "
    "éèêëàáâäçñöüóòíúß°©"
)
MOJIBAKE_REPAIRS: list[tuple[str, str]] = sorted(
    ((_sloppy_cp1252(ch.encode("utf-8")), ch) for ch in MOJIBAKE_TARGETS),
    key=lambda p: -len(p[0]))

# ----------------------------------------------------------- fold maps

# multi-char expansions (cannot ride translate)
FOLD_MULTI: list[tuple[str, str]] = [
    ("…", "..."),      # ellipsis
    ("ﬁ", "fi"),       # ligature fi (NFKC)
    ("ﬂ", "fl"),       # ligature fl (NFKC)
]

# 1:1 folds + deletions in ONE translate pass
FOLD_ONE: dict[str, str] = {}
for _i in range(0x21, 0x7F):                 # fullwidth ASCII (NFKC)
    FOLD_ONE[chr(0xFF01 + _i - 0x21)] = chr(_i)
FOLD_ONE.update({
    "　": " ",          # ideographic space (NFKC)
    " ": " ",          # NBSP
    "‘": "'", "’": "'", "‚": "'",
    "“": '"', "”": '"', "„": '"',
    "–": "-", "—": "-", "−": "-",
})
_TR_SRC = "".join(FOLD_ONE.keys())
_TR_DST = "".join(FOLD_ONE.values())

# stripped before repair: C0 controls except \t \n \r, DEL, the
# zero-widths and the BOM / ZWNBSP. None of them occurs in a damaged
# sequence (those are cp1252 decodes of bytes >= 0x80).
STRIP_PATTERN = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\u200b\u200c\u200d\ufeff]"
# the soft hyphen is byte 0xAD in cp1252, so it does occur in damaged
# sequences ('í' -> 'Ã\xad'): those are repaired before it is stripped
SOFT_HYPHEN = "\xad"
SOFT_HYPHEN_REPAIRS = [(b, g) for b, g in MOJIBAKE_REPAIRS if SOFT_HYPHEN in b]


# ---------------------------------------------------------- Spark side


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: Column | str) -> Column:
    c = F.regexp_replace(_c(col), STRIP_PATTERN, "")
    for bad, good in SOFT_HYPHEN_REPAIRS:
        c = F.replace(c, F.lit(bad), F.lit(good))
    c = F.replace(c, F.lit(SOFT_HYPHEN), F.lit(""))
    for bad, good in MOJIBAKE_REPAIRS:
        c = F.replace(c, F.lit(bad), F.lit(good))
    for src, dst in FOLD_MULTI:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return F.translate(c, _TR_SRC, _TR_DST)


# ------------------------------------------------------------ SQL twin


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def normalize_sql(expr: str) -> str:
    expr = f"regexp_replace({expr}, {_sql_lit(STRIP_PATTERN)}, '', 'g')"
    for bad, good in SOFT_HYPHEN_REPAIRS:
        expr = f"replace({expr}, {_sql_lit(bad)}, {_sql_lit(good)})"
    expr = f"replace({expr}, {_sql_lit(SOFT_HYPHEN)}, '')"
    for bad, good in MOJIBAKE_REPAIRS:
        expr = f"replace({expr}, {_sql_lit(bad)}, {_sql_lit(good)})"
    for src, dst in FOLD_MULTI:
        expr = f"replace({expr}, {_sql_lit(src)}, {_sql_lit(dst)})"
    return (f"translate({expr}, {_sql_lit(_TR_SRC)}, "
            f"{_sql_lit(_TR_DST)})")


# ------------------------------------------------- deterministic dirt

# The shipped corpus is clean ASCII, so the graded query injects
# deterministic damage per doc_id % 5 (class 4 stays clean — the
# changed=0 rows keep the no-op path graded too). Snippets exercise
# every stage: sloppy-cp1252 mojibake (incl. an undefined byte 0x9d),
# fullwidth + ideographic space, ligatures/ellipsis/NBSP,
# zero-width + soft hyphen + a C0 control.
DIRT_SNIPPETS: list[str] = [
    _sloppy_cp1252("“smart” — café …"
                   .encode("utf-8")),
    "ＨＥＬＬＯ　１２３",
    "ﬁnal ﬂight… end here",
    "a​b­c‍d\x07e\x1Ff",
    "",
]


def dirty_text(text_col: Column | str, id_col: Column | str) -> Column:
    """text || ' ' || snippet[doc_id % 5] (no trailing space for the
    clean class, so clean rows are byte-identical to the input)."""
    t, i = _c(text_col), _c(id_col)
    sel = F.pmod(i, F.lit(len(DIRT_SNIPPETS)))
    c = F.when(sel == len(DIRT_SNIPPETS) - 1, t)
    for k, sn in enumerate(DIRT_SNIPPETS[:-1]):
        c = c.when(sel == k, F.concat(t, F.lit(" " + sn)))
    return c


def dirty_sql(text_expr: str, id_expr: str) -> str:
    n = len(DIRT_SNIPPETS)
    arms = "".join(
        f" WHEN {k} THEN {text_expr} || {_sql_lit(' ' + sn)}"
        for k, sn in enumerate(DIRT_SNIPPETS[:-1]))
    return (f"(CASE ({id_expr}) % {n}{arms} "
            f"ELSE {text_expr} END)")
