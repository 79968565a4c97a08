"""Cross-engine formulas: every template rendered for Spark and for
DuckDB must agree bit-for-bit with each other AND with a pure-Python
reference — every dedup/LSH/sampling/layout operator stands on this.

Each formula is checked over ``SAMPLES`` and a hypothesis strategy;
one property test renders all of them over column names that need
quoting (a dot and a space, a reserved word, an embedded backtick).
"""

from __future__ import annotations

import bisect
import hashlib
import math
import re

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.functions.dialect import DUCKDB, SPARK
from columnar_analytics_engine_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    P31,
    affine_hash_array,
    gram_hash_array,
    h60,
    token_hash_structs,
)
from columnar_analytics_engine_spark.layout import morton, rank_bin, scaled_bin
from test_property import _py_gram_hashes

SAMPLES = [
    "", "a", "the", "hello world", "ünïcödé", "日本語テキスト",
    "0", "-1", "3.14159", " leading space", "trailing space ",
    "tab\tsep", "quote'quote", 'double"quote', "percent%sign",
    "a" * 500, "é́ combining", "back\\slash", "new\nline  The  cat",
    "le chat et la souris de la maison", "der Hund und die Katze ist",
    "的 是 了 在 我",
]

# Spark's \s (Java) and DuckDB's \s (RE2) agree on these; Java's \s
# also matches \x0B, RE2's does not, so the references avoid it
_PY_WS = re.compile(r"[ \t\n\r\f]+")

_DDL_TO_DUCKDB = {"string": "VARCHAR", "double": "DOUBLE"}


def _plain(v):
    """Engine values -> comparable Python values (structs as tuples)."""
    if isinstance(v, dict):
        return tuple(_plain(x) for x in v.values())
    if isinstance(v, tuple):  # pyspark Row
        return tuple(_plain(x) for x in v)
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def _eval_both(spark, columns, rows, exprs):
    """Evaluate the dialect renderings ``exprs`` ({alias: d -> SQL})
    over ``rows`` of a table with ``columns`` ({name: spark DDL type})
    in both engines; returns the two lists of per-row result dicts."""
    names = list(columns)
    schema = _parse_datatype_string(
        "_k int, " + ", ".join(f"{SPARK.quote(n)} {t}" for n, t in columns.items())
    )
    keyed = [(k, *r) for k, r in enumerate(rows)]
    sdf = spark.createDataFrame(keyed, schema)
    got = [
        {a: _plain(r[a]) for a in exprs}
        for r in sdf.select(
            "_k", *[F.expr(render(SPARK)).alias(a) for a, render in exprs.items()]
        )
        .orderBy("_k")
        .collect()
    ]
    con = duckdb.connect()
    cols = ", ".join(f"{DUCKDB.quote(n)} {_DDL_TO_DUCKDB[columns[n]]}" for n in names)
    con.execute(f"CREATE TABLE t (_k INTEGER, {cols})")
    if keyed:
        con.executemany(
            f"INSERT INTO t VALUES ({', '.join('?' * (len(names) + 1))})", keyed
        )
    sel = ", ".join(f"{render(DUCKDB)} AS {DUCKDB.quote(a)}" for a, render in exprs.items())
    cur = con.execute(f"SELECT {sel} FROM t ORDER BY _k")
    aliases = [c[0] for c in cur.description]
    want = [{a: _plain(v) for a, v in zip(aliases, r)} for r in cur.fetchall()]
    con.close()
    return got, want


# -- pure-Python references ---------------------------------------------------


def _py_md5_bits(s: str, start: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[start : start + 15], 16)


def _py_h60(prefix: str, s: str) -> int:
    return _py_md5_bits(prefix + s, 0)


def _py_affine(s: str, k: int) -> list[int]:
    x1, x2 = _py_md5_bits(s, 0) % P31, _py_md5_bits(s, 15) % P31
    return [
        ((MINHASH_A[i] * x1) % P31 + (MINHASH_B[i] * x2) % P31 + i) % P31
        for i in range(k)
    ]


def _py_pairs(toks: list[str]) -> list[tuple[int, int]]:
    return [(_py_md5_bits(t, 0) % P31, _py_md5_bits(t, 15) % P31) for t in toks]


def _py_tokens(s: str) -> list[str]:
    return _PY_WS.split(s.strip(" "))


def _py_stop_hits(s: str, lang: str) -> int:
    return sum(1 for tok in _py_tokens(s) if tok in X.STOPWORDS[lang])


def _py_language(s: str) -> str:
    scores = {lang: _py_stop_hits(s, lang) for lang in X.LANG_PRIORITY}
    best = max(scores.values())
    return next(lang for lang in X.LANG_PRIORITY if scores[lang] == best)


def _py_fingerprint(s: str) -> str:
    return hashlib.md5(_PY_WS.sub(" ", s.strip(" ").lower()).encode()).hexdigest()


def _py_scaled_bin(c: float, mn: float, mx: float, levels: int) -> int:
    frac = (float(c) - mn) / max(mx - mn, 1e-300)
    return min(levels, max(0, math.floor(frac * float(levels))))


def _py_morton(bins: list[int], bits: int) -> int:
    return sum(
        ((b >> bit) & 1) << (bit * len(bins) + i)
        for bit in range(bits)
        for i, b in enumerate(bins)
    )


def _py_rank_bin(c: float, cuts: list[float]) -> int:
    return bisect.bisect_right(cuts, float(c))


# -- formulas and their references --------------------------------------------

_K = 8
_N = 3
_CUTS = [-2.5, 0.0, 1e-05, 1.0, 7.25, 1e6]


def _text_formulas(col: str) -> dict:
    return {
        "h60": lambda d: h60("px:", d.quote(col), d),
        "affine": lambda d: affine_hash_array(d.quote(col), _K, d),
        "tokens": lambda d: X.tokens(d.quote(col), d),
        "n_tokens": lambda d: X.token_count(d.quote(col), d),
        "pairs": lambda d: token_hash_structs(X.tokens(d.quote(col), d), d),
        "grams": lambda d: gram_hash_array(
            token_hash_structs(X.tokens(d.quote(col), d), d), _N, d
        ),
        "stop_en": lambda d: X.stopword_hits(d.quote(col), "en", d),
        "stop_fr": lambda d: X.stopword_hits(d.quote(col), "fr", d),
        "lang": lambda d: X.predict_language(d.quote(col), d),
        "fp": lambda d: X.fingerprint(d.quote(col), d),
    }


def _text_refs(s: str) -> dict:
    toks = _py_tokens(s)
    return {
        "h60": _py_h60("px:", s),
        "affine": _py_affine(s, _K),
        "tokens": toks,
        "n_tokens": len(toks),
        "pairs": _py_pairs(toks),
        "grams": _py_gram_hashes(toks, _N),
        "stop_en": _py_stop_hits(s, "en"),
        "stop_fr": _py_stop_hits(s, "fr"),
        "lang": _py_language(s),
        "fp": _py_fingerprint(s),
    }


def _num_formulas(x: str, y: str, bits: int = 4) -> dict:
    lv = (1 << bits) - 1

    def bins(d):
        return [
            scaled_bin(d.quote(x), "CAST(-3 AS DOUBLE)", "CAST(11 AS DOUBLE)", lv),
            rank_bin(d.quote(y), _CUTS, d),
        ]

    return {
        "bin_x": lambda d: scaled_bin(
            d.quote(x), "CAST(-3 AS DOUBLE)", "CAST(11 AS DOUBLE)", 7
        ),
        "flat": lambda d: scaled_bin(d.quote(x), d.quote(x), d.quote(x), 7),
        "rank_y": lambda d: rank_bin(d.quote(y), _CUTS, d),
        "z": lambda d: morton(bins(d), bits, d),
    }


def _num_refs(x: float, y: float, bits: int = 4) -> dict:
    lv = (1 << bits) - 1
    return {
        "bin_x": _py_scaled_bin(x, -3.0, 11.0, 7),
        "flat": _py_scaled_bin(x, x, x, 7),
        "rank_y": _py_rank_bin(y, _CUTS),
        "z": _py_morton([_py_scaled_bin(x, -3.0, 11.0, lv), _py_rank_bin(y, _CUTS)], bits),
    }


def _check_text(spark, col, texts, formulas=None):
    exprs = _text_formulas(col)
    if formulas is not None:
        exprs = {a: exprs[a] for a in formulas}
    got, want = _eval_both(spark, {col: "string"}, [(s,) for s in texts], exprs)
    for s, g, w in zip(texts, got, want):
        ref = {a: v for a, v in _text_refs(s).items() if a in exprs}
        assert g == w == ref, s


def _check_num(spark, x, y, pairs):
    got, want = _eval_both(
        spark, {x: "double", y: "double"}, pairs, _num_formulas(x, y)
    )
    for (vx, vy), g, w in zip(pairs, got, want):
        assert g == w == _num_refs(vx, vy), (vx, vy)


def test_h60_matches_duckdb(spark):
    _check_text(spark, "s", SAMPLES, ["h60"])


def test_affine_family_matches_duckdb(spark):
    _check_text(spark, "s", SAMPLES, ["affine"])
    assert all(0 <= v < P31 for s in SAMPLES for v in _py_affine(s, _K))


def test_affine_constants_are_fixed():
    # the a/b constants are part of the operator definition: any change
    # silently changes every MinHash signature — pin the first few
    assert MINHASH_A[:3] == [2058367755, 1250378732, 1328920189]
    assert MINHASH_B[:3] == [556613361, 488839215, 862986759]


def test_text_formulas_match_duckdb_and_python(spark):
    _check_text(spark, "s", SAMPLES)


_NUMS = [-3.0, -2.5, -1.0, 0.0, 1e-05, 0.5, 1.0, 2.0, 7.25, 7.26, 10.999, 11.0, 1e6]


def test_layout_bins_match_duckdb_and_python(spark):
    _check_num(spark, "x", "y", [(v, w) for v in _NUMS for w in _NUMS[::3]])


_TEXT = st.lists(
    st.sampled_from(list("abé日 \t\n'`\"\\.") + ["the", "la", "und", "的"]), max_size=16
).map("".join)
_PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_PROP
@given(texts=st.lists(_TEXT, min_size=1, max_size=6))
def test_text_formulas_property(spark, texts):
    _check_text(spark, "s", texts)


@_PROP
@given(
    pairs=st.lists(
        st.tuples(
            st.floats(min_value=-3, max_value=11, allow_nan=False),
            st.floats(min_value=-1e7, max_value=1e7, allow_nan=False),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_layout_bins_property(spark, pairs):
    _check_num(spark, "x", "y", pairs)


_AWKWARD = ["a.b c", "order", "x`y"]


@pytest.mark.parametrize("shift", range(len(_AWKWARD)))
def test_formulas_quote_awkward_column_names(spark, shift):
    """Every formula rendered over columns that need quoting in either
    dialect gives the reference values."""
    text_col, x, y = _AWKWARD[shift:] + _AWKWARD[:shift]
    _check_text(spark, text_col, SAMPLES[:8])
    _check_num(spark, x, y, [(v, v * 3) for v in _NUMS])
