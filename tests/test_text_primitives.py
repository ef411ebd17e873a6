"""Cross-engine pins for the text-and-hash primitives (functions/text.py).

Each primitive runs on a set of edge strings and is compared with the
DuckDB twin expression the oracle SQL already spells out, so the
conventions the oracles rely on (the [''] whitespace-only token, overlapping
grams with multiplicity, the exact 60-bit slice, 16-hex key order) are
pinned directly instead of only through whole-op oracle runs.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from wri_data_processing_spark.functions import text as T

# Edge strings. Tab/newline runs sit INSIDE the text here; at the ends they
# survive trim() and are pinned separately below.
EDGE = [
    "",
    "   ",
    "word",
    "a b c",
    "a\t\tb\n\nc d",
    "  lead  and trail  ",
    "héllo wörld 日本語 ça",
    "x\u00a0y z",  # a no-break space is not \s on either engine
    "the the the the",
]
NS = (2, 3, 5)  # 5 exceeds every edge string's token count


@pytest.fixture(scope="module")
def frames(spark):
    rows = list(enumerate(EDGE))
    df = spark.createDataFrame(rows, "id int, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    yield df, con
    con.close()


def _spark(df, col):
    return {r[0]: r[1] for r in df.select("id", col).collect()}


def _duck(con, expr):
    return dict(con.execute(f"SELECT id, {expr} FROM t").fetchall())


_DUCK_TOKS = r"regexp_split_to_array(trim(text), '\s+')"


def test_tokens_match_duckdb_split(frames):
    df, con = frames
    got = _spark(df, T.tokens("text"))
    assert got == _duck(con, _DUCK_TOKS)
    assert got[0] == [""] and got[1] == [""]  # the whitespace-only convention


@pytest.mark.parametrize("n", NS)
def test_word_ngrams_match_positional_twin(frames, n):
    """Overlapping grams with multiplicity, t_i || ' ' || ... || t_{i+n-1}
    for i = 1..len-n+1 — the oracles' generate_series form — on every doc
    with at least n tokens; both rejoin spellings agree. (n = 1 uses the
    token array itself, see the tagged-unigram test.)"""
    df, con = frames
    enough = F.size(T.tokens("text")) >= n
    empty = F.array().cast("array<string>")
    from_raw = F.when(enough, T.word_ngrams(T.joined_tokens("text"), n)).otherwise(empty)
    from_toks = F.when(
        enough, T.word_ngrams(F.array_join(T.tokens("text"), " "), n)
    ).otherwise(empty)
    twin = _duck(
        con,
        f"""list_transform(
              generate_series(1, greatest(len({_DUCK_TOKS}) - {n} + 1, 0)),
              i -> array_to_string(({_DUCK_TOKS})[i:i + {n - 1}], ' '))""",
    )
    got = _spark(df, from_raw)
    assert got == twin
    assert _spark(df, from_toks) == twin
    # multiplicity: a repeated token yields every overlapping occurrence
    assert got[EDGE.index("the the the the")] == [" ".join(["the"] * n)] * max(5 - n, 0)


def test_word_ngrams_edge_control_whitespace(spark):
    """trim() strips spaces only, so a tab/newline at either end leaves an
    empty edge token on both engines. The regex grams skip grams that hold
    the empty token; the positional oracle form keeps them (' a', 'b ').
    The corpus never starts or ends a doc with a tab/newline, which is the
    boundary of the engine/oracle agreement this pins."""
    df = spark.createDataFrame([("\ta b\n",)], "text string")
    r = df.select(
        T.tokens("text").alias("t"), T.word_ngrams(T.joined_tokens("text"), 2).alias("g")
    ).first()
    assert r.t == ["", "a", "b", ""]
    assert r.g == ["a b"]


def test_tagged_word_ngrams_keep_empty_unigram(spark):
    """Unigrams are the token array itself, so the whitespace-only doc
    keeps its one '' gram that a \\S+ regex would drop; below k tokens the
    tagged array is empty."""
    df = spark.createDataFrame([("   ",), ("a b",)], "text string").select(
        T.tokens("text").alias("toks")
    )
    got = [
        (r.u, r.b)
        for r in df.select(
            T.tagged_word_ngrams("toks", 1).alias("u"),
            T.tagged_word_ngrams("toks", 3).alias("b"),
        ).collect()
    ]
    assert [[tuple(x) for x in u] for u, _ in got] == [[(1, "")], [(1, "a"), (1, "b")]]
    assert [b for _, b in got] == [[], []]
    regex_unigrams = df.select(T.word_ngrams(F.array_join("toks", " "), 1)).first()[0]
    assert regex_unigrams == []


@pytest.mark.parametrize("k", (1, 3, 30))
def test_char_ngrams_match_substring_twin(frames, k):
    """Every k-char window in order with multiplicity, across tab/newline
    and non-ASCII characters; k = 30 exceeds every edge string."""
    df, con = frames
    twin = _duck(
        con,
        f"""list_transform(generate_series(1, greatest(length(text) - {k} + 1, 0)),
                          i -> substring(text, i, {k}))""",
    )
    assert _spark(df, T.char_ngrams("text", k)) == twin


def test_pair_split_matches_list_split(frames):
    df, con = frames
    pairs = df.select("id", F.explode(T.word_ngrams(T.joined_tokens("text"), 2)).alias("b"))
    left, right = T.pair_split("b")
    got = sorted(tuple(r) for r in pairs.select("id", left, right).collect())
    twin = con.execute(
        f"""SELECT id, toks[i], toks[i + 1]
            FROM (SELECT id, {_DUCK_TOKS} AS toks FROM t),
                 unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS u(i)"""
    ).fetchall()
    assert got == sorted(twin)


def test_sha60_is_exact_int64(frames):
    df, con = frames
    got = _spark(df, T.sha60("text"))
    assert got == _duck(con, "CAST(('0x' || substring(sha256(text), 1, 15)) AS BIGINT)")
    assert all(0 <= v < 2**60 for v in got.values())


def test_salted_uniform_matches_oracle_form(frames):
    df, con = frames
    got = _spark(df, T.uniform30(T.salted_key("cal:", "id", "text")))
    twin = _duck(
        con,
        """CAST(('0x' || substring(sha256('cal:' || CAST(id AS VARCHAR) || ':' || text),
                                    1, 15)) AS BIGINT) % 1073741824""",
    )
    assert got == twin
    assert all(0 <= v < T.Q30 for v in got.values())


def test_sha16_string_order_is_numeric_order(frames):
    df, con = frames
    got = _spark(df, T.sha16("text"))
    assert got == _duck(con, "substring(sha256(text), 1, 16)")
    keys = list(got.values())
    assert sorted(keys) == sorted(keys, key=lambda h: int(h, 16))
    assert all(len(h) == 16 and h == h.lower() for h in keys)
