"""Text-and-hash primitives shared by the LLM-data-pipeline operators.

Pure JVM-side Column builders (no Python UDFs), the text sibling of
``functions/scalar.py``: the whitespace token array, overlapping word and
character n-grams, the adjacent-pair split, and the two sha256-slice keys.
Every query module builds these derivations through this module, so each
convention below is stated (and tested, tests/test_text_primitives.py)
once. The DuckDB oracle SQL spells the same derivations independently; the
conventions are why the two engines agree bit for bit.

Conventions and why the engine and the oracle agree on them:

- **Tokens** are ``split(trim(text), '\\s+')`` — DuckDB
  ``regexp_split_to_array(trim(text), '\\s+')``. Both ``trim``s strip
  spaces only, and both splits keep empty leading/trailing fields, so a
  whitespace-only doc tokenizes as ``['']`` (one empty token, size 1) on
  both engines and counts as one unigram. A tab/newline at either end of
  the text survives ``trim`` and yields an empty edge token on both.
  Java's ``\\s`` also matches vertical tab ``\\x0B`` and RE2's does not;
  the corpus fixtures hold no ``\\x0B`` (see queries/llm_text.py), and ops
  that must not rest on that use the explicit class ``[ \\t\\n\\f\\r]``.
- **Word n-grams** are overlapping and keep multiplicity: one codegen'd
  regex pass over a single-space-joined token string, where every token
  start (lookbehind ``^|\\s``) captures the next n tokens through a
  zero-width lookahead. Gram i is exactly ``t_i || ' ' || ... ||
  t_{i+n-1}`` for i = 1..len-n+1, in order — the oracle's
  ``generate_series`` over token positions. Fewer than n tokens gives an
  empty array; consumers that must emit nothing there guard on the token
  count. Empty tokens have no ``\\S+`` start, which is why unigram
  consumers use the token array itself (keeping the ``['']`` unigram).
- **Char n-grams** are every k-character window, positions 1..len-k+1 in
  order with multiplicity (``(?s)`` so ``.`` crosses line separators) —
  the oracle's ``substring(s, i, k)`` over ``generate_series``.
- **The 60-bit slice** ``sha60`` is the first 15 hex digits of the sha256
  digest read as an integer: at most 2^60 - 1, so it is an exact,
  non-negative int64 on both engines (``conv(..., 16, 10)`` then a long
  cast here; ``CAST('0x' || ... AS BIGINT)`` in DuckDB). Modular
  arithmetic on it (``% 2^30`` uniforms, ``% D`` buckets) is exact too.
- **The 16-hex key** ``sha16`` is the first 16 hex digits kept as a
  string. Both engines print sha256 as lowercase fixed-width hex, so
  string order over these keys equals numeric order of the 64-bit
  prefix; partitioning, ranking and distinct-counting agree exactly.

Every builder returns the same expression tree the operators spelled out
in place before, so optimized plans, hashes and results are unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str

Q30 = 1 << 30  # modulus of the sha-uniform draws: u in [0, 2^30)


def tokens(text: ColumnOrName) -> Column:
    """Whitespace token array ``split(trim(text), '\\s+')``; ``['']`` for
    whitespace-only text."""
    return F.split(F.trim(text), r"\s+")


def joined_tokens(text: ColumnOrName) -> Column:
    """The tokens of ``text`` joined by single spaces, built by collapsing
    whitespace runs in place (equal to ``array_join(tokens(text), ' ')``)."""
    return F.regexp_replace(F.trim(text), r"\s+", " ")


def word_ngrams(joined: Column, n: int) -> Column:
    """Overlapping word n-grams, with multiplicity, of a string whose
    tokens are already joined by single spaces."""
    pat = r"(?<=^|\s)(?=(" + " ".join([r"\S+"] * n) + r"))"
    return F.regexp_extract_all(joined, F.lit(pat), 1)


def char_ngrams(s: ColumnOrName, k: int) -> Column:
    """Every k-character window of ``s``, in order, with multiplicity."""
    return F.regexp_extract_all(s, F.lit(r"(?s)(?=(" + "." * k + r"))"), 1)


def _tagged(grams: Column, k: int, enough: Column) -> Column:
    arr = F.transform(grams, lambda g: F.struct(F.lit(k).alias("n"), g.alias("g")))
    return F.when(enough, arr).otherwise(F.array().cast("array<struct<n:int,g:string>>"))


def tagged_word_ngrams(toks: str, k: int) -> Column:
    """``array<struct<n, g>>`` of the word k-grams of token-array column
    ``toks``, each tagged n = k; empty below k tokens. Unigrams are the
    token array itself, so a whitespace-only doc keeps its ``''`` gram."""
    grams = F.col(toks) if k == 1 else word_ngrams(F.array_join(toks, " "), k)
    return _tagged(grams, k, F.size(toks) >= k)


def tagged_char_ngrams(s: str, k: int) -> Column:
    """``array<struct<n, g>>`` of the char k-grams of string column ``s``,
    each tagged n = k; empty below k characters."""
    return _tagged(char_ngrams(F.col(s), k), k, F.length(s) >= k)


def pair_split(b: ColumnOrName) -> tuple[Column, Column]:
    """(left, right) tokens of a ``'left right'`` adjacent pair."""
    return F.substring_index(b, " ", 1), F.substring_index(b, " ", -1)


def sha60(x: ColumnOrName) -> Column:
    """First 60 bits of sha256(x) as an exact non-negative long."""
    return F.conv(F.substring(F.sha2(x, 256), 1, 15), 16, 10).cast("long")


def sha16(x: ColumnOrName) -> Column:
    """First 16 hex digits of sha256(x), a string key ordered like its
    64-bit value."""
    return F.substring(F.sha2(x, 256), 1, 16)


def salted_key(salt: str, *cols: str) -> Column:
    """``salt || c1 || ':' || c2 ...`` over the string casts of ``cols`` —
    the oracle's ``'salt' || CAST(c AS VARCHAR) || ':' ...``."""
    parts = [F.lit(salt)] if salt else []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(":"))
        parts.append(F.col(c).cast("string"))
    return F.concat(*parts)


def uniform30(key: Column) -> Column:
    """Deterministic uniform draw ``sha60(key) mod 2^30`` in [0, 2^30)."""
    return sha60(key) % F.lit(Q30).cast("long")
