"""Exact substring-span dedup: constructed-corpus semantics.

The registry oracle tests prove Spark == DuckDB on the fixture corpus; these
prove both match an independent pure-Python reference on corpora built to
exercise the guarantees: a planted shared span yields exactly the predicted
dup-window count, and winnowing detects every span >= k + w - 1 (its
provable floor) while posting far fewer fingerprints.
"""

from __future__ import annotations

import hashlib
import random

from wri_data_processing_spark.queries.llm_dedup import (
    _SUBSTR_K,
    _WINNOW_W,
    substring_window_coverage,
    winnow_fingerprint_coverage,
)

K, W = _SUBSTR_K, _WINNOW_W


def _wh(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()[:16]


def _py_windows(text: str) -> list[str]:
    return [_wh(text[i : i + K]) for i in range(len(text) - K + 1)] if len(text) >= K else []


def _py_window_coverage(docs: dict[int, str]) -> dict[int, tuple[int, int]]:
    wins = {d: _py_windows(t) for d, t in docs.items() if len(t) >= K}
    owners: dict[str, set[int]] = {}
    for d, hs in wins.items():
        for h in hs:
            owners.setdefault(h, set()).add(d)
    return {
        d: (len(hs), sum(1 for h in hs if len(owners[h]) >= 2)) for d, hs in wins.items()
    }


def _py_winnow_coverage(docs: dict[int, str], w: int = W) -> dict[int, tuple[int, int]]:
    fps = {}
    for d, t in docs.items():
        if len(t) < K + w - 1:
            continue
        hs = _py_windows(t)
        mins = {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
        fps[d] = mins
    owners: dict[str, set[int]] = {}
    for d, mins in fps.items():
        for h in mins:
            owners.setdefault(h, set()).add(d)
    return {
        d: (len(mins), sum(1 for h in mins if len(owners[h]) >= 2))
        for d, mins in fps.items()
    }


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789 ") for _ in range(n))


def _corpus(spark, docs: dict[int, str]):
    return spark.createDataFrame(
        [(d, t) for d, t in sorted(docs.items())], "doc_id long, text string"
    )


def test_planted_span_exact_dup_window_count(spark):
    """A 60-char span shared between two docs (unique context) dups exactly
    60 - K + 1 = 21 windows in each; a third unrelated doc dups none."""
    rng = random.Random(7)
    span = _rand_text(rng, 60)
    docs = {
        1: _rand_text(rng, 80) + span + _rand_text(rng, 80),
        2: _rand_text(rng, 50) + span + _rand_text(rng, 95),
        3: _rand_text(rng, 200),
    }
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in substring_window_coverage(_corpus(spark, docs), K).collect()
    }
    assert got == _py_window_coverage(docs)
    assert got[1][1] == 60 - K + 1 and got[2][1] == 60 - K + 1
    assert got[3][1] == 0


def test_winnow_guarantee_at_floor_and_volume_cut(spark):
    """A shared span of exactly K + W - 1 chars (the winnowing floor) MUST
    produce a shared fingerprint in both docs; fingerprints per doc are far
    fewer than stride-1 windows; Spark matches the Python reference."""
    rng = random.Random(11)
    span = _rand_text(rng, K + W - 1)
    docs = {
        1: _rand_text(rng, 150) + span + _rand_text(rng, 40),
        2: _rand_text(rng, 95) + span + _rand_text(rng, 120),
        3: _rand_text(rng, 260),
        4: _rand_text(rng, 260),
    }
    df = _corpus(spark, docs)
    got = {
        r["doc_id"]: (r["n_fingerprints"], r["n_dup_fingerprints"])
        for r in winnow_fingerprint_coverage(df, K, W).collect()
    }
    assert got == _py_winnow_coverage(docs)
    assert got[1][1] >= 1 and got[2][1] >= 1  # the floor guarantee
    assert got[3][1] == 0 and got[4][1] == 0
    # Volume cut: each doc posts ~2/W of its stride-1 window count.
    wins = {
        r["doc_id"]: r["n_windows"]
        for r in substring_window_coverage(df, K).collect()
    }
    for d in docs:
        assert got[d][0] < wins[d] / 2
    # w == 1: each window is its own minimum, so the fingerprints are the
    # distinct windows (a one-argument least() must not reach the plan).
    got1 = {
        r["doc_id"]: (r["n_fingerprints"], r["n_dup_fingerprints"])
        for r in winnow_fingerprint_coverage(df, K, 1).collect()
    }
    assert got1 == _py_winnow_coverage(docs, 1)
    assert got1[1][1] >= 1 and got1[2][1] >= 1


def test_winnow_positionally_shifted_span_still_detected(spark):
    """The case positional striding fundamentally misses: the same long span
    at offsets with DIFFERENT residues mod any stride. Content-defined
    minima don't care about offsets."""
    rng = random.Random(23)
    span = _rand_text(rng, 2 * K)
    docs = {
        1: _rand_text(rng, 101) + span + _rand_text(rng, 30),
        2: _rand_text(rng, 44) + span + _rand_text(rng, 85),
    }
    got = {
        r["doc_id"]: r["n_dup_fingerprints"]
        for r in winnow_fingerprint_coverage(_corpus(spark, docs), K, W).collect()
    }
    assert got[1] >= 1 and got[2] >= 1


def test_corpus_prep_pipeline_fates_partition_input(spark, sf_dir):
    """Every input document gets exactly one fate: the per-source drop and
    keep counts must sum to n_input, and no count may be negative."""
    from wri_data_processing_spark import registry

    registry.load_all()
    for r in registry.REGISTRY["corpus_prep_pipeline"](spark, sf_dir).collect():
        parts = (
            r["n_quality_drop"]
            + r["n_exact_drop"]
            + r["n_neardup_drop"]
            + r["n_contam_drop"]
            + r["n_kept"]
        )
        assert parts == r["n_input"], r
        assert min(
            r["n_quality_drop"], r["n_exact_drop"], r["n_neardup_drop"],
            r["n_contam_drop"], r["n_kept"],
        ) >= 0, r


def test_substring_spans_merge_to_exact_interval(spark):
    """A planted 60-char shared span must come back as EXACTLY ONE merged
    island per doc, spanning precisely the planted character interval."""
    from wri_data_processing_spark.queries.llm_dedup import substring_dup_spans

    rng = random.Random(41)
    span = _rand_text(rng, 60)
    pre1, pre2 = _rand_text(rng, 80), _rand_text(rng, 50)
    docs = {
        1: pre1 + span + _rand_text(rng, 80),
        2: pre2 + span + _rand_text(rng, 95),
        3: _rand_text(rng, 200),
    }
    by_doc: dict = {}
    for r in substring_dup_spans(_corpus(spark, docs), K).collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_len"])
        )
    assert 3 not in by_doc
    # 1-based inclusive: the span occupies [len(pre)+1, len(pre)+60].
    assert by_doc[1] == [(len(pre1) + 1, len(pre1) + 60, 60)]
    assert by_doc[2] == [(len(pre2) + 1, len(pre2) + 60, 60)]
