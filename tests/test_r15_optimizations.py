"""Equivalence pins for the r15 optimization round's internal rewrites.

Every r15 change MUST keep each declared query's results identical (the
driver re-hashes them against the DuckDB oracle). The full sweep proves
that end to end; these tests pin the REWRITTEN CONSTRUCTION ITSELF against
the pre-r15 formulation, so a future refactor that breaks the equivalence
fails here with a named culprit instead of as an opaque oracle mismatch:

- the codegen'd overlapping-regex n-gram/shingle pass vs the interpreted
  ``transform(sequence(...), element_at...)`` higher-order lambda it
  replaced (the contamination 4-gram keys built from functions/text.py's
  word_ngrams, the text_bigram_lm/bpe_merge_candidates bigram arm,
  dedup_ngram_crossdoc's 5-gram arm);
- ``_dvec``'s array cast vs the elementwise-cast lambda;
- ``propagate_min_labels``'s label-sum convergence test vs the old
  join-based changed-row count (same labels, same round count).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table


def _docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


def test_word_ngram_hash_regex_matches_hof(spark, sf_dir):
    """The contamination 4-gram keys (word_ngrams regex pass + xxhash64 of
    the space-joined gram, as contamination_flag and corpus_prep_pipeline
    build them) emit the same per-doc distinct shingle SET as the old
    per-tuple multi-arg xxhash64 HOF — compared via the gram STRINGS both
    formulations hash (the hash value itself legitimately differs:
    joined-string vs multi-arg keys are both valid 64-bit keys)."""
    from wri_data_processing_spark.functions.text import joined_tokens, tokens, word_ngrams

    d = _docs(spark, sf_dir)
    n = 4
    # Old construction, string form: per-doc distinct space-joined 4-grams
    # via the interpreted HOF lambda.
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(F.col("toks")) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    old = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select("doc_id", F.explode_outer(F.array_distinct(sh)).alias("g"))
        .select("doc_id", F.xxhash64("g").alias("shingle"))
    )
    grams = F.array_distinct(word_ngrams(joined_tokens("text"), n))
    new = (
        d.filter(F.size(tokens("text")) >= n)
        .select("doc_id", F.explode_outer(grams).alias("_sh"))
        .select("doc_id", F.xxhash64("_sh").alias("shingle"))
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_bigram_regex_matches_hof_multiset(spark, sf_dir):
    """The overlapping-regex bigram pass (text_bigram_lm /
    bpe_merge_candidates / text_kneser_ney arm) yields the identical
    (doc_id, w1, w2) MULTISET as the old element_at struct lambda."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)).alias(
            "toks"
        ),
    ).filter(F.size("toks") >= 2)
    old = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.struct(
                    F.element_at("toks", (i + 1).cast("int")).alias("w1"),
                    F.element_at("toks", (i + 2).cast("int")).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bgarr = F.regexp_extract_all(
        F.array_join("toks", " "), F.lit(r"(?<=^|\s)(?=(\S+ \S+))"), 1
    )
    new = t.select("doc_id", F.explode_outer(bgarr).alias("b")).select(
        "doc_id",
        F.substring_index("b", " ", 1).alias("w1"),
        F.substring_index("b", " ", -1).alias("w2"),
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_5gram_regex_matches_slice_hof_multiset(spark, sf_dir):
    """dedup_ngram_crossdoc's 5-gram arm: _shingle_arrays' regex pass emits
    the same per-doc distinct 5-gram strings as the old slice/concat_ws
    lambda (whitespace-split tokens, so the constructions must agree on
    multi-space/trim handling too)."""
    from wri_data_processing_spark.queries.llm_dedup import _shingle_arrays

    d = _docs(spark, sf_dir)
    n = 5
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= n)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
        )
    )
    old = base.select("doc_id", F.explode_outer(sh).alias("sh"))
    new = _shingle_arrays(d, n).select(
        "doc_id", F.explode_outer("shingles").alias("sh")
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_dvec_cast_matches_elementwise_lambda(spark, sf_dir):
    """_dvec's array<double> cast is value-identical to the old elementwise
    cast lambda (float->double widening is exact either way)."""
    from wri_data_processing_spark.queries.llm_similarity import _dvec

    e = table(spark, sf_dir, "embeddings")
    old = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    new = e.select("vec_id", _dvec("embedding").alias("v"))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


@pytest.mark.parametrize(
    "edges_rows, want_labels, max_rounds",
    [
        # chain 1-2-3-4: diameter 3, pointer jumping closes it in 2 rounds
        ([(1, 2), (2, 3), (3, 4)], {1: 1, 2: 1, 3: 1, 4: 1}, 50),
        # two components: star {10,11,12} + pair {20,21}
        ([(10, 11), (10, 12), (20, 21)], {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}, 50),
        # singleton self-loop-free pair
        ([(5, 6)], {5: 5, 6: 5}, 50),
    ],
)
def test_propagation_sum_convergence_matches_join_check(
    spark, edges_rows, want_labels, max_rounds
):
    """The label-sum fixpoint test must produce the same labels AND the same
    round count as the old join-based changed-row check (labels never
    increase, so sum(lbl) is constant exactly at the fixpoint)."""
    from wri_data_processing_spark.queries.llm_dedup import propagate_min_labels

    sym = edges_rows + [(b, a) for a, b in edges_rows]
    edges = spark.createDataFrame(sym, "src long, dst long")
    labels, rounds = propagate_min_labels(edges, max_rounds=max_rounds)
    got = {r["node"]: r["lbl"] for r in labels.collect()}
    assert got == want_labels

    # Replay the same pointer-jumping loop with the OLD convergence check
    # and require identical labels and round count.
    old_labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    old_rounds = 0
    for _ in range(max_rounds):
        old_rounds += 1
        msgs = edges.join(old_labels, edges.dst == old_labels.node).select(
            edges.src.alias("node"), "lbl"
        )
        hop = msgs.unionByName(old_labels).groupBy("node").agg(F.min("lbl").alias("lbl"))
        new_labels = (
            hop.join(
                hop.select(F.col("node").alias("jnode"), F.col("lbl").alias("jlbl")),
                hop.lbl == F.col("jnode"),
                "left",
            )
            .select("node", F.coalesce("jlbl", "lbl").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("new")
            .join(old_labels.alias("old"), "node")
            .filter(F.col("new.lbl") != F.col("old.lbl"))
            .limit(1)
            .count()
        )
        old_labels = new_labels
        if changed == 0:
            break
    old_got = {r["node"]: r["lbl"] for r in old_labels.collect()}
    assert old_got == got
    assert old_rounds == rounds


def _mmr_greedy_loop(pool):
    """The pre-r15 driver-loop MMR (anti-join + broadcast + TakeOrdered +
    checkpoint per round), replayed verbatim as the reference."""
    from wri_data_processing_spark.queries.llm_similarity import _MMR_K, _idot

    chosen = (
        pool.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            F.lit(1).alias("pick"),
            "vec_id",
            "qv",
            "rel",
            F.lit(0).cast("long").alias("maxsim"),
        )
    )
    for r in range(2, _MMR_K + 1):
        cc = chosen.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
        cands = pool.join(
            chosen.select(F.col("vec_id").alias("vid")),
            pool["vec_id"] == F.col("vid"),
            "left_anti",
        )
        scored = (
            cands.crossJoin(F.broadcast(cc))
            .select("vec_id", "qv", "rel", _idot(F.col("qv"), F.col("cv")).alias("s"))
            .groupBy("vec_id")
            .agg(
                F.first("qv").alias("qv"),
                F.first("rel").alias("rel"),
                F.max("s").cast("long").alias("maxsim"),
            )
        )
        pick = (
            scored.orderBy((F.col("rel") - F.col("maxsim")).desc(), "vec_id")
            .limit(1)
            .select(F.lit(r).alias("pick"), "vec_id", "qv", "rel", "maxsim")
        )
        chosen = chosen.unionByName(pick).localCheckpoint()
    return chosen.select("pick", "vec_id", "rel", "maxsim").orderBy("pick")


def test_mmr_expression_matches_loop(spark, sf_dir):
    """The r15 single-expression MMR must reproduce the old driver-loop
    greedy exactly — full pool, pool smaller than K, and empty pool (the
    slice(...,1,1) empty-safe argmax)."""
    from wri_data_processing_spark.queries.llm_similarity import (
        _mmr_greedy,
        retrieval_pool,
    )

    full = retrieval_pool(spark, sf_dir)
    assert _mmr_greedy(full).collect() == _mmr_greedy_loop(full).collect()
    tiny = full.orderBy(F.col("rel").desc(), "vec_id").limit(3).localCheckpoint()
    assert _mmr_greedy(tiny).collect() == _mmr_greedy_loop(tiny).collect()
    empty = full.filter(F.lit(False)).localCheckpoint()
    assert _mmr_greedy(empty).collect() == []
    assert _mmr_greedy_loop(empty).collect() == []


def test_minhash_split_helpers_compose_to_original(spark, sf_dir):
    """_minhash_pairs_from_hx(_minhash_base_h over exploded shingles) ==
    _minhash_pairs_from_reps — the factoring eval_dedup_pr's shared pass
    relies on."""
    from wri_data_processing_spark.queries.llm_dedup import (
        _minhash_base_h,
        _minhash_pairs_from_hx,
        _minhash_pairs_from_reps,
        _shingle_arrays,
    )

    d = _docs(spark, sf_dir)
    reps = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    whole = _minhash_pairs_from_reps(reps)
    hx = (
        _shingle_arrays(reps, 3)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .select("doc_id", _minhash_base_h("shingle").alias("h"))
    )
    split = _minhash_pairs_from_hx(hx)
    assert split.exceptAll(whole).count() == 0
    assert whole.exceptAll(split).count() == 0


def _jaccard_pairs_no_prefilter(sh, max_df):
    """The pre-r15 pair pipeline, WITHOUT the length prefilter — the
    formulation _jaccard_pairs carried before the §2.3 shuffle cut."""
    from wri_data_processing_spark.queries.llm_dedup import (
        _JACCARD_THRESHOLD,
        _PACK,
    )

    pk = F.col("doc_id") * _PACK + F.col("n")
    g = (
        sh.select(pk.alias("pk"), "shingle")
        .groupBy("shingle")
        .agg(F.collect_list("pk").alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    pairs = (
        g.select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    n_a, n_b = F.col("a") % _PACK, F.col("b") % _PACK
    jac = F.col("n_common") / (n_a + n_b - F.col("n_common"))
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(jac >= _JACCARD_THRESHOLD)
        .select(
            F.floor(F.col("a") / _PACK).cast("long").alias("doc_a"),
            F.floor(F.col("b") / _PACK).cast("long").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


def test_jaccard_length_prefilter_is_lossless(spark, sf_dir):
    """The r15 length prefilter (5*min(n_a,n_b) >= 3*max — the exact int64
    form of max-achievable-Jaccard >= 3/5) must be invisible in the output:
    identical pairs AND jaccard values vs the unfiltered formulation, on
    real testdata and on a crafted frame sitting exactly ON the boundary."""
    from wri_data_processing_spark.queries.llm_dedup import (
        _MAX_DF,
        _jaccard_pairs,
        _shingles_hashed,
    )

    sh = _shingles_hashed(_docs(spark, sf_dir), 3)
    new = _jaccard_pairs(sh)
    old = _jaccard_pairs_no_prefilter(sh, _MAX_DF)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0

    # Boundary: doc 1 (3 shingles) fully inside doc 2 (5 shingles) has
    # jaccard exactly 3/(3+5-3) = 3/5 — the prefilter holds with equality
    # (5*3 == 3*5) and the pair MUST survive. Docs 3/4 (2 of 2 shared, but
    # doc 4 has 4) give 2/4 = 0.5: dropped by the final filter either way.
    # Docs 5/6 (1 of 1 shared, doc 6 has 3) are prefilter-cut (5*1 < 3*3);
    # their true jaccard 1/3 confirms the cut row was a goner regardless.
    rows = []
    rows += [(1, 3, s) for s in (100, 101, 102)]
    rows += [(2, 5, s) for s in (100, 101, 102, 103, 104)]
    rows += [(3, 2, s) for s in (200, 201)]
    rows += [(4, 4, s) for s in (200, 201, 202, 203)]
    rows += [(5, 1, s) for s in (300,)]
    rows += [(6, 3, s) for s in (300, 301, 302)]
    crafted = spark.createDataFrame(rows, "doc_id long, n long, shingle long")
    got = {
        (r.doc_a, r.doc_b, r.jaccard) for r in _jaccard_pairs(crafted).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in _jaccard_pairs_no_prefilter(crafted, _MAX_DF).collect()
    }
    assert got == want == {(1, 2, 0.6)}
