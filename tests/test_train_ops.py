"""In-engine training + retrieval operators (operators/train.py,
operators/retrieval.py): semantic pins the oracle can't provide.

The DuckDB oracles replay the SAME algorithm, so an implementation bug
shared by both sides passes the value-hash — these tests pin the
algorithms against hand-computed ground truth (BPE merge sequences,
sequential-replay perceptron, float-BM25 single-term ranking) and the
one engine-parity primitive everything leans on (left-to-right
non-overlapping literal `replace`).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from salesforce_prefect_etl_pipeline_spark.operators import (
    index_store,
    retrieval,
    similarity,
    train,
)
from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
    batch_id_col,
    index_component_path,
    reconciled_read,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _duck_docs(texts):
    con = duckdb.connect()
    values = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES {values}) t(doc_id, text)"
    )
    return con


# ----------------------------------------------------------------------
# replace(): the merge primitive's engine-parity contract


@pytest.mark.parametrize(
    ("s", "a", "b"),
    [
        ("a;a;a;a;a;", "a;a;", "aa;"),  # adjacent overlapping candidates
        ("xyxyxyx", "xyx", "Z"),  # resume-after-match, odd tail
        ("aaaa", "aa", "b"),  # self-overlap
    ],
)
def test_replace_left_to_right_nonoverlap_matches_duckdb(spark, s, a, b):
    got_spark = (
        spark.range(1)
        .select(F.replace(F.lit(s), F.lit(a), F.lit(b)).alias("r"))
        .collect()[0][0]
    )
    got_duck = duckdb.sql(
        "SELECT replace(?, ?, ?)", params=[s, a, b]
    ).fetchone()[0]
    assert got_spark == got_duck == s.replace(a, b)  # Python str.replace
    # is the same left-to-right non-overlapping scan — three-way pin.


# ----------------------------------------------------------------------
# BPE merge training


def test_bpe_planted_merge_sequence(spark):
    """Hand-computed 4-merge sequence, including the two traps:

    - step 2 tie (a,b)=2 vs (aa,a)=2 resolved by left-symbol order;
    - step 4 proves (a,b) did NOT merge across the symbol boundary in
      "aa|b" (a single-separator representation false-matches the 'a'
      SUFFIX of symbol "aa" and would collapse "aa b" to "aab",
      changing steps 3-4 — the double-separator scheme's whole point).
    """
    docs = _docs(spark, ["aaab aaab aab"])
    got = [tuple(r) for r in train.bpe_train_merges(docs, n_merges=4).collect()]
    assert got == [
        (1, "a", "a", 5),
        (2, "a", "b", 2),
        (3, "aa", "ab", 2),
        (4, "aa", "b", 1),
    ]


def test_bpe_adjacent_occurrences_all_merge(spark):
    """BPE's greedy pass merges disjoint occurrences left-to-right:
    "abab" -> (a,b) twice -> [ab, ab] -> step 2 merges (ab, ab)."""
    docs = _docs(spark, ["abab abab"])
    got = [tuple(r) for r in train.bpe_train_merges(docs, n_merges=2).collect()]
    assert got == [(1, "a", "b", 4), (2, "ab", "ab", 2)]


def test_bpe_odd_run_merges_greedily(spark):
    """"aaa" has two overlapping (a,a) pairs but greedy left-to-right
    merges only the first: [aa, a], counted 2 at step 1 (overlap-counted
    like reference BPE), then (aa, a) at step 2."""
    docs = _docs(spark, ["aaa aaa aaa"])
    got = [tuple(r) for r in train.bpe_train_merges(docs, n_merges=2).collect()]
    assert got == [(1, "a", "a", 6), (2, "aa", "a", 3)]


def test_bpe_oracle_matches_on_planted_corpus(spark):
    texts = ["aaab aaab aab", "abab low lower lowest", "aaa bb aab low"]
    con = _duck_docs(texts)
    want = con.execute(train.bpe_train_merges_sql(4)).fetchall()
    got = [
        tuple(r)
        for r in train.bpe_train_merges(_docs(spark, texts), 4).collect()
    ]
    assert got == [tuple(r) for r in want]


def test_bpe_exhausted_pairs_stop_early(spark):
    """Single-char words only: no pairs ever, zero merge rows (both
    engines produce the empty trajectory, not an error)."""
    texts = ["a b c a b"]
    got = train.bpe_train_merges(_docs(spark, texts), n_merges=3).collect()
    assert got == []
    con = _duck_docs(texts)
    assert con.execute(train.bpe_train_merges_sql(3)).fetchall() == []


def test_bpe_encode_survives_pair_exhaustion(spark):
    """r14 advice regression: with fewer learnable merges than
    n_merges, the empty argmax must degrade the remaining steps to
    no-ops — NOT annihilate the vocabulary (which silently dropped
    every document from the encode on both engines, so the value-hash
    oracle couldn't see it). One learnable merge (a,b) in "ab"; steps
    2-3 are exhausted."""
    texts = ["a b c a b", "ab ab c"]
    got = [
        tuple(r)
        for r in train.bpe_encode_stats(_docs(spark, texts), n_merges=3).collect()
    ]
    # doc0: 5 single-char words -> 5 tokens; doc1: ab merged to one
    # symbol at step 1, so 3 words -> 3 tokens.
    assert got == [(0, 5, 5), (1, 3, 3)]
    con = _duck_docs(texts)
    want = con.execute(train.bpe_encode_stats_sql(3)).fetchall()
    assert got == [tuple(r) for r in want]
    # the merge trajectory still reports only the learnable step
    steps = [
        tuple(r)
        for r in train.bpe_train_merges(_docs(spark, texts), n_merges=3).collect()
    ]
    assert steps == [(1, "a", "b", 2)]


def test_bpe_encode_fully_exhausted_corpus_keeps_all_docs(spark):
    """The advisor's exact repro: zero learnable merges at all —
    every document must still encode (1 symbol per 1-char word)."""
    texts = ["a b c a b"]
    got = [
        tuple(r)
        for r in train.bpe_encode_stats(_docs(spark, texts), n_merges=3).collect()
    ]
    assert got == [(0, 5, 5)]
    con = _duck_docs(texts)
    assert got == [
        tuple(r) for r in con.execute(train.bpe_encode_stats_sql(3)).fetchall()
    ]


# ----------------------------------------------------------------------
# Batch perceptron


def _py_perceptron(texts, dims, epochs):
    """Sequential Python replay of the batch update — independent of
    both engines (hashing replayed with hashlib)."""
    import hashlib

    def bucket(term):
        return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % dims

    feats, labels = [], []
    for _i, t in enumerate(texts):
        toks = t.split()
        x = {-1: 1}
        for tok in toks:
            d = bucket(tok)
            x[d] = x.get(d, 0) + 1
        feats.append(x)
        labels.append(1 if 2 * len(set(toks)) >= len(toks) else -1)
    w = {d: 0 for d in range(-1, dims)}
    out = []
    for epoch in range(1, epochs + 1):
        upd = {d: 0 for d in w}
        for x, y in zip(feats, labels):
            dot = sum(w[d] * v for d, v in x.items())
            if y * dot <= 0:
                for d, v in x.items():
                    upd[d] += y * v
        for d in w:
            w[d] += upd[d]
        out.extend((epoch, d, w[d]) for d in sorted(w))
    return out


def test_perceptron_matches_sequential_replay(spark):
    texts = [
        "key agg row scan slow fast table",
        "a a a a a a a a b",  # repetitive -> y = -1
        "spark join merge batch window sort",
        "the the the the table table",  # repetitive -> y = -1
        "customer query big small line value",
    ]
    got = [
        tuple(r)
        for r in train.perceptron_train(
            _docs(spark, texts), dims=8, epochs=3
        ).collect()
    ]
    assert got == _py_perceptron(texts, dims=8, epochs=3)


def test_perceptron_releases_its_training_caches(spark, monkeypatch):
    """The doc_id-partitioned feature and label caches live only while
    training runs; the returned trajectory no longer needs them."""
    from pyspark import StorageLevel

    made = []
    real = train._cached_training_frames

    def spy(docs, dims):
        made.extend(real(docs, dims))
        return tuple(made)

    monkeypatch.setattr(train, "_cached_training_frames", spy)
    texts = ["a b c d e f", "g g g g g g g g", "spark join merge"]
    out = train.perceptron_train(_docs(spark, texts), dims=4, epochs=2)
    assert len(made) == 2
    assert all(f.storageLevel == StorageLevel.NONE for f in made)
    assert [tuple(r) for r in out.collect()] == _py_perceptron(texts, dims=4, epochs=2)


def test_perceptron_epoch1_update_is_full_gradient(spark):
    """With w0 = 0 every margin is 0 (misclassified), so epoch 1's
    weights must equal sum_docs y * x exactly."""
    texts = ["a b c d e f", "g g g g g g g g"]
    got = {
        (r.d): r.w
        for r in train.perceptron_train(
            _docs(spark, texts), dims=4, epochs=1
        ).collect()
    }
    expect = {d: 0 for d in range(-1, 4)}
    for _e, d, w in _py_perceptron(texts, dims=4, epochs=1):
        expect[d] = w
    assert got == expect


def test_perceptron_oracle_matches_on_planted_corpus(spark):
    texts = ["a b c a b", "z z z z z z", "spark join slow fast"]
    con = _duck_docs(texts)
    want = con.execute(train.perceptron_train_sql(dims=32, epochs=3)).fetchall()
    got = [
        tuple(r)
        for r in train.perceptron_train(
            _docs(spark, texts), dims=32, epochs=3
        ).collect()
    ]
    assert got == [tuple(r) for r in want]


# ----------------------------------------------------------------------
# Analyzer chain


def test_analyzed_bm25_cocranks_cased_and_punctuated(spark):
    """The verdict-specified pin: under the "simple" analyzer "Spark"
    and "spark" co-rank — the raw tokenizer treats them as unrelated
    terms."""
    texts = [
        "Spark is fast",
        "spark is fast",
        "spark, spark! Spark.",
        "row scan table",
    ]
    docs = _docs(spark, texts)
    analyzed = retrieval.bm25_topk(
        docs, spark, queries=((1, "Spark!"),), k=10, analyzer="simple"
    ).collect()
    hit_docs = {r.doc_id for r in analyzed}
    assert hit_docs == {0, 1, 2}  # all three spark docs, any casing
    # doc 2 has tf=3 -> ranks first
    assert sorted(analyzed, key=lambda r: r.rnk)[0].doc_id == 2
    raw = retrieval.bm25_topk(
        docs, spark, queries=((1, "Spark!"),), k=10, analyzer="raw"
    ).collect()
    assert {r.doc_id for r in raw} == set()  # literal "Spark!" nowhere


def test_analyzed_bm25_oracle_matches_on_planted_corpus(spark):
    texts = [
        "Spark is fast",
        "spark is fast",
        "spark, spark! Spark. (JOIN)",
        "row scan table join",
    ]
    con = _duck_docs(texts)
    queries = ((1, "Spark! join"), (2, "ROW/scan"))
    got = [
        tuple(r)
        for r in retrieval.bm25_topk(
            _docs(spark, texts), spark, queries=queries, analyzer="simple"
        ).collect()
    ]
    want = con.execute(
        retrieval.bm25_topk_sql(queries=queries, analyzer="simple")
    ).fetchall()
    assert got == [tuple(r) for r in want] and got


def test_analyzed_phrase_search_matches_oracle(spark):
    """The analyzer threads through phrase search: "Big, Table!" is the
    phrase "big table" under "simple"."""
    texts = [
        "the Big, Table! stands",
        "big table big table",
        "a Big... chair",
    ]
    con = _duck_docs(texts)
    queries = ((1, "Big, Table!"),)
    got = [
        tuple(r)
        for r in retrieval.phrase_search(
            _docs(spark, texts), spark, queries=queries, analyzer="simple"
        ).collect()
    ]
    want = con.execute(
        retrieval.phrase_search_sql(queries=queries, analyzer="simple")
    ).fetchall()
    assert got == [tuple(r) for r in want]
    assert {r[1:3] for r in got} == {(1, 1), (2, 0)}  # doc1 2 hits, doc0 1


def test_analyzed_index_probe_identical_to_direct(spark, tmp_path):
    """The analyzer threads through the index build: an index built
    with "simple" probed with "simple" equals the direct analyzed
    form."""
    texts = [
        "Spark is fast",
        "spark is fast",
        "spark, spark! Spark.",
        "row scan table",
    ]
    docs = _docs(spark, texts)
    index_dir = str(tmp_path / "an")
    retrieval.build_text_index(docs, index_dir, analyzer="simple")
    queries = ((1, "Spark!"), (2, "row SCAN"))
    probe = [
        tuple(r)
        for r in retrieval.probe_text_index(
            spark, index_dir, queries=queries, analyzer="simple"
        ).collect()
    ]
    direct = [
        tuple(r)
        for r in retrieval.bm25_topk(
            docs, spark, queries=queries, analyzer="simple"
        ).collect()
    ]
    assert probe == direct and probe


# ----------------------------------------------------------------------
# Hybrid RRF


def _hybrid_fixture(spark):
    texts = [
        "query anchor text",  # 0: the anchor vector's own doc
        "spark spark spark spark",  # 1: BM25-only winner (orthogonal emb)
        "row scan line value",  # 2: ANN-only winner (parallel emb)
        "spark join merge",  # 3: mid BM25
        "table group sort",  # 4: neither
    ]
    vecs = [
        [1.0, 0.0, 0.0, 0.0],  # 0 anchor
        [0.0, 1.0, 0.0, 0.0],  # 1 orthogonal
        [0.99, 0.1, 0.0, 0.0],  # 2 near-parallel to anchor
        [0.0, 0.0, 1.0, 0.0],  # 3 orthogonal
        [0.0, 0.0, 0.0, 1.0],  # 4 orthogonal
    ]
    docs = _docs(spark, texts)
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    return texts, vecs, docs, emb


def test_hybrid_rrf_surfaces_top_doc_of_either_leg(spark):
    """The verdict-specified pin: a document ranked FIRST by either leg
    alone must surface in the fusion — doc 1 is the BM25 winner with an
    orthogonal embedding, doc 2 the cosine winner with no query term."""
    _, _, docs, emb = _hybrid_fixture(spark)
    queries = ((1, "spark", 0),)
    out = retrieval.hybrid_rrf_topk(
        docs, emb, spark, queries=queries, k=5, leg_k=3
    ).collect()
    fused = [r.doc_id for r in out]
    bm_only = retrieval.bm25_topk(docs, spark, queries=((1, "spark"),), k=3)
    ann_only = [
        r.neighbor_id for r in similarity.cosine_topk(emb, [0], k=3).collect()
    ]
    bm_top = sorted(bm_only.collect(), key=lambda r: r.rnk)[0].doc_id
    assert bm_top == 1 and ann_only[0] == 2  # the fixture is as planted
    assert 1 in fused and 2 in fused
    # a doc in BOTH legs outranks an equally-ranked single-leg doc:
    # doc 3 ("spark join merge") is in the BM25 leg AND nowhere in ANN
    # top-3; doc 0 is ANN rank... anchor excluded from its own leg, so
    # just check the fusion is sorted by the integer rrf score
    scores = [r.rrf_score for r in out]
    assert scores == sorted(scores, reverse=True) or len(set(scores)) < len(scores)


def test_hybrid_rrf_oracle_matches_on_planted_corpus(spark):
    texts, vecs, docs, emb = _hybrid_fixture(spark)
    queries = ((1, "spark", 0), (2, "row scan", 2))
    got = [
        tuple(r)
        for r in retrieval.hybrid_rrf_topk(
            docs, emb, spark, queries=queries, k=5, leg_k=3
        ).collect()
    ]
    con = _duck_docs(texts)
    vec_values = ", ".join(
        f"({i}, {v})" for i, v in enumerate([list(map(float, v)) for v in vecs])
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT t.vec_id, CAST(t.embedding AS FLOAT[]) AS embedding "
        f"FROM (VALUES {vec_values}) t(vec_id, embedding)"
    )
    want = con.execute(
        retrieval.hybrid_rrf_sql(queries=queries, k=5, leg_k=3)
    ).fetchall()
    assert got == [tuple(r) for r in want] and got


def test_hybrid_rrf_both_legs_beat_single_leg_at_same_rank(spark):
    """RRF addition: a doc at rank r in BOTH legs strictly outscores a
    doc at rank r in one leg (score doubles) — the reason hybrid beats
    either leg on queries where lexical and semantic agree."""
    texts = ["spark alpha", "spark beta", "gamma delta"]
    vecs = [[1.0, 0.0], [0.99, 0.14], [0.0, 1.0]]
    docs = _docs(spark, texts)
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    # query anchored at doc 0: doc 1 is BM25 hit AND nearest neighbor;
    # doc 2 is neither
    out = retrieval.hybrid_rrf_topk(
        docs, emb, spark, queries=((1, "spark", 0),), k=3, leg_k=2
    ).collect()
    by_doc = {r.doc_id: r.rrf_score for r in out}
    assert by_doc[1] > by_doc[0]  # doc1: both legs; doc0: BM25 only (self-
    # excluded from its own ANN leg)
    # doc2 reaches the fusion only through ANN rank 2 (top-k does not
    # threshold on cosine): exactly the single-leg rank-2 quantum
    assert by_doc[2] == retrieval.RRF_SCALE // (retrieval.RRF_K + 2)
    assert by_doc[1] > by_doc[2]


# ----------------------------------------------------------------------
# BM25


def _py_bm25_single_term(texts, term, k1=1.2, b=0.75):
    """Float log-BM25 ranking for a single-term query (the exact-match
    contract: per-term the rational scorer is a monotone transform)."""
    import math

    toks = [t.split() for t in texts]
    n = len(texts)
    avgdl = sum(len(t) for t in toks) / n
    df = sum(1 for t in toks if term in t)
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
    scores = {}
    for i, t in enumerate(toks):
        tf = t.count(term)
        if tf:
            scores[i] = idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(t) / avgdl)
            )
    return sorted(scores, key=lambda i: (-scores[i], i))


def test_bm25_single_term_ranking_matches_float_bm25(spark):
    texts = [
        "spark spark spark join",  # high tf, short
        "spark join merge batch window sort table value",  # tf 1, long
        "spark spark join merge",  # tf 2
        "row scan table",  # no hit: absent
        "spark " * 30 + "join",  # tf 30 but very long (saturation)
    ]
    out = retrieval.bm25_topk(
        _docs(spark, texts), spark, queries=((1, "spark"),), k=10
    ).collect()
    got = [r.doc_id for r in sorted(out, key=lambda r: r.rnk)]
    assert got == _py_bm25_single_term(texts, "spark")
    assert 3 not in got  # doc without the term never appears


def test_bm25_multi_term_coverage_beats_single_term(spark):
    """A doc matching both query terms outranks same-length docs
    matching one term once (scores add across terms)."""
    texts = [
        "spark join table value",  # both terms
        "spark row table value",  # one term
        "join row table value",  # one term
        "row scan line value",  # none
    ]
    out = retrieval.bm25_topk(
        _docs(spark, texts), spark, queries=((1, "spark join"),), k=10
    ).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rnk)]
    assert ranked[0] == 0
    assert set(ranked) == {0, 1, 2}


def test_bm25_index_probe_identical_to_direct_and_prunes(spark, tmp_path):
    """The persisted inverted index is lossless: probe == direct over
    the same corpus — and the probe's posting scan carries a
    PartitionFilters bucket predicate (static pruning, not DPP) that
    touches fewer buckets than exist."""
    import contextlib
    import io

    texts = [
        "spark join slow window",
        "window stream agg window stream",
        "customer query big table customer spark",
        "row scan line value part",
        "spark spark spark join join slow fast",
        "merge batch sort filter group",
    ]
    docs = _docs(spark, texts)
    index_dir = str(tmp_path / "bm25")
    retrieval.build_text_index(docs, index_dir)

    probe = retrieval.probe_text_index(spark, index_dir)
    direct = retrieval.bm25_topk(docs, spark)
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in direct.collect()
    ]

    qterms = {
        t for _, text in retrieval.BM25_QUERIES for t in text.split()
    }
    buckets = {retrieval._term_bucket_py(t) for t in qterms}
    assert len(buckets) < retrieval.TEXT_INDEX_BUCKETS
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan, plan


def test_bm25_append_equals_monolithic_build(spark, tmp_path):
    """build(all) and build(some)+append(rest) must be probe-identical
    (the append_ivf_vectors identity, lexical edition) — including the
    summed append-only totals."""
    texts = [
        "spark join slow window",
        "window stream agg window stream",
        "customer query big table customer spark",
        "row scan line value part",
        "spark spark spark join join slow fast",
        "merge batch sort filter group",
    ]
    docs = _docs(spark, texts)
    mono_dir = str(tmp_path / "mono")
    incr_dir = str(tmp_path / "incr")
    retrieval.build_text_index(docs, mono_dir)
    retrieval.build_text_index(docs.filter("doc_id < 4"), incr_dir)
    retrieval.append_text_index(docs.filter("doc_id >= 4"), incr_dir)
    mono = [
        tuple(r) for r in retrieval.probe_text_index(spark, mono_dir).collect()
    ]
    incr = [
        tuple(r) for r in retrieval.probe_text_index(spark, incr_dir).collect()
    ]
    assert mono == incr
    assert mono  # non-vacuous


def test_champion_probe_exact_when_m_covers_df(spark, tmp_path):
    """With m >= every query term's df the champion tier IS the full
    tier: champion probe == full probe. With m=1 a single-term query
    returns exactly the term's top-tf posting (tie: doc_id asc)."""
    texts = [
        "spark join slow window",
        "window stream agg window stream",
        "customer query big table customer spark",
        "row scan line value part",
        "spark spark spark join join slow fast",
        "merge batch sort filter group",
    ]
    docs = _docs(spark, texts)
    index_dir = str(tmp_path / "bm25")
    retrieval.build_text_index(docs, index_dir)

    retrieval.build_champion_lists(index_dir, spark)  # m=128 >> df
    full = [
        tuple(r) for r in retrieval.probe_text_index(spark, index_dir).collect()
    ]
    champ = [
        tuple(r)
        for r in retrieval.probe_champion_lists(spark, index_dir).collect()
    ]
    assert champ == full

    retrieval.build_champion_lists(index_dir, spark, m=1)
    out = retrieval.probe_champion_lists(
        spark, index_dir, queries=((1, "spark"),), k=10
    ).collect()
    # doc 4 has tf=3 for "spark" — the unique m=1 champion
    assert [(r.rnk, r.doc_id) for r in out] == [(1, 4)]


def test_champion_oracle_matches_on_planted_corpus(spark, tmp_path):
    texts = [
        "spark join slow",
        "window stream agg window stream",
        "customer query big table customer",
        "row scan line value part",
        "spark spark spark join join slow fast",
    ]
    index_dir = str(tmp_path / "bm25")
    retrieval.build_text_index(_docs(spark, texts), index_dir)
    retrieval.build_champion_lists(index_dir, spark, m=2)
    got = [
        tuple(r)
        for r in retrieval.probe_champion_lists(spark, index_dir).collect()
    ]
    con = _duck_docs(texts)
    want = con.execute(retrieval.bm25_champion_sql(m=2)).fetchall()
    assert got == [tuple(r) for r in want]


def test_phrase_search_overlap_counting_and_boundaries(spark):
    """Overlaps count per anchor ("a a" twice in "a a a"); partial or
    out-of-order term presence never matches; ties break on doc_id."""
    texts = [
        "a a a b",  # "a a" twice (overlap)
        "a b a b",  # "a a" never (non-contiguous)
        "b a a b",  # "a a" once
        "a c a",  # terms present, phrase absent
    ]
    out = retrieval.phrase_search(
        _docs(spark, texts), spark, queries=((1, "a a"),), k=10
    ).collect()
    assert [(r.rnk, r.doc_id, r.n_hits) for r in out] == [(1, 0, 2), (2, 2, 1)]


def test_phrase_search_repeated_term_phrase(spark):
    """A phrase with a repeated term ("a b a") must anchor correctly —
    the slot index disambiguates the two 'a' slots."""
    texts = ["a b a b a", "a b b a"]
    out = retrieval.phrase_search(
        _docs(spark, texts), spark, queries=((1, "a b a"),), k=10
    ).collect()
    # doc 0: anchors at pos 0 and 2 -> 2 hits; doc 1: none
    assert [(r.doc_id, r.n_hits) for r in out] == [(0, 2)]


def test_phrase_search_oracle_matches_on_planted_corpus(spark):
    texts = [
        "spark join slow spark join",
        "window stream agg window stream agg agg",
        "big table big table big",
        "spark slow join window",
    ]
    con = _duck_docs(texts)
    want = con.execute(retrieval.phrase_search_sql()).fetchall()
    got = [
        tuple(r)
        for r in retrieval.phrase_search(_docs(spark, texts), spark).collect()
    ]
    assert got == [tuple(r) for r in want]
    assert got  # non-vacuous


def test_probe_query_tokenizer_matches_engine(spark, tmp_path):
    """r14 advice regression: probes tokenized query text with Python
    ``str.split()`` (Unicode-aware, drops empties) while the direct
    forms and the index builder use the engine tokenizer (ASCII \\s+,
    empty text -> ['']). Unicode NBSP inside a query and an empty-text
    document are exactly the divergent cases — probe must equal direct
    on both."""
    texts = [
        "spark join slow",  # NBSP is ONE token to the engine
        "spark join slow",
        "",  # tokenizes to [''] — matches an empty query term
    ]
    docs = _docs(spark, texts)
    index_dir = str(tmp_path / "bm25")
    retrieval.build_text_index(docs, index_dir)
    queries = ((1, "spark join"), (2, ""))
    direct = [
        tuple(r)
        for r in retrieval.bm25_topk(docs, spark, queries=queries).collect()
    ]
    probe = [
        tuple(r)
        for r in retrieval.probe_text_index(
            spark, index_dir, queries=queries
        ).collect()
    ]
    assert probe == direct
    # non-vacuous both ways: the NBSP term matches doc 0 only, and the
    # empty-string term matches the empty document
    assert (1, 1, 0) in {(q, rk, d) for q, rk, d, _ in direct}
    assert any(q == 2 and d == 2 for q, _, d, _ in direct)


def test_append_tear_is_invisible_to_probe(spark, tmp_path):
    """r14 advice regression: a crash between the postings append and
    the totals append must not skew idf — the probe reconciles against
    committed totals batches, so the torn batch is invisible."""
    texts = [
        "spark join slow window",
        "window stream agg window stream",
        "customer query big table customer spark",
        "row scan line value part",
    ]
    docs = _docs(spark, texts)
    index_dir = str(tmp_path / "bm25")
    retrieval.build_text_index(docs, index_dir)
    before = [
        tuple(r) for r in retrieval.probe_text_index(spark, index_dir).collect()
    ]
    # simulate the tear: postings land, the totals commit record doesn't
    torn = _docs(spark, ["spark spark spark join"]).withColumn(
        "doc_id", F.col("doc_id") + 100
    )
    retrieval._postings(torn).withColumn(
        "batch_id", F.lit("torn-batch")
    ).write.mode("append").partitionBy("bucket").parquet(
        f"{index_dir}/postings"
    )
    after = [
        tuple(r) for r in retrieval.probe_text_index(spark, index_dir).collect()
    ]
    assert after == before
    # completing the batch properly makes it visible
    retrieval.append_text_index(torn, index_dir)
    completed = [
        tuple(r) for r in retrieval.probe_text_index(spark, index_dir).collect()
    ]
    assert completed != before


def test_positional_append_equals_monolithic(spark, tmp_path):
    """build(all) vs build(some)+append(rest): probe-identical
    positional tiers, and a torn positional append (rows without the
    posbatches marker) is invisible."""
    texts = [
        "spark join slow spark join",
        "window stream agg window stream agg agg",
        "big table big table big",
        "spark slow join window",
        "spark join big table spark join",
    ]
    docs = _docs(spark, texts)
    mono_dir = str(tmp_path / "mono")
    incr_dir = str(tmp_path / "incr")
    retrieval.build_positional_index(docs, mono_dir)
    retrieval.build_positional_index(docs.filter("doc_id < 3"), incr_dir)
    retrieval.append_positional_index(docs.filter("doc_id >= 3"), incr_dir)
    mono = [
        tuple(r)
        for r in retrieval.probe_phrase_index(spark, mono_dir).collect()
    ]
    incr = [
        tuple(r)
        for r in retrieval.probe_phrase_index(spark, incr_dir).collect()
    ]
    assert mono == incr
    assert mono  # non-vacuous


def test_champion_append_recut_equals_full_rebuild(spark, tmp_path):
    """Champion maintenance (r13 verdict task 4): cut over the initial
    index, append a batch, recut touched buckets only — stored rows and
    probe output must both equal the monolithic cut over everything."""
    texts = [
        "spark join slow",
        "window stream agg window stream",
        "customer query big table customer",
        "row scan line value part",
        "spark spark spark join join slow fast",
        "spark window merge",
    ]
    docs = _docs(spark, texts)
    mono_dir = str(tmp_path / "mono")
    incr_dir = str(tmp_path / "incr")
    retrieval.build_text_index(docs, mono_dir)
    retrieval.build_champion_lists(mono_dir, spark, m=2)

    head, tail = docs.filter("doc_id < 4"), docs.filter("doc_id >= 4")
    retrieval.build_text_index(head, incr_dir)
    retrieval.build_champion_lists(incr_dir, spark, m=2)
    retrieval.append_text_index(tail, incr_dir)
    retrieval.append_champion_lists(tail, incr_dir, m=2)

    mono_rows = sorted(
        (tuple(r) for r in spark.read.parquet(f"{mono_dir}/champions").collect()),
    )
    incr_rows = sorted(
        (tuple(r) for r in spark.read.parquet(f"{incr_dir}/champions").collect()),
    )
    assert mono_rows == incr_rows
    mono_probe = [
        tuple(r)
        for r in retrieval.probe_champion_lists(spark, mono_dir).collect()
    ]
    incr_probe = [
        tuple(r)
        for r in retrieval.probe_champion_lists(spark, incr_dir).collect()
    ]
    assert mono_probe == incr_probe
    assert mono_probe  # non-vacuous


def test_champion_append_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """The bucket recut asks for dynamic partition overwrite on its own
    write: it never sets session-global conf, which a concurrent writer
    on the same session would see."""
    from pyspark.sql.conf import RuntimeConfig

    docs = _docs(spark, _LIFECYCLE_TEXTS)
    idx = str(tmp_path / "idx")
    retrieval.build_text_index(docs.filter("doc_id < 4"), idx)
    retrieval.build_champion_lists(idx, spark, m=2)
    retrieval.append_text_index(docs.filter("doc_id >= 4"), idx)
    calls = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig,
        "set",
        lambda self, key, value: calls.append(key) or real_set(self, key, value),
    )
    retrieval.append_champion_lists(docs.filter("doc_id >= 4"), idx, m=2)
    assert calls == []


def test_phrase_index_probe_identical_to_direct(spark, tmp_path):
    """The positional tier is lossless: probe == direct phrase search,
    and the probed read carries the bucket PartitionFilters."""
    import contextlib
    import io

    texts = [
        "spark join slow spark join",
        "window stream agg window stream agg agg",
        "big table big table big",
        "spark slow join window",
    ]
    docs = _docs(spark, texts)
    index_dir = str(tmp_path / "pos")
    retrieval.build_positional_index(docs, index_dir)
    probe = retrieval.probe_phrase_index(spark, index_dir)
    direct = retrieval.phrase_search(docs, spark)
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan, plan


def test_bpe_encode_counts_match_hand_computation(spark):
    """Encode with 2 learned merges on the planted corpus: merges are
    (a,a) then (a,b) (see test_bpe_planted_merge_sequence), so
    aaab -> [aa, ab] (2 symbols) and aab -> [aa, b] (2 symbols)."""
    docs = _docs(spark, ["aaab aaab aab"])
    got = [tuple(r) for r in train.bpe_encode_stats(docs, n_merges=2).collect()]
    assert got == [(0, 3, 6)]  # 3 words, 2+2+2 BPE tokens
    # with all 4 merges every word collapses to one symbol
    got4 = [tuple(r) for r in train.bpe_encode_stats(docs, n_merges=4).collect()]
    assert got4 == [(0, 3, 3)]


def test_bpe_encode_oracle_matches_on_planted_corpus(spark):
    texts = ["aaab aaab aab", "abab low lower lowest", "aaa bb aab low"]
    con = _duck_docs(texts)
    want = con.execute(train.bpe_encode_stats_sql(3)).fetchall()
    got = [
        tuple(r)
        for r in train.bpe_encode_stats(_docs(spark, texts), 3).collect()
    ]
    assert got == [tuple(r) for r in want]


def test_bm25_oracle_matches_on_planted_corpus(spark):
    texts = [
        "spark join slow",
        "window stream agg window stream",
        "customer query big table customer",
        "row scan line value part",
        "spark spark spark join join slow fast",
    ]
    con = _duck_docs(texts)
    want = con.execute(retrieval.bm25_topk_sql()).fetchall()
    got = [
        tuple(r)
        for r in retrieval.bm25_topk(_docs(spark, texts), spark).collect()
    ]
    assert got == [tuple(r) for r in want]


def test_hybrid_rrf_indexed_equals_direct(spark, tmp_path):
    """The leg-swap identity behind text_hybrid_rrf_indexed: fusing the
    bucket-pruned BM25 probe with the nprobe=nlist IVF probe must be
    bit-identical to fusing the direct scans (IVF over every list IS
    the exact cosine ranking on quantized keys)."""
    import numpy as np

    texts = [
        "query anchor text",
        "spark spark spark spark",
        "row scan line value",
        "spark join merge",
        "table group sort",
        "spark window value table",
    ]
    rng_free = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.99, 0.1, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
        [0.6, 0.6, 0.2, 0.1],
    ]
    docs = _docs(spark, texts)
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng_free)],
        "vec_id long, embedding array<float>",
    )
    queries = ((1, "spark", 0), (2, "row scan", 2))

    direct = [
        tuple(r)
        for r in retrieval.hybrid_rrf_topk(
            docs, emb, spark, queries=queries, k=5, leg_k=3
        ).collect()
    ]

    index_dir = str(tmp_path / "bm25")
    retrieval.build_text_index(docs, index_dir)
    bm = retrieval.probe_text_index(
        spark, index_dir, queries=tuple((q, t) for q, t, _ in queries), k=3
    )
    ivf_dir = str(tmp_path / "ivf")
    cents = similarity.build_ivf_index(emb, ivf_dir, nlist=2, iters=0)
    qvecs = [(i, rng_free[i]) for i in (0, 2)]
    ann = similarity.probe_ivf(
        spark, ivf_dir, qvecs, k=3, nprobe=2, centroids=np.asarray(cents)
    )
    indexed = [
        tuple(r)
        for r in retrieval.hybrid_rrf_from_legs(
            bm, ann, spark, queries, k=5
        ).collect()
    ]
    assert indexed == direct and indexed


def test_analyzed_champion_append_equals_full_rebuild(spark, tmp_path):
    """The analyzer threads through the INCREMENTAL tiers too: an index
    built+maintained under "simple" (build 4 docs, champion cut, append
    2, touched-bucket recut with the analyzed tokenizer) must equal the
    monolithic analyzed cut — the analyzer x incremental matrix cell."""
    texts = [
        "Spark, join! slow",
        "WINDOW stream agg window stream",
        "customer QUERY big table customer",
        "row scan line value part",
        "spark SPARK spark join join slow fast",
        "spark window merge",
    ]
    docs = _docs(spark, texts)
    mono_dir = str(tmp_path / "mono")
    incr_dir = str(tmp_path / "incr")
    retrieval.build_text_index(docs, mono_dir, analyzer="simple")
    retrieval.build_champion_lists(mono_dir, spark, m=2)

    head, tail = docs.filter("doc_id < 4"), docs.filter("doc_id >= 4")
    retrieval.build_text_index(head, incr_dir, analyzer="simple")
    retrieval.build_champion_lists(incr_dir, spark, m=2)
    retrieval.append_text_index(tail, incr_dir, analyzer="simple")
    retrieval.append_champion_lists(tail, incr_dir, m=2, analyzer="simple")

    mono_rows = sorted(
        tuple(r) for r in spark.read.parquet(f"{mono_dir}/champions").collect()
    )
    incr_rows = sorted(
        tuple(r) for r in spark.read.parquet(f"{incr_dir}/champions").collect()
    )
    assert mono_rows == incr_rows and mono_rows
    # ... and the analyzed probe over the maintained tier equals the
    # probe over the monolithic one on a cased query
    q = ((1, "Spark!"),)
    mono_p = [
        tuple(r)
        for r in retrieval.probe_champion_lists(
            spark, mono_dir, queries=q, analyzer="simple"
        ).collect()
    ]
    incr_p = [
        tuple(r)
        for r in retrieval.probe_champion_lists(
            spark, incr_dir, queries=q, analyzer="simple"
        ).collect()
    ]
    assert mono_p == incr_p and mono_p


# ----------------------------------------------------------------------
# Retraction (tombstones) + compaction lifecycle (r14 verdict tasks 2-3)

_LIFECYCLE_TEXTS = [
    "spark join slow window",
    "window stream agg window stream",
    "customer query big table customer spark",
    "row scan line value part",
    "spark spark spark join join slow fast",
    "merge batch sort filter group",
    "spark table query slow join",
    "big table window stream",
]


def _all_tier_probes(spark, index_dir):
    return (
        [tuple(r) for r in retrieval.probe_text_index(spark, index_dir).collect()],
        [
            tuple(r)
            for r in retrieval.probe_champion_lists(spark, index_dir).collect()
        ],
        [
            tuple(r)
            for r in retrieval.probe_phrase_index(spark, index_dir).collect()
        ],
    )


def _build_all_tiers(spark, docs, index_dir):
    retrieval.build_text_index(docs, index_dir)
    retrieval.build_champion_lists(index_dir, spark)
    retrieval.build_positional_index(docs, index_dir)


def test_retract_equals_never_ingested_at_all_tiers(spark, tmp_path):
    """The retract == never-ingested identity: after retract_* +
    the champion recut, every tier's probe is bit-identical to probes
    over an index that never saw the retracted documents — df, N and
    total_len all back to the live corpus's exactly."""
    docs = _docs(spark, _LIFECYCLE_TEXTS)
    live, dead = docs.filter("doc_id NOT IN (1, 4)"), docs.filter(
        "doc_id IN (1, 4)"
    )
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    _build_all_tiers(spark, docs, idx)
    retrieval.retract_text_index(dead, idx)
    retrieval.retract_positional_index(dead, idx)
    retrieval.retract_champion_lists(dead, idx)
    _build_all_tiers(spark, live, ref)
    assert _all_tier_probes(spark, idx) == _all_tier_probes(spark, ref)
    # and the direct scan over the live corpus agrees
    direct = [tuple(r) for r in retrieval.bm25_topk(live, spark).collect()]
    assert _all_tier_probes(spark, idx)[0] == direct


def test_torn_retraction_is_invisible(spark, tmp_path):
    """Tombstone rows whose batch never committed (crash before the
    negative-totals / posbatches record) must not change any probe —
    the same tear invariant ingest batches carry."""
    from pyspark.sql import functions as F

    docs = _docs(spark, _LIFECYCLE_TEXTS)
    idx = str(tmp_path / "idx")
    _build_all_tiers(spark, docs, idx)
    before = _all_tier_probes(spark, idx)
    # write tombstones WITHOUT their commit records (the torn prefix
    # of retract_text_index / retract_positional_index)
    docs.filter("doc_id IN (1, 4)").select("doc_id").withColumn(
        "batch_id", F.lit("deadbeef-uncommitted")
    ).write.mode("append").parquet(f"{idx}/tombstones")
    assert _all_tier_probes(spark, idx) == before


def test_replayed_retraction_is_exactly_once(spark, tmp_path):
    """Retracting the same batch twice (at-least-once replay) must not
    double-subtract: the content-derived batch id collides with the
    original's and the probe's batch_id dedup drops the second totals
    row."""
    docs = _docs(spark, _LIFECYCLE_TEXTS)
    dead = docs.filter("doc_id IN (1, 4)")
    idx = str(tmp_path / "idx")
    _build_all_tiers(spark, docs, idx)
    retrieval.retract_text_index(dead, idx)
    retrieval.retract_positional_index(dead, idx)
    once = _all_tier_probes(spark, idx)
    retrieval.retract_text_index(dead, idx)
    retrieval.retract_positional_index(dead, idx)
    assert _all_tier_probes(spark, idx) == once


def test_rebuild_decommits_old_tombstones(spark, tmp_path):
    """A full REBUILD over a retracted index must not inherit the old
    corpus's retractions: the overwrite deletes the commit records, so
    stale tombstone batches become uncommitted and invisible."""
    docs = _docs(spark, _LIFECYCLE_TEXTS)
    idx = str(tmp_path / "idx")
    _build_all_tiers(spark, docs, idx)
    retrieval.retract_text_index(docs.filter("doc_id IN (1, 4)"), idx)
    retrieval.retract_positional_index(docs.filter("doc_id IN (1, 4)"), idx)
    _build_all_tiers(spark, docs, idx)  # rebuild over the full corpus
    direct = [tuple(r) for r in retrieval.bm25_topk(docs, spark).collect()]
    got = _all_tier_probes(spark, idx)
    assert got[0] == direct
    ref = str(tmp_path / "ref")
    _build_all_tiers(spark, docs, ref)
    assert got == _all_tier_probes(spark, ref)


def test_compaction_is_probe_identical_and_merges_files(spark, tmp_path):
    """50 appended micro-batches -> compact: probes identical at every
    tier, each bucket partition back to ONE parquet file, tombstoned
    rows physically gone, and an interrupted compaction's re-run
    converges (versioned publish, atomic pointer swap)."""
    import os as _os

    texts = _LIFECYCLE_TEXTS * 7  # 56 docs
    docs = _docs(spark, texts)
    idx = str(tmp_path / "idx")
    # 50 micro-batches: first builds, the rest append at both tiers
    retrieval.build_text_index(docs.filter("doc_id < 7"), idx)
    retrieval.build_positional_index(docs.filter("doc_id < 7"), idx)
    for i in range(7, 56):
        b = docs.filter(f"doc_id = {i}")
        retrieval.append_text_index(b, idx)
        retrieval.append_positional_index(b, idx)
    retrieval.build_champion_lists(idx, spark)
    dead = docs.filter("doc_id IN (3, 11)")
    retrieval.retract_text_index(dead, idx)
    retrieval.retract_positional_index(dead, idx)
    retrieval.retract_champion_lists(dead, idx)
    before = _all_tier_probes(spark, idx)
    assert index_store.parquet_file_count(f"{idx}/postings") > 50

    stats = retrieval.compact_text_index(spark, idx)
    assert _all_tier_probes(spark, idx) == before
    # one file per bucket partition at both heavy tiers
    for comp in ("postings", "positional"):
        root = index_component_path(idx, comp)
        for bucket_dir in _os.listdir(root):
            if not bucket_dir.startswith("bucket="):
                continue
            files = [
                f
                for f in _os.listdir(_os.path.join(root, bucket_dir))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (comp, bucket_dir, files)
        assert stats[comp]["files_after"] < stats[comp]["files_before"]
    # tombstones applied, not carried into the new version
    assert not _os.path.isdir(index_component_path(idx, "tombstones"))
    # physical drop: the retracted doc's postings are gone from disk
    raw = spark.read.parquet(index_component_path(idx, "postings"))
    assert raw.filter("doc_id IN (3, 11)").count() == 0

    # interrupted compaction: an orphan version dir (crash before the
    # pointer swap) is superseded by the re-run and probes still agree
    _os.makedirs(_os.path.join(idx, "versions", "v99", "postings"))
    retrieval.compact_text_index(spark, idx)
    assert _all_tier_probes(spark, idx) == before
    assert not _os.path.isdir(_os.path.join(idx, "versions", "v99"))


# ----------------------------------------------------------------------
# Unicode analyzer chain (r14 verdict task 5)

_UNICODE_TEXTS = [
    "Le café—naïve… “touché” 東京 データ 42",
    "spark join slow café window",
    "Straße STRASSE strasse",
    "中文 分词 测试 join",
    "naïve NAÏVE touché, 東京!",
]


def test_unicode_chain_triple_twin_on_planted_corpus(spark):
    """Engine (Java \\p classes), DuckDB (RE2) and the Python driver
    twin produce identical token arrays on the pinned common subset:
    accented Latin (café/naïve/touché fold case, keep letters), CJK
    (\\p{L} keeps Han/Kana terms whole), ß (already lowercase — no
    engine full-case-folds, so Straße != STRASSE everywhere, equally),
    and non-ASCII punctuation folding (em-dash, ellipsis, curly
    quotes)."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import (
        unicode_tokens,
        unicode_tokens_py,
    )

    docs = _docs(spark, _UNICODE_TEXTS)
    eng = [
        r[0]
        for r in docs.orderBy("doc_id").select(unicode_tokens("text")).collect()
    ]
    con = _duck_docs(_UNICODE_TEXTS)
    sql_tok = retrieval._sql_tokens("text", "unicode")
    duck = [
        r[0]
        for r in con.sql(
            f"SELECT {sql_tok} FROM documents ORDER BY doc_id"
        ).fetchall()
    ]
    py = [unicode_tokens_py(t) for t in _UNICODE_TEXTS]
    assert eng == duck == py
    # the folds actually happened: case, punctuation, CJK survival
    assert eng[0] == ["le", "café", "naïve", "touché", "東京", "データ", "42"]
    assert eng[2] == ["straße", "strasse", "strasse"]
    assert eng[3] == ["中文", "分词", "测试", "join"]


def test_unicode_chain_documented_i_dot_divergence(spark):
    """The HONEST pin of the known divergence (see text.unicode_tokens):
    U+0130 İ full-lowercases to i + combining dot in Java and Python
    (the dot, category Mn, then folds to a separator -> two tokens),
    while DuckDB's utf8proc takes the simple mapping to plain 'i' (one
    token). Registered unicode rows must therefore avoid İ in query
    text; if an engine upgrade ever closes the gap this test fails and
    the contract doc gets updated."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import (
        unicode_tokens,
        unicode_tokens_py,
    )

    texts = ["İstanbul"]
    eng = _docs(spark, texts).select(unicode_tokens("text")).collect()[0][0]
    py = unicode_tokens_py(texts[0])
    assert eng == py == ["i", "stanbul"]
    con = _duck_docs(texts)
    sql_tok = retrieval._sql_tokens("text", "unicode")
    duck = con.sql(f"SELECT {sql_tok} FROM documents").fetchone()[0]
    assert duck == ["istanbul"]


def test_unicode_chain_final_sigma_normalized(spark):
    """Greek capital sigma no longer diverges (r15 advice): Java and
    Python contextual lowercase map word-final Σ to ς while DuckDB's
    utf8proc simple mapping gives σ — the chain now folds ς→σ after
    the lowercase in all three twins (standard Greek search
    normalization), so ΟΔΥΣΣΕΥΣ, Οδυσσευς and οδυσσευσ all produce
    the identical token on every engine."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import (
        unicode_tokens,
        unicode_tokens_py,
    )

    texts = ["ΟΔΥΣΣΕΥΣ Οδυσσευς οδυσσευσ", "ΣΟΦΙΑ τελος ΤΕΛΟΣ"]
    docs = _docs(spark, texts)
    eng = [
        r[0]
        for r in docs.orderBy("doc_id").select(unicode_tokens("text")).collect()
    ]
    con = _duck_docs(texts)
    sql_tok = retrieval._sql_tokens("text", "unicode")
    duck = [
        r[0]
        for r in con.sql(
            f"SELECT {sql_tok} FROM documents ORDER BY doc_id"
        ).fetchall()
    ]
    py = [unicode_tokens_py(t) for t in texts]
    assert eng == duck == py
    assert eng[0] == ["οδυσσευσ"] * 3
    assert eng[1] == ["σοφια", "τελοσ", "τελοσ"]


def test_unicode_bm25_folds_typography_to_matches(spark):
    """Under the unicode chain, a query carrying em-dash/ellipsis/curly
    quotes ranks the plain-ASCII documents the raw chain would miss
    entirely — and probe == direct holds over an index built with the
    chain."""
    texts = [
        "spark join slow window",
        "spark spark join slow",
        "merge batch sort",
    ]
    docs = _docs(spark, texts)
    q = ((1, "Spark—JOIN… slow¿"),)
    direct = [
        tuple(r)
        for r in retrieval.bm25_topk(
            docs, spark, queries=q, analyzer="unicode"
        ).collect()
    ]
    assert [r[2] for r in direct] == [1, 0]  # both matching docs, tf order
    # raw chain: the glued term matches nothing
    raw = retrieval.bm25_topk(docs, spark, queries=q, analyzer="raw")
    assert raw.count() == 0


# ----------------------------------------------------------------------
# Weighted 3-leg RRF (r14 verdict task 6)


def test_weighted_rrf_zero_weight_drops_leg_bit_identically(spark):
    """weights=(w,0,0)... legs with weight 0 must vanish ENTIRELY —
    a doc surfaced only by the dropped leg never appears with score 0,
    and the surviving composition equals the fusion called without the
    dropped legs at all."""
    texts, vecs, docs, emb = _hybrid_fixture(spark)
    q = retrieval.HYBRID_QUERIES[:1]
    ph = retrieval.phrase_search(
        docs, spark, queries=tuple((qq, t) for qq, t, _ in q), k=20
    )
    bm = retrieval.bm25_topk(
        docs, spark, queries=tuple((qq, t) for qq, t, _ in q), k=20
    )
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    ann = similarity.cosine_topk(emb, [v for _, _, v in q], k=20)

    # ann weight 0 == two-leg fusion without ann
    with_zero = [
        tuple(r)
        for r in retrieval.hybrid_rrf_from_legs(
            bm, ann, spark, q, k=5, phrase=ph, weights=(1, 0, 1)
        ).collect()
    ]
    without = [
        tuple(r)
        for r in retrieval.hybrid_rrf_from_legs(
            bm, ann.limit(0), spark, q, k=5, phrase=ph, weights=(1, 1, 1)
        ).collect()
    ]
    assert with_zero == without and with_zero
    # weights (1,1,0-phrase) == the historical 2-leg fusion exactly
    two_leg = [
        tuple(r)
        for r in retrieval.hybrid_rrf_from_legs(
            bm, ann, spark, q, k=5
        ).collect()
    ]
    three_no_phrase = [
        tuple(r)
        for r in retrieval.hybrid_rrf_from_legs(
            bm, ann, spark, q, k=5, phrase=ph, weights=(1, 1, 0)
        ).collect()
    ]
    assert three_no_phrase == two_leg


def test_weighted_rrf_oracle_matches_on_planted_corpus(spark):
    """Engine vs DuckDB replay of the full 3-leg weighted fusion over
    the planted hybrid fixture."""
    texts, vecs, docs, emb = _hybrid_fixture(spark)
    got = [
        tuple(r)
        for r in retrieval.hybrid_rrf_weighted(docs, emb, spark).collect()
    ]
    con = _duck_docs(texts)
    emb_values = ", ".join(
        f"({i}, {list(v)})" for i, v in enumerate(vecs)
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM (VALUES {emb_values})"
        " t(vec_id, embedding)"
    )
    want = [tuple(r) for r in con.sql(retrieval.hybrid_rrf_weighted_sql()).fetchall()]
    assert got == want and got


def test_weighted_rrf_phrase_leg_boosts_contiguous_match(spark):
    """Two docs with identical BM25 bag-of-words evidence: the one
    containing the query as a contiguous phrase must outrank the
    scrambled one once the phrase leg votes."""
    texts = [
        "slow join spark batch",   # scrambled — bag-of-words equal
        "spark join slow batch",   # contiguous phrase
        "merge sort filter scan",
    ]
    docs = _docs(spark, texts)
    q = ((1, "spark join slow", 1),)
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    out = [
        tuple(r)
        for r in retrieval.hybrid_rrf_weighted(
            docs, emb, spark, queries=q, weights=(1, 0, 1)
        ).collect()
    ]
    ranked = [r[2] for r in out]
    assert ranked.index(1) < ranked.index(0)


# ----------------------------------------------------------------------
# r16: origin provenance, single-scan writes, GC, stats, stemming


def test_single_batch_append_created_index_still_dedups_replay(
    spark, tmp_path
):
    """The r15-advice scenario: an index created purely by APPEND (a
    streamed first micro-batch) whose ONE batch is torn after the
    postings write and then replayed carries duplicate rows under a
    single committed id — the replay dedup must still run (the skip is
    only safe for overwrite builds, recorded as origin provenance on
    the commit record). Before the fix the skipped dedup double-counted
    tf/dl and this probe diverged from the monolithic build's."""
    from pyspark.sql import functions as F

    docs = _docs(spark, _LIFECYCLE_TEXTS)
    idx = str(tmp_path / "idx")
    # tear: the append's postings land, the totals commit record doesn't
    bid = docs.agg(batch_id_col("doc_id")).collect()[0]["batch_id"]
    retrieval._postings(docs).withColumn(
        "batch_id", F.lit(bid)
    ).write.mode("append").partitionBy("bucket").parquet(f"{idx}/postings")
    # replay: the full append runs again — same id, doubled rows, commit
    retrieval.append_text_index(docs, idx)
    assert (
        spark.read.parquet(f"{idx}/totals").select("batch_id").distinct().count()
        == 1
    )
    mono = str(tmp_path / "mono")
    retrieval.build_text_index(docs, mono)
    got = [tuple(r) for r in retrieval.probe_text_index(spark, idx).collect()]
    want = [tuple(r) for r in retrieval.probe_text_index(spark, mono).collect()]
    assert got == want and got
    # the positional tier's marker carries the same provenance contract
    pbid = docs.agg(batch_id_col("doc_id")).collect()[0]["batch_id"]
    tok = docs.select(
        "doc_id",
        F.posexplode(retrieval._ANALYZERS["raw"][0]("text")).alias(
            "pos", "term"
        ),
    )
    pos = (
        tok.groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("batch_id", F.lit(pbid))
        .withColumn(
            "bucket",
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
                % retrieval.TEXT_INDEX_BUCKETS
            ).cast("int"),
        )
    )
    pos.write.mode("append").partitionBy("bucket").parquet(f"{idx}/positional")
    retrieval.append_positional_index(docs, idx)
    got_ph = [
        tuple(r) for r in retrieval.probe_phrase_index(spark, idx).collect()
    ]
    retrieval.build_positional_index(docs, mono)
    want_ph = [
        tuple(r) for r in retrieval.probe_phrase_index(spark, mono).collect()
    ]
    assert got_ph == want_ph


#: The stamped tier of each index family.
_RECONCILED = {
    "bm25": retrieval.BM25,
    "positional": retrieval.POSITIONAL,
    "ivf": similarity.IVF,
}


def _emb(spark):
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from tests.conftest import SF_SMALL

    return load_table(spark, SF_SMALL, "embeddings")


@pytest.mark.parametrize("family", sorted(_RECONCILED))
def test_overwrite_build_skips_replay_dedup_append_does_not(
    spark, tmp_path, family
):
    """The provenance-gated fast path of the shared reconciled read: a
    single-batch OVERWRITE-built index reconciles without the dedup
    exchange; a single-batch APPEND-created one keeps it (r15 advice)."""
    docs, emb = _docs(spark, _LIFECYCLE_TEXTS), _emb(spark)
    write = {
        "bm25": (retrieval.build_text_index, retrieval.append_text_index),
        "positional": (
            retrieval.build_positional_index,
            retrieval.append_positional_index,
        ),
        "ivf": (
            lambda e, d: similarity.build_ivf_index(e, d, nlist=4, iters=0),
            lambda e, d: similarity.append_ivf_vectors(
                spark, d, e, similarity.train_ivf_centroids(e, nlist=4, iters=0)
            ),
        ),
    }[family]
    data = emb if family == "ivf" else docs
    for writer, dedups in zip(write, (False, True)):
        idx = str(tmp_path / str(dedups))
        writer(data, idx)
        plan = (
            reconciled_read(spark, idx, _RECONCILED[family])
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert ("Deduplicate" in plan) == dedups, plan


def test_above_cap_semi_join_equals_literal_filter(spark, tmp_path, monkeypatch):
    """Past ``BATCH_ISIN_CAP`` committed ids the reconciled read filters
    by a broadcast semi-join instead of the ``isin`` literal. The BM25,
    phrase and IVF probes return the same rows either way, on indexes
    with several batches, one committed retraction and one torn
    tombstone batch."""
    docs, emb = _docs(spark, _LIFECYCLE_TEXTS), _emb(spark)
    idx, vidx = str(tmp_path / "text"), str(tmp_path / "ivf")
    retrieval.build_text_index(docs.filter("doc_id < 3"), idx)
    retrieval.build_positional_index(docs.filter("doc_id < 3"), idx)
    for part in ("doc_id BETWEEN 3 AND 5", "doc_id > 5"):
        retrieval.append_text_index(docs.filter(part), idx)
        retrieval.append_positional_index(docs.filter(part), idx)
    retrieval.retract_text_index(docs.filter("doc_id = 4"), idx)
    retrieval.retract_positional_index(docs.filter("doc_id = 4"), idx)
    cents = similarity.build_ivf_index(
        emb.filter("vec_id % 3 = 0"), vidx, nlist=4, iters=0
    )
    for part in ("vec_id % 3 = 1", "vec_id % 3 = 2"):
        similarity.append_ivf_vectors(spark, vidx, emb.filter(part), cents)
    qvecs = [(r.vec_id, list(r.embedding)) for r in emb.limit(3).collect()]
    dead_vecs = [qvecs[0][0] + 1, qvecs[1][0] + 1]
    similarity.retract_ivf_vectors(
        spark, vidx, spark.createDataFrame([(v,) for v in dead_vecs], "vec_id long")
    )
    # torn tombstone batches: rows written, commit row never landed
    for path, key, ids in (
        (f"{idx}/tombstones", "doc_id", [0]),
        (f"{idx}/postombstones", "doc_id", [0]),
        (f"{vidx}/tombstones", "vec_id", [qvecs[2][0] + 1]),
    ):
        spark.createDataFrame(
            [(i, "torn") for i in ids], f"{key} long, batch_id string"
        ).write.mode("append").parquet(path)

    def _probes():
        return (
            [tuple(r) for r in retrieval.probe_text_index(spark, idx).collect()],
            [tuple(r) for r in retrieval.probe_phrase_index(spark, idx).collect()],
            [
                tuple(r)
                for r in similarity.probe_ivf(
                    spark, vidx, qvecs, k=10, nprobe=4, centroids=cents
                ).collect()
            ],
        )

    literal = _probes()
    bm25, _, ivf = literal
    assert {r[2] for r in bm25} >= {0} and 4 not in {r[2] for r in bm25}
    assert not {r[1] for r in ivf} & set(dead_vecs)
    monkeypatch.setattr(index_store, "BATCH_ISIN_CAP", 0)
    plan = (
        reconciled_read(spark, idx, _RECONCILED["bm25"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan
    assert _probes() == literal


def _jobs(spark, group, action):
    """Spark jobs ``action`` runs, counted under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_probe_text_index_job_budget(spark, tmp_path):
    """One snapshot per probe: on a three-batch index with a committed
    retraction, building the BM25 probe's frame runs the one commit
    record collect plus the postings and tombstones schema reads, and
    the collect scans neither the record nor a totals aggregate. A
    second read of the record adds jobs and fails the budget (a probe
    that read the record twice and aggregated the totals in its plan
    ran 5 + 14)."""
    docs = _docs(spark, _LIFECYCLE_TEXTS)
    idx = str(tmp_path / "idx")
    retrieval.build_text_index(docs.filter("doc_id < 3"), idx)
    for part in ("doc_id BETWEEN 3 AND 5", "doc_id > 5"):
        retrieval.append_text_index(docs.filter(part), idx)
    retrieval.retract_text_index(docs.filter("doc_id = 4"), idx)
    build, frame = _jobs(
        spark, "budget-build", lambda: retrieval.probe_text_index(spark, idx)
    )
    collect, rows = _jobs(spark, "budget-collect", frame.collect)
    assert rows and 4 not in {r.doc_id for r in rows}
    assert build <= 3 and collect <= 12, (build, collect)


#: Each stamped tier's on-disk format, spelled out rather than read from
#: its ``Tier``: (data, record[, tombstones]) component names, their
#: parquet file schemas (partition column excluded), the partition
#: column, and the ingest and retraction id prefixes (None: the tier is
#: never retracted and has no tombstones).
_ON_DISK = {
    "bm25": (
        ("postings", "totals", "tombstones"),
        (
            [
                ("term", "string"),
                ("doc_id", "int64"),
                ("tf", "int64"),
                ("dl", "int32"),
                ("batch_id", "string"),
            ],
            [
                ("n_docs", "int64"),
                ("total_len", "int64"),
                ("batch_id", "string"),
                ("origin", "string"),
            ],
            [("doc_id", "int64"), ("batch_id", "string")],
        ),
        "bucket",
        ("", "retract"),
    ),
    "positional": (
        ("positional", "posbatches", "postombstones"),
        (
            [
                ("term", "string"),
                ("doc_id", "int64"),
                ("positions", "list<element: int32 not null>"),
                ("batch_id", "string"),
            ],
            [("batch_id", "string"), ("origin", "string")],
            [("doc_id", "int64"), ("batch_id", "string")],
        ),
        "bucket",
        ("", "retractpos"),
    ),
    "ivf": (
        ("lists", "vecbatches", "tombstones"),
        (
            [
                ("vec_id", "int64"),
                ("embedding", "list<element: float>"),
                ("batch_id", "string"),
            ],
            [("batch_id", "string"), ("origin", "string")],
            [("vec_id", "int64"), ("batch_id", "string")],
        ),
        "list_id",
        ("ivf", "retractivf"),
    ),
    "minhash_bands": (
        ("bands", "bandbatches"),
        (
            [("doc_id", "int64"), ("key", "int64"), ("batch_id", "string")],
            [("batch_id", "string"), ("origin", "string")],
        ),
        "band",
        ("minhash", None),
    ),
    "minhash_profiles": (
        ("profiles", "profbatches"),
        (
            [
                ("doc_id", "int64"),
                ("shingles", "list<element: int64 not null>"),
                ("batch_id", "string"),
            ],
            [("batch_id", "string"), ("origin", "string")],
        ),
        None,
        ("minhash", None),
    ),
}


def _file_schema(path: str) -> list[tuple[str, str]]:
    """The one (name, arrow type) schema every parquet file under
    ``path`` shares."""
    import glob

    import pyarrow.parquet as pq

    schemas = {
        tuple((f.name, str(f.type)) for f in pq.read_schema(p))
        for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }
    assert len(schemas) == 1, schemas
    return list(schemas.pop())


@pytest.mark.parametrize("tier", sorted(_ON_DISK))
def test_commit_batch_on_disk_schema(spark, tmp_path, tier):
    """The stamped tiers' on-disk format after a build, an append and a
    retraction (where the tier has one): component names, file schemas
    and column order, partition dir names, and commit and tombstone rows
    whose batch ids are hashlib's md5 of "[prefix:]min:max:count"."""
    import hashlib
    import os

    from salesforce_prefect_etl_pipeline_spark.operators import dedup
    from salesforce_prefect_etl_pipeline_spark.streaming import ingest as sink

    comps, schemas, part, (ingest, retract) = _ON_DISK[tier]
    idx = str(tmp_path / tier)
    if tier.startswith("minhash"):
        key, frame = "doc_id", _docs(spark, _LIFECYCLE_TEXTS)
        head, tail = frame.filter("doc_id < 4"), frame.filter("doc_id >= 4")
        dedup.build_minhash_index(head, idx)
        tail.coalesce(1).write.parquet(str(tmp_path / "src"))
        sink.stream_dedup_on_ingest(
            sink.stream_documents_dir(spark, str(tmp_path / "src")),
            idx,
            str(tmp_path / "accepted"),
        )
        parts = {f"band={b}" for b in range(16)} if part else set()
    elif tier == "ivf":
        key, frame = "vec_id", _emb(spark).select("vec_id", "embedding")
        head, tail = frame.filter("vec_id % 2 = 0"), frame.filter("vec_id % 2 = 1")
        dead = tail.filter("vec_id % 3 = 0").select("vec_id")
        cents = similarity.build_ivf_index(head, idx, nlist=4, iters=0)
        similarity.append_ivf_vectors(spark, idx, tail, cents)
        similarity.retract_ivf_vectors(spark, idx, dead)
        parts = {f"list_id={i}" for i in range(4)}
    else:
        key, frame = "doc_id", _docs(spark, _LIFECYCLE_TEXTS)
        head, tail = frame.filter("doc_id < 4"), frame.filter("doc_id >= 4")
        dead = frame.filter("doc_id IN (1, 5)")
        if tier == "bm25":
            retrieval.build_text_index(head, idx)
            retrieval.append_text_index(tail, idx)
            retrieval.retract_text_index(dead, idx)
        else:
            retrieval.build_positional_index(head, idx)
            retrieval.append_positional_index(tail, idx)
            retrieval.retract_positional_index(dead, idx)
        parts = {
            f"bucket={int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 32}"
            for text in _LIFECYCLE_TEXTS
            for t in text.split()
        }

    def _md5_id(df, prefix):
        ids = sorted(r[0] for r in df.select(key).collect())
        body = f"{ids[0]}:{ids[-1]}:{len(ids)}"
        return hashlib.md5((f"{prefix}:{body}" if prefix else body).encode()).hexdigest()

    paths = [os.path.join(idx, c) for c in comps]
    assert [_file_schema(p) for p in paths] == list(schemas)
    data, record = paths[:2]
    got_parts = {d for d in os.listdir(data) if "=" in d}
    assert got_parts <= parts and (tier == "ivf" or got_parts == parts), got_parts
    commits = [(_md5_id(head, ingest), "build"), (_md5_id(tail, ingest), "append")]
    if retract:
        dead_id = _md5_id(dead, retract)
        commits.append((dead_id, "retract"))
        assert sorted(tuple(r) for r in spark.read.parquet(paths[2]).collect()) == [
            (r[0], dead_id) for r in sorted(dead.select(key).collect())
        ]
    assert sorted(
        tuple(r) for r in spark.read.parquet(record).select("batch_id", "origin").collect()
    ) == sorted(commits)
    if tier == "bm25":
        n_docs = [r[0] for r in spark.read.parquet(record).select("n_docs").collect()]
        assert sorted(n_docs) == [-2, 4, 4]


def test_index_batch_write_is_single_tokenizing_scan(spark, tmp_path):
    """r15 verdict task 7: the batch id comes from a doc_id-only
    aggregate (Catalyst prunes the text column — no second tokenize)
    and the totals derived from the written postings equal the
    reference double-scan aggregate bit-for-bit."""
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from tests.conftest import SF_SMALL, batch_totals

    import contextlib
    import io

    def _read_schema_lines(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return "\n".join(
            l for l in buf.getvalue().splitlines() if "ReadSchema" in l
        )

    # An earlier test may have .cache()d this table; cache replacement
    # would swap the scan for an InMemoryRelation whose cache-BUILD
    # FileScan reads every column, which is not the plan under test.
    # The pruning claim is about the uncached Catalyst plan.
    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    # column pruning: the id aggregate's scan reads doc_id only
    id_agg = docs.agg(batch_id_col("doc_id"))
    assert "text" not in _read_schema_lines(id_agg)
    idx = str(tmp_path / "idx")
    retrieval.build_text_index(docs, idx)
    got = spark.read.parquet(f"{idx}/totals").collect()[0]
    ref = batch_totals(docs).collect()[0]
    assert (got["n_docs"], got["total_len"], got["batch_id"]) == (
        ref["n_docs"],
        ref["total_len"],
        ref["batch_id"],
    )
    assert got["origin"] == "build"
    # IVF twin: the vector batch id aggregate prunes to vec_id only
    emb = load_table(spark, SF_SMALL, "embeddings")
    id_agg = emb.agg(batch_id_col("vec_id", "ivf"))
    assert "embedding" not in _read_schema_lines(id_agg)


def test_gc_index_versions_matrix(spark, tmp_path):
    """r15 verdict task 4: keep-N GC over versioned snapshots — never
    touches CURRENT or the previous version, ignores versions newer
    than CURRENT (an in-flight publish), converges when interrupted,
    and probes are identical before/after."""
    import os as _os

    from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
        gc_index_versions,
    )

    docs = _docs(spark, _LIFECYCLE_TEXTS)
    idx = str(tmp_path / "idx")
    _build_all_tiers(spark, docs, idx)
    retrieval.compact_text_index(spark, idx)  # publishes v1
    before = _all_tier_probes(spark, idx)
    # fabricate superseded + in-flight versions around the real one
    cur = open(_os.path.join(idx, "CURRENT")).read().strip()
    assert cur == "v1"
    # renumber: pretend v1..v5 exist with CURRENT=v4 (v5 in-flight)
    vroot = _os.path.join(idx, "versions")
    _os.rename(_os.path.join(vroot, "v1"), _os.path.join(vroot, "v4"))
    for orphan in ("v1", "v2", "v3", "v5"):
        _os.makedirs(_os.path.join(vroot, orphan, "postings"))
    with open(_os.path.join(idx, "CURRENT"), "w") as f:
        f.write("v4")
    removed = gc_index_versions(idx, keep_n=2)
    assert removed == ["v1", "v2"]  # v3 = previous-of-current kept
    assert sorted(_os.listdir(vroot)) == ["v3", "v4", "v5"]
    assert _all_tier_probes(spark, idx) == before
    # keep_n is clamped to >= 2: the previous-of-current version is
    # NEVER deleted (a concurrent reader may hold the old pointer),
    # and the re-run converges (idempotent)
    assert gc_index_versions(idx, keep_n=1) == []
    assert gc_index_versions(idx, keep_n=2) == []
    assert sorted(_os.listdir(vroot)) == ["v3", "v4", "v5"]
    assert _all_tier_probes(spark, idx) == before
    # flat layouts are a no-op
    flat = str(tmp_path / "flat")
    retrieval.build_text_index(docs, flat)
    assert gc_index_versions(flat) == []


def test_text_index_stats_flags_fragmentation_then_goes_quiet(
    spark, tmp_path
):
    """r15 verdict task 3: the observe instrument — after streamed-style
    appends + a retraction the report shows multi-file buckets, replay
    dups and tombstoned postings; after compact_text_index every
    physical signal drops to the canonical one-file-per-bucket state
    and the LIVE columns are unchanged (compaction changes bytes, not
    content)."""
    from pyspark.sql import functions as F

    texts = _LIFECYCLE_TEXTS * 4  # 32 docs
    docs = _docs(spark, texts)
    idx = str(tmp_path / "idx")
    retrieval.build_text_index(docs.filter("doc_id < 8"), idx)
    retrieval.build_positional_index(docs.filter("doc_id < 8"), idx)
    for i in range(8, 32, 4):
        b = docs.filter(f"doc_id >= {i} AND doc_id < {i + 4}")
        retrieval.append_text_index(b, idx)
        retrieval.append_positional_index(b, idx)
    # a torn+replayed batch leaves replay dups on disk
    extra = docs.filter("doc_id >= 28")
    bid = extra.agg(batch_id_col("doc_id")).collect()[0]["batch_id"]
    retrieval._postings(extra).withColumn(
        "batch_id", F.lit(bid)
    ).write.mode("append").partitionBy("bucket").parquet(f"{idx}/postings")
    dead = docs.filter("doc_id IN (3, 11)")
    retrieval.retract_text_index(dead, idx)
    report = {
        (r["tier"], r["bucket"]): r
        for r in retrieval.text_index_stats(spark, idx).collect()
    }
    post = [r for (t, _), r in report.items() if t == "postings"]
    assert max(r["n_files"] for r in post) > 1
    assert sum(r["n_replay_dups"] for r in post) > 0
    assert sum(r["n_tombstoned"] for r in post) > 0
    live_before = sorted(
        (r["bucket"], r["n_live"], r["n_terms"], r["n_docs"]) for r in post
    )

    retrieval.compact_text_index(spark, idx)
    after = [
        r
        for r in retrieval.text_index_stats(spark, idx).collect()
        if r["tier"] == "postings"
    ]
    assert all(r["n_files"] == 1 for r in after)
    assert sum(r["n_replay_dups"] for r in after) == 0
    assert sum(r["n_tombstoned"] for r in after) == 0
    assert all(r["n_batches"] == 1 for r in after)
    assert (
        sorted(
            (r["bucket"], r["n_live"], r["n_terms"], r["n_docs"])
            for r in after
        )
        == live_before
    )


def test_maybe_compact_text_index_fires_then_goes_quiet(spark, tmp_path):
    """r16: the DECIDE step — on a fragmented streamed-style index the
    wrapper fires (auditable reasons naming tier/bucket/signal),
    triggers the compact, leaves probe results identical, and a second
    tick is a no-op (quiet observe scan only)."""
    texts = _LIFECYCLE_TEXTS * 4
    docs = _docs(spark, texts)
    idx = str(tmp_path / "idx")
    retrieval.build_text_index(docs.filter("doc_id < 8"), idx)
    for i in range(8, 32, 4):
        retrieval.append_text_index(
            docs.filter(f"doc_id >= {i} AND doc_id < {i + 4}"), idx
        )
    retrieval.retract_text_index(docs.filter("doc_id IN (3, 11)"), idx)
    before = retrieval.probe_text_index(
        spark, idx, ((1, "spark join"),), k=5
    ).collect()

    # thresholds scaled to the small fixture: 7 batches of appends and
    # a 2-doc retraction must breach a 3-file / 5%-waste policy
    decision = retrieval.maybe_compact_text_index(
        spark, idx, max_files_per_bucket=3, max_waste_ratio=0.05
    )
    assert decision["compacted"], decision
    sigs = {r[2] for r in decision["reasons"]}
    assert "waste_ratio" in sigs or "n_files" in sigs
    assert all(len(r) == 4 for r in decision["reasons"])

    after = retrieval.probe_text_index(
        spark, idx, ((1, "spark join"),), k=5
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]

    # post-compact tick: every signal under the same policy is quiet
    second = retrieval.maybe_compact_text_index(
        spark, idx, max_files_per_bucket=3, max_waste_ratio=0.05
    )
    assert second == {
        "compacted": False,
        "reasons": [],
        "n_buckets": second["n_buckets"],
    }
    # the batch cap fires independently when opted in below 1
    third = retrieval.maybe_compact_text_index(
        spark, idx, max_files_per_bucket=3, max_waste_ratio=0.05,
        max_batches=0,
    )
    assert third["compacted"] and {r[2] for r in third["reasons"]} == {
        "n_batches"
    }


_INFLECTION_TEXTS = [
    "spark join slow window",
    "sparks joined slowly windows",
    "joining streams aggregated",
    "the classes glasses ponies",
    "miss pass boss plus bonus",
]


def test_english_light_chain_triple_twin_and_rules(spark):
    """The stemmed analyzer's triple twin (engine Java regex / DuckDB
    RE2 / Python re) on planted inflection pairs, plus the documented
    rule behavior: plurals fold (sses→ss, ies→i, s dropped unless
    ss/us), -ed/-ing strip only with a vowel left in the stem, and the
    deliberate LIGHT divergences from full Porter (no double-consonant
    cleanup, no y→i) land identically on every engine."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import (
        english_light_tokens,
        english_light_tokens_py,
    )

    docs = _docs(spark, _INFLECTION_TEXTS)
    eng = [
        r[0]
        for r in docs.orderBy("doc_id")
        .select(english_light_tokens("text"))
        .collect()
    ]
    con = _duck_docs(_INFLECTION_TEXTS)
    sql_tok = retrieval._sql_tokens("text", "english_light")
    duck = [
        r[0]
        for r in con.sql(
            f"SELECT {sql_tok} FROM documents ORDER BY doc_id"
        ).fetchall()
    ]
    py = [english_light_tokens_py(t) for t in _INFLECTION_TEXTS]
    assert eng == duck == py
    # inflections fold onto base terms
    assert eng[1] == ["spark", "join", "slowly", "window"]
    assert eng[2] == ["join", "stream", "aggregat"]
    # plural rules
    assert eng[3] == ["the", "class", "glass", "poni"]
    # ss / us endings survive; plain trailing s drops
    assert eng[4] == ["miss", "pass", "boss", "plus", "bonus"]


def test_stemmed_bm25_probe_equals_direct_and_recalls_inflections(
    spark, tmp_path
):
    """Index built with the english_light chain: probe == direct for
    inflected query text, and the stemmed chain ranks documents the
    unstemmed chains miss entirely."""
    texts = [
        "spark join slow window",
        "spark spark joins slowed",
        "merge batch sort",
    ]
    docs = _docs(spark, texts)
    q = ((1, "Sparks, joining slowed!"),)
    direct = [
        tuple(r)
        for r in retrieval.bm25_topk(
            docs, spark, queries=q, analyzer="english_light"
        ).collect()
    ]
    assert [r[2] for r in direct] == [1, 0]
    raw = retrieval.bm25_topk(docs, spark, queries=q, analyzer="raw")
    assert raw.count() == 0
    idx = str(tmp_path / "idx")
    retrieval.build_text_index(docs, idx, analyzer="english_light")
    probed = [
        tuple(r)
        for r in retrieval.probe_text_index(
            spark, idx, queries=q, analyzer="english_light"
        ).collect()
    ]
    assert probed == direct
