"""Registered queries: in-engine retrieval and model training.

Three capabilities a training-data platform grows after curation works —
search the corpus (BM25), train the tokenizer on it (BPE merges), train
a quality classifier over it (batch perceptron) — each integer-exact and
registered with a full value-hash oracle (the training replays unroll
the fixed iteration count into chained CTEs, same discipline as
``graph_nation_pagerank``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from salesforce_prefect_etl_pipeline_spark.operators import corpus, retrieval, train
from salesforce_prefect_etl_pipeline_spark.plans.compiler import load_table
from salesforce_prefect_etl_pipeline_spark.queries_llm import (
    _SEED_NLIST,
    _docs,
    _emb,
    _probe_ivf_fixture,
    _spread_scan,
    ensure_ivf_index,
)
from salesforce_prefect_etl_pipeline_spark.queries_registry import (
    build_derived,
    build_once,
    fixture_dir,
    register_query,
)

#: Persisted inverted-index root (one subdir per testdata dir, like
#: queries_llm's IVF/minhash index roots).
TEXT_INDEX_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), ".text_index"
)


def _text_fixture(sf_dir: str, variant: str, build) -> str:
    """A text-index fixture built once per source version (the
    ``build_once`` gate): ``build(index_dir)`` runs over a wiped dir
    whenever the documents file is newer than the fixture's marker."""
    index_dir = fixture_dir(
        TEXT_INDEX_ROOT,
        sf_dir,
        f"-b{retrieval.TEXT_INDEX_BUCKETS}-L{retrieval.TEXT_INDEX_LAYOUT}{variant}",
    )
    return build_once(index_dir, os.path.join(sf_dir, "documents.parquet"), build)


def _split(docs, pct: int):
    """``docs`` split on the md5 doc_id bucket: (< ``pct``, the rest)."""
    b = corpus.split_bucket(F.col("doc_id"))
    return docs.filter(b < pct), docs.filter(b >= pct)


def ensure_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the persisted BM25 inverted index for a testdata dir once
    per source version; return its path. Same offline-build /
    online-probe contract as ``queries_llm.ensure_ivf_index`` — probing
    an index persisted before the source documents file was (re)written
    silently serves deleted data, so it is rebuilt instead."""
    return _text_fixture(
        sf_dir,
        "",
        lambda d: retrieval.build_text_index(_docs(spark, sf_dir), d),
    )


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 documents for the fixed benchmark query set —
    integer-exact lexical ranking (operators/retrieval.py)."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return retrieval.bm25_topk(docs, spark)


def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 learned BPE merges over the corpus word frequencies —
    iterative tokenizer training in the engine (operators/train.py)."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return train.bpe_train_merges(docs, n_merges=4)


def text_bpe_train_merges16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 16-merge BPE training run (r13 verdict task 8 — n_merges=4
    is demonstration scale): same fixed-count distributed loop, 4x the
    iterations, still ONE corpus scan + 16 vocabulary-sized explode/agg
    steps; the unrolled-CTE oracle is linear in the merge count, so the
    replay stays tractable. The 4-merge row stays registered as the
    cheap pin."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return train.bpe_train_merges(docs, n_merges=16)


def text_perceptron_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-epoch batch-perceptron weight trajectory for the hashed
    bag-of-words quality classifier (operators/train.py)."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return train.perceptron_train(docs, epochs=3)


def ensure_text_index_appended(spark: SparkSession, sf_dir: str) -> str:
    """An index built INCREMENTALLY — ~80% of documents in the initial
    build, the rest via ``append_text_index`` (md5 doc_id split, the
    ann_ivf_probe_appended recipe) — so the registered probe
    value-verifies the whole incremental-maintenance path: its end
    state must equal the monolithic index bit-for-bit."""

    def _build(index_dir: str) -> None:
        head, tail = _split(_docs(spark, sf_dir), 80)
        retrieval.build_text_index(head, index_dir)
        retrieval.append_text_index(tail, index_dir)

    return _text_fixture(sf_dir, "-appended", _build)


def text_bm25_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 probe over the incrementally-built index (80% build +
    20% append): bit-identical to the monolithic-index probe and the
    direct scan, so it shares the same full-replay oracle — the
    value-hash proves append_text_index's end-state equivalence."""
    index_dir = ensure_text_index_appended(spark, sf_dir)
    return retrieval.probe_text_index(spark, index_dir)


def ensure_champion_lists(spark: SparkSession, sf_dir: str) -> str:
    """Champion tier derived from the full index (rebuilt whenever the
    index is — it's a derived cache, not a source of truth)."""
    index_dir = ensure_text_index(spark, sf_dir)
    return build_derived(
        index_dir, "champions", lambda: retrieval.build_champion_lists(index_dir, spark)
    )


def text_bm25_champion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate BM25 top-5 over the champion tier (per-term top-m
    postings with true df stamped at build): the bounded-read scale
    path for common-term queries. The oracle replays the SAME champion
    restriction, so the approximate tier is value-verified exactly."""
    index_dir = ensure_champion_lists(spark, sf_dir)
    return retrieval.probe_champion_lists(spark, index_dir)


def text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same BM25 top-5 via the PERSISTED inverted index: bucket-
    pruned posting reads instead of a corpus scan. Bit-identical output
    to text_bm25_topk (the index is lossless), so the oracle is the
    same full replay — the value-hash proves the whole
    build->partition->prune->probe lifecycle."""
    index_dir = ensure_text_index(spark, sf_dir)
    return retrieval.probe_text_index(spark, index_dir)


def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact contiguous-phrase top-5 per fixed phrase query — the
    single-shuffle anchor-count formulation (operators/retrieval.py)."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return retrieval.phrase_search(docs, spark)


def ensure_phrase_index(spark: SparkSession, sf_dir: str) -> str:
    """Positional tier for the phrase probe, co-located with the BM25
    index (same bucket scheme) and rebuilt whenever that index is."""
    index_dir = ensure_text_index(spark, sf_dir)
    return build_derived(
        index_dir,
        retrieval.POSITIONAL.data,
        lambda: retrieval.build_positional_index(_docs(spark, sf_dir), index_dir),
    )


def ensure_phrase_index_appended(spark: SparkSession, sf_dir: str) -> str:
    """A positional tier built INCREMENTALLY (~80% initial build, the
    rest via ``append_positional_index`` — the md5 doc_id split the
    other *_appended rows use), in its own dir so the monolithic row
    stays independent. The registered probe over it value-verifies the
    positional append path end-to-end: union of batches == monolithic
    tier bit-for-bit."""

    def _build(index_dir: str) -> None:
        head, tail = _split(_docs(spark, sf_dir), 80)
        retrieval.build_positional_index(head, index_dir)
        retrieval.append_positional_index(tail, index_dir)

    return _text_fixture(sf_dir, "-pos-appended", _build)


def text_phrase_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phrase probe over the persisted positional tier — identical
    output to text_phrase_search (lossless index), so it shares the
    full-replay oracle; the value-hash proves the positional
    build/prune/probe path."""
    index_dir = ensure_phrase_index(spark, sf_dir)
    return retrieval.probe_phrase_index(spark, index_dir)


def text_phrase_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phrase probe over the INCREMENTALLY built positional tier
    (80% build + 20% append): bit-identical to the monolithic tier and
    the direct scan, so it shares the full-replay oracle — the
    value-hash proves ``append_positional_index``'s end-state
    equivalence (r13 verdict task 4)."""
    index_dir = ensure_phrase_index_appended(spark, sf_dir)
    return retrieval.probe_phrase_index(spark, index_dir)


def ensure_champion_appended(spark: SparkSession, sf_dir: str) -> str:
    """Champion tier maintained INCREMENTALLY: champions are first cut
    over the initial 80% index, then ``append_text_index`` lands the
    remaining 20% and ``append_champion_lists`` recuts only the touched
    buckets — the realistic append-heavy lifecycle (r13 verdict task 4:
    previously each batch re-paid a full champion rebuild). End state
    must equal the monolithic cut over the full corpus."""

    def _build(index_dir: str) -> None:
        head, tail = _split(_docs(spark, sf_dir), 80)
        retrieval.build_text_index(head, index_dir)
        retrieval.build_champion_lists(index_dir, spark)
        retrieval.append_text_index(tail, index_dir)
        retrieval.append_champion_lists(tail, index_dir)

    return _text_fixture(sf_dir, "-champ-appended", _build)


def text_bm25_champion_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The champion probe over the incrementally maintained tier
    (80% cut + 20% append + touched-bucket recut): equals the
    monolithic champion cut, so it shares the champion-replay oracle —
    the value-hash proves ``append_champion_lists``."""
    index_dir = ensure_champion_appended(spark, sf_dir)
    return retrieval.probe_champion_lists(spark, index_dir)


def text_bm25_analyzed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 under the "simple" analyzer chain (lowercase +
    ASCII-punctuation folding, r13 verdict task 5) over cased and
    punctuated query text — "Spark," finds the docs "spark" does. The
    oracle replays the identical chain (lower + regexp_replace) on the
    DuckDB side; every pre-r14 row stays pinned to the raw tokenizer."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return retrieval.bm25_topk(
        docs,
        spark,
        queries=retrieval.BM25_ANALYZED_QUERIES,
        analyzer="simple",
    )


def text_bm25_unicode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 under the "unicode" analyzer chain (r14 verdict task
    5): full-corpus lowercase + Unicode-category punctuation folding
    (``[^\\p{L}\\p{N}\\s]+`` -> space), over query text carrying the
    non-ASCII typography real queries arrive with (em-dashes, ellipsis,
    curly quotes, fullwidth punctuation). The oracle replays the
    identical chain via RE2's \\p classes; the planted-corpus pytest
    pins the engine/DuckDB/Python triple twin on CJK + accented text
    and documents the İ divergence honestly."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return retrieval.bm25_topk(
        docs,
        spark,
        queries=retrieval.BM25_UNICODE_QUERIES,
        analyzer="unicode",
    )


def text_bm25_stemmed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 under the "english_light" analyzer chain (r15 verdict
    task 6): the unicode fold + the deterministic Porter-subset suffix
    stripper (text.STEM_RULES), over query text carrying the
    inflections real queries arrive with (sparks/joining/slowed) — the
    classic IR recall lever, value-proven by the full replay (DuckDB
    runs the identical rule chain via RE2 list_transform); the
    planted-corpus pytest pins the triple twin and the probe == direct
    identity over an index built with the chain."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return retrieval.bm25_topk(
        docs,
        spark,
        queries=retrieval.BM25_STEMMED_QUERIES,
        analyzer="english_light",
    )


def text_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic top-5 by reciprocal-rank fusion of the
    BM25 leg and the exact-cosine leg (operators/retrieval.py,
    Cormack et al. 2009) — rank-only integer fusion, so the row is
    value-hash-verified end to end across both legs."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    emb = _emb(spark, sf_dir)
    return retrieval.hybrid_rrf_topk(docs, emb, spark)


def _ann_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid queries' semantic leg: top-20 per anchor vector from
    the iters=0 IVF index at nprobe = nlist, which scans every list and
    so equals the brute-force cosine ranking."""
    return _probe_ivf_fixture(
        spark,
        sf_dir,
        ensure_ivf_index(spark, sf_dir, iters=0),
        k=20,
        nprobe=_SEED_NLIST,
        ids=tuple(v for _, _, v in retrieval.HYBRID_QUERIES),
    )


def text_hybrid_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``text_hybrid_rrf_topk``: BOTH legs come from
    persisted indexes — the bucket-pruned BM25 probe and the
    partition-pruned IVF probe. With nprobe = nlist the IVF leg scans
    every inverted list and is EXACTLY the brute-force cosine ranking
    (quantized keys, same ties), so the fusion is bit-identical to the
    direct form and shares its oracle — the value-hash proves the
    leg-swap claim, not just asserts it. At nprobe < nlist the same
    composition is the documented approximate tier (IVF recall
    pytests)."""
    q = retrieval.HYBRID_QUERIES
    bm = retrieval.probe_text_index(
        spark,
        ensure_text_index(spark, sf_dir),
        queries=tuple((qid, t) for qid, t, _ in q),
        k=20,
    )
    return retrieval.hybrid_rrf_from_legs(
        bm, _ann_leg(spark, sf_dir), spark, q, k=5
    )


#: The retraction split: documents with md5 bucket >= 90 (10% of the
#: corpus) are ingested and then RETRACTED — the takedown/robots/
#: licensing delete path (r14 verdict task 2). The oracle replays the
#: complement (the never-ingested corpus).
_RETRACT_PCT = 90


def ensure_text_index_retracted(spark: SparkSession, sf_dir: str) -> str:
    """All three lexical tiers built over the FULL corpus, then 10% of
    documents retracted (tombstone batches + negative totals + the
    champion recut) — the registered probes over it value-verify the
    whole delete path: retract == never-ingested, at every tier."""

    def _build(index_dir: str) -> None:
        docs = _docs(spark, sf_dir)
        dead = _split(docs, _RETRACT_PCT)[1]
        retrieval.build_text_index(docs, index_dir)
        retrieval.build_champion_lists(index_dir, spark)
        retrieval.build_positional_index(docs, index_dir)
        retrieval.retract_text_index(dead, index_dir)
        retrieval.retract_positional_index(dead, index_dir)
        retrieval.retract_champion_lists(dead, index_dir)

    return _text_fixture(sf_dir, "-retracted", _build)


def text_bm25_retracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 probe over the index with 10% of the corpus RETRACTED
    (tombstones + negative totals): bit-identical to an index that
    never ingested those documents — df recomputes from the filtered
    read, N/total_len sum the negative retraction rows — so the oracle
    is the full replay over the complement corpus."""
    index_dir = ensure_text_index_retracted(spark, sf_dir)
    return retrieval.probe_text_index(spark, index_dir)


def text_phrase_retracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phrase probe over the retracted positional tier — tombstoned
    documents never match; the oracle replays the complement corpus."""
    index_dir = ensure_text_index_retracted(spark, sf_dir)
    return retrieval.probe_phrase_index(spark, index_dir)


def text_bm25_champion_retracted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The champion probe after retraction + touched-bucket recut
    (``retract_champion_lists``): the stored per-term df drops back to
    the live corpus's, so the result equals a monolithic champion cut
    over the never-ingested corpus — that is the oracle."""
    index_dir = ensure_text_index_retracted(spark, sf_dir)
    return retrieval.probe_champion_lists(spark, index_dir)


def ensure_text_index_compacted(spark: SparkSession, sf_dir: str) -> str:
    """The full maintenance lifecycle in one dir: incremental build
    (80% + 20% append at both tiers), 10% retraction, then
    ``compact_text_index`` merges every tier's committed batches into
    one canonical batch per bucket, physically dropping tombstoned
    rows and replay duplicates, published by atomic version-pointer
    swap. The registered probe's value-hash proves the compaction
    changes bytes, not rankings."""

    def _build(index_dir: str) -> None:
        docs = _docs(spark, sf_dir)
        head, tail = _split(docs, 80)
        dead = _split(docs, _RETRACT_PCT)[1]
        retrieval.build_text_index(head, index_dir)
        retrieval.build_champion_lists(index_dir, spark)
        retrieval.build_positional_index(head, index_dir)
        retrieval.append_text_index(tail, index_dir)
        retrieval.append_champion_lists(tail, index_dir)
        retrieval.append_positional_index(tail, index_dir)
        retrieval.retract_text_index(dead, index_dir)
        retrieval.retract_positional_index(dead, index_dir)
        retrieval.compact_text_index(spark, index_dir)

    return _text_fixture(sf_dir, "-compacted", _build)


def text_bm25_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 probe after build -> append -> retract -> COMPACT:
    equals the never-ingested complement corpus exactly (shared oracle
    with ``text_bm25_retracted``), value-proving the whole maintenance
    lifecycle including the physical tombstone drop and the one-batch-
    per-bucket rewrite."""
    index_dir = ensure_text_index_compacted(spark, sf_dir)
    return retrieval.probe_text_index(spark, index_dir)


def text_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket occupancy of the persisted BM25 tier
    (retrieval.text_index_stats — the observe instrument whose act is
    ``compact_text_index``, r15 verdict task 3): the deterministic
    LIVE columns per md5 bucket — distinct (term, doc_id) postings,
    distinct terms, distinct doc_ids — which are pure functions of the
    reconciled corpus, so a tokenize-and-count replay value-hashes
    them at any scale. The physical maintenance signals (file counts,
    replay-dup counts) are write-history-dependent and pytest-covered
    instead."""
    index_dir = ensure_text_index(spark, sf_dir)
    return (
        retrieval.text_index_stats(spark, index_dir)
        .filter("tier = 'postings'")
        .select("bucket", "n_live", "n_terms", "n_docs")
        .orderBy("bucket")
    )


def _text_index_stats_sql() -> str:
    tok = retrieval._sql_tokens("text", "raw")
    return f"""
WITH tok AS (
  SELECT doc_id, UNNEST({tok}) AS term FROM documents
),
postings AS (SELECT DISTINCT term, doc_id FROM tok),
bucketed AS (
  SELECT CAST(CAST(concat('0x', substr(md5(term), 1, 8)) AS UBIGINT)
              % {retrieval.TEXT_INDEX_BUCKETS} AS INT) AS bucket,
         term, doc_id
  FROM postings
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


def text_hybrid_rrf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-leg WEIGHTED reciprocal-rank fusion (r14 verdict task 6):
    BM25 (weight 2) + exact cosine (1) + exact-phrase (1, the query
    text as a contiguous phrase) — Σ w·SCALE DIV (60 + rank), still
    rank-only integer arithmetic over three already-value-verified
    legs; weight 0 drops a leg bit-identically (pytest-pinned)."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    emb = _emb(spark, sf_dir)
    return retrieval.hybrid_rrf_weighted(docs, emb, spark)


def text_hybrid_rrf_weighted_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB form of ``text_hybrid_rrf_weighted``: ALL THREE legs
    come from persisted indexes — the bucket-pruned BM25 probe, the
    partition-pruned IVF probe (nprobe = nlist, exactly the brute-force
    ranking), and the positional-index phrase probe — fused by the same
    weighted integer RRF. Each leg is bit-identical to its direct-scan
    twin (probe == direct pytest identities), so the composition shares
    ``hybrid_rrf_weighted_sql``'s oracle: the three-way leg-swap claim
    is value-proven, completing the weighted fusion's index story the
    way ``text_hybrid_rrf_indexed`` did for the 2-leg form."""
    q = retrieval.HYBRID_QUERIES
    text_qs = tuple((qid, t) for qid, t, _ in q)
    bm = retrieval.probe_text_index(
        spark, ensure_text_index(spark, sf_dir), queries=text_qs, k=20
    )
    ann = _ann_leg(spark, sf_dir)
    ph = retrieval.probe_phrase_index(
        spark, ensure_phrase_index(spark, sf_dir), queries=text_qs, k=20
    )
    return retrieval.hybrid_rrf_from_legs(
        bm, ann, spark, q, k=5, phrase=ph, weights=retrieval.HYBRID_WEIGHTS
    )


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fit->transform: per-document word/BPE-token counts
    after applying the 4 learned merges (operators/train.py)."""
    docs = _spread_scan(load_table(spark, sf_dir, "documents"))
    return train.bpe_encode_stats(docs, n_merges=4)


register_query("text_bm25_topk", text_bm25_topk, retrieval.bm25_topk_sql())
register_query("text_bm25_indexed", text_bm25_indexed, retrieval.bm25_topk_sql())
register_query("text_bm25_appended", text_bm25_appended, retrieval.bm25_topk_sql())
register_query(
    "text_bm25_champion", text_bm25_champion, retrieval.bm25_champion_sql()
)
register_query(
    "text_phrase_search", text_phrase_search, retrieval.phrase_search_sql()
)
register_query(
    "text_phrase_indexed", text_phrase_indexed, retrieval.phrase_search_sql()
)
register_query(
    "text_phrase_appended", text_phrase_appended, retrieval.phrase_search_sql()
)
register_query(
    "text_bm25_champion_appended",
    text_bm25_champion_appended,
    retrieval.bm25_champion_sql(),
)
register_query(
    "text_hybrid_rrf_topk", text_hybrid_rrf_topk, retrieval.hybrid_rrf_sql()
)
register_query(
    "text_hybrid_rrf_weighted",
    text_hybrid_rrf_weighted,
    retrieval.hybrid_rrf_weighted_sql(),
)
register_query(
    "text_hybrid_rrf_weighted_indexed",
    text_hybrid_rrf_weighted_indexed,
    retrieval.hybrid_rrf_weighted_sql(),
)
register_query(
    "text_hybrid_rrf_indexed", text_hybrid_rrf_indexed, retrieval.hybrid_rrf_sql()
)


def _live_pred_sql() -> str:
    return f"({corpus.split_bucket_sql('doc_id')}) < {_RETRACT_PCT}"


register_query(
    "text_bm25_retracted",
    text_bm25_retracted,
    retrieval.bm25_topk_sql(doc_pred=_live_pred_sql()),
)
register_query(
    "text_phrase_retracted",
    text_phrase_retracted,
    retrieval.phrase_search_sql(doc_pred=_live_pred_sql()),
)
register_query(
    "text_bm25_champion_retracted",
    text_bm25_champion_retracted,
    retrieval.bm25_champion_sql(doc_pred=_live_pred_sql()),
)
register_query(
    "text_bm25_compacted",
    text_bm25_compacted,
    retrieval.bm25_topk_sql(doc_pred=_live_pred_sql()),
)
register_query("text_index_stats", text_index_stats, _text_index_stats_sql())
register_query(
    "text_bm25_analyzed_topk",
    text_bm25_analyzed_topk,
    retrieval.bm25_topk_sql(
        queries=retrieval.BM25_ANALYZED_QUERIES, analyzer="simple"
    ),
)
register_query(
    "text_bm25_unicode_topk",
    text_bm25_unicode_topk,
    retrieval.bm25_topk_sql(
        queries=retrieval.BM25_UNICODE_QUERIES, analyzer="unicode"
    ),
)
register_query(
    "text_bm25_stemmed_topk",
    text_bm25_stemmed_topk,
    retrieval.bm25_topk_sql(
        queries=retrieval.BM25_STEMMED_QUERIES, analyzer="english_light"
    ),
)
register_query(
    "text_bpe_encode", text_bpe_encode, train.bpe_encode_stats_sql(n_merges=4)
)
register_query(
    "text_bpe_train_merges",
    text_bpe_train_merges,
    train.bpe_train_merges_sql(n_merges=4),
)
register_query(
    "text_bpe_train_merges16",
    text_bpe_train_merges16,
    train.bpe_train_merges_sql(n_merges=16),
)
register_query(
    "text_perceptron_quality",
    text_perceptron_quality,
    train.perceptron_train_sql(epochs=3),
)
