"""Full-text retrieval over the document corpus: BM25 top-k.

The missing fourth leg next to exact search (equi-joins), fuzzy search
(MinHash/SimHash) and semantic search (ANN over embeddings): classic
lexical ranking, the retrieval primitive behind RAG corpus indexing and
search-engine-style data exploration.

Determinism contract (the module-family rule: see ``text.tfidf_top_terms``
and ``graph.pagerank_exact``): no ``log`` and no float division anywhere.
BM25's idf uses the standard +1 smoothing, under which

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1) = ln(2(N+1) / (2 df + 1))

is a monotone transform of the RATIONAL ``2(N+1) / (2 df + 1)`` — the
scorer uses the rational directly (scaled integer floor division), the
same log-avoidance contract as ``tfidf_top_terms``'s ``1/df``. The tf
saturation keeps BM25's exact k1 = 1.2, b = 0.75 as the integer ratio

    tf_part = tf (k1+1) / (tf + k1 (1 - b + b dl/avgdl))
            = 44 L tf / (20 L tf + 6 L + 18 dl N)      (avgdl = L/N)

after clearing denominators (k1 = 6/5, b = 3/4, x20 x L). Every
intermediate is exact integer arithmetic in DECIMAL(38,0) (Spark) /
HUGEINT (DuckDB) — products reach ~1e6 * 44 * L * tf, past bigint at
corpus token counts L >~ 4e11 — with only the two documented floor
divisions, so the ranking value-hashes against the SQL replay on any
cluster layout.

The rational idf is a PER-TERM monotone transform of the log idf, so
single-term rankings match float BM25 exactly (pytest-pinned); across
terms the transform re-weights rare terms more steeply than the log, so
multi-term rankings are a documented BM25-family variant — still
idf-monotone, tf-saturating and length-normalized, but not bit-for-bit
the log scorer's order. Deployments needing the exact log weighting
trade away the value-hash (float log) — the same tradeoff
``text.unigram_familiarity`` documents.

Scale shape (100 TB): ONE corpus tokenize+explode, restricted to query
terms by a broadcast join BEFORE the tf aggregation (the query term set
is tiny and known, so selectivity lands inside the explode stage); df
and corpus totals come from the restricted frame + one narrow
length-only scan. All post-explode frames are (matched docs x query
terms)-sized. The final top-k is a per-query window over per-doc
scores. No all-pairs anything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
    batch_id_col,
    index_component_path,
    next_version,
    publish_version,
)
from salesforce_prefect_etl_pipeline_spark.operators.text import (
    analyzed_tokens,
    analyzed_tokens_py,
    english_light_tokens,
    english_light_tokens_py,
    tokens,
    tokens_py,
    unicode_tokens,
    unicode_tokens_py,
)

#: Analyzer chains for lexical search (r13 verdict task 5): name ->
#: (engine Column tokenizer, driver-side Python twin). "raw" is the
#: historical whitespace split every pre-r14 oracle pins; "simple"
#: adds lowercase + ASCII-punctuation folding so "Spark," == "spark";
#: "unicode" (r15) extends the fold to Unicode categories
#: (``[^\p{L}\p{N}\s]``) so "Café," == "café" and CJK terms survive —
#: see text.unicode_tokens for the pinned cross-engine contract.
_ANALYZERS = {
    "raw": (tokens, tokens_py),
    "simple": (analyzed_tokens, analyzed_tokens_py),
    "unicode": (unicode_tokens, unicode_tokens_py),
    # unicode fold + deterministic Porter-subset suffix stripping
    # (r15 verdict task 6) — see text.english_light_tokens
    "english_light": (english_light_tokens, english_light_tokens_py),
}


def _sql_tokens(expr: str, analyzer: str = "raw") -> str:
    """The DuckDB token-array twin of the chosen analyzer chain."""
    if analyzer == "simple":
        expr = f"regexp_replace(lower({expr}), '[^a-z0-9\\s]+', ' ', 'g')"
    elif analyzer == "english_light":
        from salesforce_prefect_etl_pipeline_spark.operators.text import (
            STEM_RULES,
        )

        inner = _sql_tokens(expr, "unicode")
        stem = "t"
        # DuckDB standard string literals keep backslashes verbatim, so
        # the r"\1" group reference embeds as-is
        for pat, _, re2_rep in STEM_RULES:
            stem = f"regexp_replace({stem}, '{pat}', '{re2_rep}')"
        return f"list_transform({inner}, t -> {stem})"
    elif analyzer == "unicode":
        # ς→σ after lower: closes the Greek final-sigma divergence
        # (Java/Python contextual lowercase vs utf8proc's simple
        # mapping — see text.unicode_tokens; r15 advice)
        expr = (
            f"regexp_replace(replace(lower({expr}), 'ς', 'σ'),"
            " '[^\\p{L}\\p{N}\\s]+', ' ', 'g')"
        )
    return f"string_split_regex(trim({expr}), '\\s+')"


#: Fixed benchmark query set (query_id, text). Like the ANN query
#: vectors, a small known set: real deployments pass their own.
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "spark join slow"),
    (2, "window stream agg"),
    (3, "customer query big table"),
)

#: The analyzed benchmark set: the same information needs as
#: BM25_QUERIES but cased and punctuated the way real query text
#: arrives — the "simple" analyzer normalizes them to the same terms,
#: which is the point of the registered analyzed row.
BM25_ANALYZED_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "Spark, JOIN... slow!"),
    (2, "Window; STREAM (agg)"),
    (3, "CUSTOMER query: big/table"),
)

#: The unicode-analyzer benchmark set: the same information needs
#: expressed with non-ASCII typography real query text carries —
#: em-dashes, ellipsis, curly quotes, middle dots, fullwidth
#: punctuation. The "unicode" chain folds all of it to separators
#: identically in Spark (Java \\p classes) and DuckDB (RE2), which the
#: registered row value-proves; the ASCII chains would glue
#: "stream agg" into one garbage term.
BM25_UNICODE_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "Spark—JOIN… slow¿"),
    (2, "Window·STREAM (agg)"),
    (3, "“CUSTOMER” query： big／table"),
)

#: The stemmed benchmark set: the same information needs expressed
#: with the INFLECTIONS real query text carries — plurals, -ed, -ing.
#: The "english_light" chain folds them onto the corpus's base terms
#: (sparks/joining/slowed -> spark/join/slow), which the registered
#: row value-proves; the unstemmed chains would match nothing.
BM25_STEMMED_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "Sparks, joining slowed!"),
    (2, "Windows streamed (aggs)"),
    (3, "customers query big tables"),
)

#: Fixed-point scale for the two floor divisions (1e-6 score quantum).
BM25_SCALE = 1_000_000


def _bm25_term_score_expr():
    """The per-(query, term, doc) integer score over columns
    (tf, dl, df, n_docs, total_len) — shared by every probe tier."""
    return F.expr(
        # idf_scaled = SCALE * 2(N+1) DIV (2 df + 1); bounded by
        # SCALE * 2(N+1) / 3 — decimal guards the product.
        f"CAST(CAST({BM25_SCALE} AS DECIMAL(38,0)) * (2 * n_docs + 2)"
        "     DIV (2 * df + 1) AS DECIMAL(38,0))"
        # tf_part_scaled = SCALE * 44 L tf DIV (20 L tf + 6 L
        #   + 18 dl N), bounded by SCALE * (k1+1) = 2.2e6.
        f" * (CAST({BM25_SCALE} AS DECIMAL(38,0)) * 44 * total_len * tf"
        "     DIV (CAST(20 AS DECIMAL(38,0)) * total_len * tf"
        "          + 6 * total_len + 18 * dl * n_docs))"
        f" DIV {BM25_SCALE}"
    ).cast("long")


def _score_topk(
    tf0: DataFrame, qterms: DataFrame, totals: DataFrame, k: int
) -> DataFrame:
    """The shared scorer: from a restricted per-(term, doc) posting
    frame ``tf0`` (columns term, doc_id, tf, dl — one row per (term,
    doc) over the whole corpus, restricted to query terms), the tiny
    (query_id, term) frame, and a 1-row totals frame (n_docs,
    total_len), produce the ranked top-k.

    df(t) is a COUNT window over the posting frame itself (rows are
    distinct (term, doc), so the term-partition row count IS the true
    df) — deriving it as a separate aggregate branch would re-execute
    the whole upstream subtree per Catalyst's no-CSE-across-branches
    rule, measured as a second corpus explode in the executed plan
    (same trap ``text.tfidf_top_terms`` documents)."""
    from pyspark.sql.window import Window as _W

    with_df = tf0.withColumn(
        "df", F.count(F.lit(1)).over(_W.partitionBy("term"))
    )
    scored = (
        with_df.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(totals))
        .select(
            "query_id",
            "doc_id",
            _bm25_term_score_expr().alias("term_score"),
        )
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score_scaled")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "score_scaled")
        .orderBy("query_id", "rnk")
    )


def bm25_topk(
    docs: DataFrame,
    spark: SparkSession,
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = 5,
    analyzer: str = "raw",
) -> DataFrame:
    """Top-``k`` documents per query under integer-exact BM25.

    Returns (query_id, rnk, doc_id, score_scaled) ordered by
    (query_id, rnk); ties within a query break on doc_id ascending.
    Documents sharing no term with a query never appear (score 0 rows
    are not emitted — standard inverted-index behavior). ``analyzer``
    picks the tokenizer chain (corpus AND query side together — the
    two must always agree): "raw" whitespace split, or "simple"
    lowercase + punctuation folding (r13 verdict task 5).
    """
    tok_col, _ = _ANALYZERS[analyzer]
    qdf = spark.createDataFrame(list(queries), "query_id int, qtext string")
    qterms = qdf.select(
        "query_id", F.explode(tok_col("qtext")).alias("term")
    ).distinct()

    # One corpus explode pass: per-doc length rides through the explode
    # so no doc-length join is needed later, and the broadcast
    # distinct-term restriction lands BEFORE the tf aggregation.
    t = tok_col("text")
    tok = docs.select(
        "doc_id", F.size(t).alias("dl"), F.explode(t).alias("term")
    )
    matched = tok.join(F.broadcast(qterms.select("term").distinct()), "term")
    tf0 = matched.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )

    # Corpus totals: a second, narrow pass (tokenize + size, no
    # explode) — the honest minimum for exact N and L on a cold corpus;
    # the persisted-index form (probe_text_index) reads them from the
    # index and needs no corpus pass at all.
    totals = docs.select(F.size(tok_col("text")).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    return _score_topk(tf0, qterms, totals, k)


# ----------------------------------------------------------------------
# Persisted inverted index: build once, probe with partition pruning —
# the offline/online split build_ivf_index gives ANN (similarity.py),
# here for lexical search. At 100 TB the corpus is tokenized and
# written ONCE; every probe reads only the query terms' md5 buckets.

#: Posting-list partition count. Each probe reads at most
#: |distinct query terms| of these partitions via static pruning.
TEXT_INDEX_BUCKETS = 32

#: On-disk layout version — goes into fingerprinted cache dir names
#: (queries_train.ensure_text_index) so a layout change rebuilds caches
#: instead of failing on missing columns. v2 (r14): batch_id stamps on
#: postings/positional rows + the posbatches commit marker. v3 (r15):
#: tombstone retraction batches + versioned compaction snapshots
#: resolved through the CURRENT pointer (the MinHash index's layout,
#: index_store.index_component_path). v4 (r16): commit records carry build
#: provenance (``origin`` = build/append/retract — the replay-dedup
#: skip is only safe for overwrite-built single-batch indexes, r15
#: advice), and the positional tier's tombstones split into their own
#: ``postombstones`` component so a single-tier rebuild can reset its
#: tombstones without touching the other tier's.
TEXT_INDEX_LAYOUT = 4


#: The benchmark's ``corpus_index`` workload (perfbench/workloads.py)
#: reads index components through this name.
_comp = index_component_path


def _term_bucket_py(term: str) -> int:
    """Driver-side twin of the bucket expression (hashlib md5 == both
    engines' md5): probes compute their buckets BEFORE the scan, so the
    partition filter is a static literal — pruning guaranteed at plan
    time, no DPP dependence."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % TEXT_INDEX_BUCKETS


def _postings(docs: DataFrame, analyzer: str = "raw") -> DataFrame:
    t = _ANALYZERS[analyzer][0]("text")
    tok = docs.select(
        "doc_id", F.size(t).alias("dl"), F.explode(t).alias("term")
    )
    return (
        tok.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        .withColumn(
            "bucket",
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
                % TEXT_INDEX_BUCKETS
            ).cast("int"),
        )
    )


def _write_index_batch(
    docs: DataFrame,
    index_dir: str,
    mode: str,
    analyzer: str = "raw",
    bid: str | None = None,
) -> None:
    """The shared stamped two-file write: postings first (every row
    carrying the batch id), then the 1-row totals record — the commit
    point. Ordering + stamps make the pair crash-safe (see
    :func:`build_text_index`).

    Single corpus scan (r15 verdict task 7 — the old shape tokenized
    the corpus twice, once for totals and once for postings): the
    batch id comes from a doc_id-only aggregate (column-pruned — no
    text read), the postings write is the ONE tokenizing pass, and the
    totals (n_docs, total_len) are derived by reading back the
    just-written batch's (doc_id, dl) pairs — a 2-column scan of data
    this job just produced, keyed per-doc so the derivation is also
    immune to replay-duplicated rows. Values are bit-identical to the
    old double-scan totals aggregate (pytest-pinned).

    The REBUILD (overwrite) path deletes the old totals before touching
    the postings (r14 advice): the append invariant — postings without
    a totals row are invisible — inverts on overwrite, where new
    postings reconciled against STALE totals ids are all 'uncommitted'
    and probes would silently return empty. Deleting totals first makes
    a torn rebuild fail LOUDLY (missing totals path) instead; it also
    de-commits any tombstone batches of the superseded index, so a
    rebuild never inherits retractions aimed at the old corpus — and
    (r15 advice) the tombstone component itself is removed, so a later
    retraction whose content-derived id collides with a stale tombstone
    batch's cannot resurrect rows that kill live doc_ids.

    The totals row carries build provenance (``origin`` —
    build/append/retract, r15 advice): probes may skip the replay
    dedup only for OVERWRITE-built single-batch indexes; an
    append-created single-batch index (a streamed first micro-batch,
    torn and replayed) has duplicate rows under one committed id and
    must still dedup."""
    import shutil

    spark = docs.sparkSession
    if bid is None:
        bid = docs.agg(batch_id_col("doc_id")).collect()[0]["batch_id"]
    if mode == "overwrite":
        shutil.rmtree(index_component_path(index_dir, "totals"), ignore_errors=True)
        shutil.rmtree(index_component_path(index_dir, "tombstones"), ignore_errors=True)
    _postings(docs, analyzer).withColumn(
        "batch_id", F.lit(bid)
    ).write.mode(mode).partitionBy("bucket").parquet(
        index_component_path(index_dir, "postings")
    )
    tot = (
        spark.read.parquet(index_component_path(index_dir, "postings"))
        .filter(F.col("batch_id") == bid)
        .select("doc_id", "dl")
        .dropDuplicates(["doc_id"])
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").cast("long").alias("total_len"),
        )
        .collect()[0]
    )
    origin = "build" if mode == "overwrite" else "append"
    spark.createDataFrame(
        [(tot["n_docs"], tot["total_len"], bid, origin)],
        "n_docs long, total_len long, batch_id string, origin string",
    ).write.mode(mode).parquet(index_component_path(index_dir, "totals"))


def _valid_batches(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(index_component_path(index_dir, "totals")).select(
        "batch_id"
    )


def _committed_tombstones(
    spark: SparkSession, index_dir: str, marker: str
) -> DataFrame | None:
    """doc_ids retracted from a tier, restricted to COMMITTED retraction
    batches — committed meaning the batch id appears in the tier's own
    commit record (``totals`` for the BM25/champion tiers, ``posbatches``
    for the positional tier), the same tear invariant ingest batches
    carry. Each tier owns its tombstone component (``tombstones`` vs
    ``postombstones``, r16 layout v4) so an overwrite rebuild of one
    tier resets its tombstones without de-committing the other's.
    Returns None when the index has no tombstone component (the
    overwhelmingly common case: zero read cost, zero plan change)."""
    path = index_component_path(
        index_dir, "postombstones" if marker == "posbatches" else "tombstones"
    )
    if not os.path.isdir(path):
        return None
    committed = (
        spark.read.parquet(index_component_path(index_dir, marker))
        .select("batch_id")
        .dropDuplicates(["batch_id"])
    )
    return (
        spark.read.parquet(path)
        .join(F.broadcast(committed), "batch_id", "leftsemi")
        .select("doc_id")
        .distinct()
    )


def _apply_tombstones(
    df: DataFrame, spark: SparkSession, index_dir: str, marker: str
) -> DataFrame:
    """Anti-join a posting-shaped frame against the tier's committed
    tombstones (no-op without a tombstone component). Deliberately NOT
    a forced broadcast: retraction sets can grow unboundedly at crawl
    scale; AQE promotes the anti-join to broadcast while they're small."""
    tomb = _committed_tombstones(spark, index_dir, marker)
    return df if tomb is None else df.join(tomb, "doc_id", "anti")


def retract_text_index(
    docs: DataFrame, index_dir: str, analyzer: str = "raw"
) -> None:
    """Retract documents from the BM25 tier (takedowns / robots /
    licensing — the crawl-pipeline delete path; r14 verdict task 2):
    a RETRACTION BATCH, the exact dual of :func:`append_text_index`.

    ``docs`` carries the retracted documents' (doc_id, text) — the
    curation pipeline holds the corpus snapshot it ingested from, and
    the text is needed to subtract the documents' token lengths from
    the corpus totals without scanning the term-partitioned postings.
    Two writes, same tear invariant as ingest: tombstone rows
    (doc_id, batch_id) first, then a NEGATIVE totals row
    (-n_docs, -total_len) as the batch's commit record. Probes
    anti-join postings against committed tombstones and keep summing
    the append-only totals, so df (recomputed from the pruned read), N
    and total_len are all exactly the never-ingested corpus's — the
    retract == never-ingested identity is pytest-pinned at all three
    tiers. A torn retraction (tombstones, no totals row) is invisible;
    a REPLAYED one is exactly-once for free — the content-derived
    batch id collides with the original's, and the probe's batch_id
    dedup drops the double-subtract.

    Contract (mirror of the append disjointness contract): retract only
    currently-live doc_ids, each at most once across retraction
    batches. Postings stay on disk until :func:`compact_text_index`
    physically drops them. The champion tier stores df at cut time —
    run :func:`retract_champion_lists` after this to recut the touched
    buckets (the probe's tombstone filter hides dead doc_ids
    meanwhile, but stored df goes stale until the recut)."""
    t = _ANALYZERS[analyzer][0]("text")
    tot = (
        docs.select("doc_id", F.size(t).alias("dl"))
        .agg(
            (-F.count(F.lit(1))).cast("long").alias("n_docs"),
            (-F.sum("dl")).cast("long").alias("total_len"),
            batch_id_col("doc_id", "retract"),
        )
        .collect()[0]
    )
    docs.select("doc_id").distinct().withColumn(
        "batch_id", F.lit(tot["batch_id"])
    ).write.mode("append").parquet(index_component_path(index_dir, "tombstones"))
    docs.sparkSession.createDataFrame(
        [(tot["n_docs"], tot["total_len"], tot["batch_id"], "retract")],
        "n_docs long, total_len long, batch_id string, origin string",
    ).write.mode("append").parquet(index_component_path(index_dir, "totals"))


def retract_positional_index(
    docs: DataFrame, index_dir: str, bid: str | None = None
) -> None:
    """Retract documents from the positional tier: tombstone rows first,
    then the ``posbatches`` marker row commits them (the positional
    probe carries no corpus totals, so only doc_ids are needed — the
    'retractpos' prefix keeps the batch id disjoint from the BM25
    tier's, each tier committing its own tombstones independently).
    ``bid`` is the batch's 'retractpos' id when the caller already
    computed it."""
    if bid is None:
        bid = docs.agg(batch_id_col("doc_id", "retractpos")).collect()[0][
            "batch_id"
        ]
    docs.select("doc_id").distinct().withColumn(
        "batch_id", F.lit(bid)
    ).write.mode("append").parquet(index_component_path(index_dir, "postombstones"))
    docs.sparkSession.createDataFrame(
        [(bid, "retract")], "batch_id string, origin string"
    ).write.mode("append").parquet(index_component_path(index_dir, "posbatches"))


def build_text_index(
    docs: DataFrame, index_dir: str, analyzer: str = "raw"
) -> None:
    """Persist the BM25 inverted index: posting lists
    (term, doc_id, tf, dl, batch_id) as parquet PARTITIONED BY the
    term's md5 bucket, plus per-batch corpus totals. df(t) is
    intentionally not stored — it's the posting-row count per term,
    recomputed exactly from the pruned read at probe time (a probe
    touches every posting of its terms anyway), keeping the index
    maintenance-free under document appends to unrelated terms.

    Crash-safety invariant (r14 advice — the two parquet writes are not
    atomic together): postings are written FIRST, stamped with the
    batch's content-derived id, and the totals row lands LAST as the
    batch's commit record. A crash between the two leaves a postings
    batch with no totals row; probes reconcile by semi-joining postings
    against the totals batch ids, so an uncommitted batch is invisible
    (its docs counted in neither tf/df nor N/total_len) rather than
    skewing every idf. Totals stay APPEND-ONLY batch rows the probe
    sums, never a read-modify-write. ``analyzer`` fixes the index's
    tokenizer chain — probes must use the same one (the caller's
    contract; an index dir holds exactly one analyzer's terms)."""
    _write_index_batch(docs, index_dir, "overwrite", analyzer)


def append_text_index(
    new_docs: DataFrame, index_dir: str, analyzer: str = "raw"
) -> None:
    """Incrementally index NEW documents (disjoint doc_ids by contract,
    the ``append_ivf_vectors`` analog): their postings append into the
    touched bucket partitions only, and one totals batch row commits
    the batch (see :func:`build_text_index` for the tear invariant).
    Probes see the union — pytest pins append == monolithic build
    bit-for-bit. O(increment) work; the existing corpus is never
    re-read."""
    _write_index_batch(new_docs, index_dir, "append", analyzer)


#: Champion-list size: per-term cap on postings kept in the pruned
#: approximate tier (classic champion lists / top-docs, textbook IR).
CHAMPION_M = 128


def _champion_recut(postings: DataFrame, m: int) -> DataFrame:
    """Per-term champion cut over any (reconciled) posting frame: top
    ``m`` postings by (tf desc, doc_id asc) with the term's TRUE df
    stamped BEFORE the cut (so the approximate probe scores with the
    exact idf)."""
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        postings.withColumn(
            "df", F.count(F.lit(1)).over(_W.partitionBy("term"))
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= m)
        .select("term", "doc_id", "tf", "dl", "df", "bucket")
    )


#: Committed-id sets small enough to push as a plan-time ``isin``
#: literal instead of a broadcast semi-join (the similarity-module
#: constant, lexical edition).
_BATCH_ISIN_CAP = 128


def _reconciled_postings(
    spark: SparkSession,
    index_dir: str,
    buckets: list[int] | None = None,
    terms: list[str] | None = None,
) -> DataFrame:
    """The one true posting read every consumer shares: bucket/term
    pruning pushed BEFORE the scan, committed batches only, replay
    dedup, and committed tombstones anti-joined out — so probes,
    champion cuts and compaction all see the identical reconciled
    corpus.

    Probe hot path kept shuffle-free in the common cases (the r15
    paired A/B lesson from the vector tier): totals rows are
    control-plane sized, so the committed ids are collected once and
    pushed as a plan-time ``isin`` filter when few (falling back to
    the broadcast semi-join past ``_BATCH_ISIN_CAP``), and the replay
    dedup — a replayed batch duplicates exactly its
    (term, doc_id, batch_id) rows — is skipped ONLY for a
    single-batch index whose one ingest batch is an OVERWRITE build
    (``origin`` provenance on the totals row, r15 advice: an
    append-created single-batch index — a streamed first micro-batch,
    torn and replayed — carries duplicates under one committed id and
    must still dedup; an overwrite build replaces the directory, so
    nothing to replay against). Retraction batches are commit records
    only, no posting rows; dedup keys on the precise triple instead
    of whole rows."""
    p = spark.read.parquet(index_component_path(index_dir, "postings"))
    if buckets is not None:
        p = p.filter(F.col("bucket").isin([int(b) for b in buckets]))
    if terms is not None:
        p = p.filter(F.col("term").isin(terms))
    tdf = spark.read.parquet(index_component_path(index_dir, "totals"))
    has_origin = "origin" in tdf.columns
    tot_rows = tdf.select(
        "batch_id", "n_docs", *(["origin"] if has_origin else [])
    ).collect()  # one row per batch — control-plane sized
    committed_ids = sorted({r["batch_id"] for r in tot_rows})
    ingest = {
        r["batch_id"]: (r["origin"] if has_origin else None)
        for r in tot_rows
        if r["n_docs"] >= 0
    }
    single_build = len(ingest) == 1 and set(ingest.values()) == {"build"}
    if len(committed_ids) <= _BATCH_ISIN_CAP:
        p = p.filter(F.col("batch_id").isin(committed_ids))
    else:
        p = p.join(
            F.broadcast(_valid_batches(spark, index_dir)),
            "batch_id",
            "leftsemi",
        )
    if not single_build:
        p = p.dropDuplicates(["term", "doc_id", "batch_id"])
    return _apply_tombstones(p, spark, index_dir, "totals")


def build_champion_lists(
    index_dir: str, spark: SparkSession, m: int = CHAMPION_M
) -> None:
    """Derive the champion tier from the persisted postings: for every
    term, the top ``CHAMPION_M`` postings by (tf desc, doc_id asc),
    stamped with the term's TRUE df (so the approximate probe scores
    with the exact idf). At 100 TB this bounds a probe's read to
    m x |query terms| rows no matter how common the terms are — the
    stop-word-query killer; the full tier stays authoritative.

    One read of the postings (committed batches only, tombstones
    dropped), one term-keyed window, one partitioned write. After
    appends, prefer :func:`append_champion_lists` (bucket-bounded
    recut) over this full rebuild."""
    postings = _reconciled_postings(spark, index_dir)
    _champion_recut(postings, m).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(index_component_path(index_dir, "champions"))


def append_champion_lists(
    new_docs: DataFrame,
    index_dir: str,
    m: int = CHAMPION_M,
    analyzer: str = "raw",
) -> None:
    """Bounded champion maintenance after ``append_text_index(new_docs)``
    (r13 verdict task 4 — the champion tier previously re-paid a full
    rebuild per batch): recut ONLY the md5 buckets the increment's
    terms touch, via dynamic partition overwrite of those buckets.

    Granularity is the BUCKET, not the term: champion rows in a bucket
    derive solely from that bucket's postings, so a whole-bucket recut
    (a) needs no read of the existing champion files — no
    self-overwrite conflict, no staging swap — and (b) is idempotent
    and crash-tolerant: each bucket partition is replaced at job
    commit, and a torn job is repaired by re-running the same call
    (champions are a derived cache; the source postings are untouched).
    The documented trade: terms co-located with touched terms are recut
    too — window work over posting rows the probe-exact recut would
    have to read anyway. End state == a monolithic
    :func:`build_champion_lists`, pytest-pinned.

    Work is O(postings of touched buckets): an append whose vocabulary
    hits all ``TEXT_INDEX_BUCKETS`` buckets degenerates to the full
    rebuild — raise the bucket count for append-heavy corpora."""
    spark = new_docs.sparkSession
    bucket_rows = (
        new_docs.select(
            F.explode(_ANALYZERS[analyzer][0]("text")).alias("term")
        )
        .select(
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
                % TEXT_INDEX_BUCKETS
            )
            .cast("int")
            .alias("bucket")
        )
        .distinct()
        .collect()  # bounded by TEXT_INDEX_BUCKETS rows
    )
    buckets = sorted(int(r["bucket"]) for r in bucket_rows)
    if not buckets:
        return
    postings = _reconciled_postings(spark, index_dir, buckets=buckets)
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        _champion_recut(postings, m).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(index_component_path(index_dir, "champions"))
    finally:
        spark.conf.set(mode_key, prev)


def retract_champion_lists(
    retracted_docs: DataFrame,
    index_dir: str,
    m: int = CHAMPION_M,
    analyzer: str = "raw",
) -> None:
    """Champion maintenance after :func:`retract_text_index`: the
    retraction's dual of :func:`append_champion_lists` — recut ONLY the
    md5 buckets the retracted documents' terms touch, from the
    reconciled postings (which now exclude the tombstoned docs), so the
    stored per-term df drops back to the live corpus's exactly. Same
    bucket-granularity idempotent dynamic-partition overwrite; end
    state == a monolithic cut over the never-ingested corpus
    (pytest-pinned)."""
    append_champion_lists(retracted_docs, index_dir, m, analyzer)


def probe_champion_lists(
    spark: SparkSession,
    index_dir: str,
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = 5,
    analyzer: str = "raw",
) -> DataFrame:
    """Approximate BM25 top-``k`` over the champion tier only: identical
    scoring (true df travels on the champion rows), candidate set
    restricted to each term's top-m postings. Exact whenever every
    query term's df <= CHAMPION_M (pytest-pinned both ways); recall on
    common-term queries is the documented trade for the bounded read."""
    tok_py = _ANALYZERS[analyzer][1]
    qterm_rows = sorted(
        {
            (qid, term)
            for qid, text in queries
            for term in tok_py(text)
        }
    )
    buckets = sorted({_term_bucket_py(t) for _, t in qterm_rows})
    terms = sorted({t for _, t in qterm_rows})
    qdf = spark.createDataFrame(qterm_rows, "query_id int, term string")
    champs = _apply_tombstones(
        spark.read.parquet(index_component_path(index_dir, "champions"))
        .filter(F.col("bucket").isin([int(b) for b in buckets]))
        .filter(F.col("term").isin(terms))
        .select("term", "doc_id", "tf", "dl", "df"),
        spark,
        index_dir,
        "totals",
    )
    totals = (
        spark.read.parquet(index_component_path(index_dir, "totals"))
        .dropDuplicates(["batch_id"])
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_len").cast("long").alias("total_len"),
        )
    )
    scored = (
        champs.join(F.broadcast(qdf), "term")
        .crossJoin(F.broadcast(totals))
        .select(
            "query_id",
            "doc_id",
            _bm25_term_score_expr().alias("term_score"),
        )
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score_scaled")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "score_scaled")
        .orderBy("query_id", "rnk")
    )


def probe_text_index(
    spark: SparkSession,
    index_dir: str,
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = 5,
    analyzer: str = "raw",
) -> DataFrame:
    """Top-``k`` per query from the persisted index — bit-identical to
    :func:`bm25_topk` over the same corpus (pytest-pinned), but reading
    only the query terms' bucket partitions instead of scanning and
    tokenizing the corpus. Query text is tokenized with
    :func:`text.tokens_py`, the driver-side twin of the corpus
    tokenizer, so probe == direct holds for Unicode-whitespace and
    empty query text too (r14 advice). Postings are reconciled against
    the committed totals batches (torn append invisible) and committed
    tombstones (retracted docs gone — df recomputes from the filtered
    read, N/total_len sum the negative retraction rows, so the result
    is exactly the never-ingested corpus's). ``analyzer`` must match
    the one the index was built with."""
    tok_py = _ANALYZERS[analyzer][1]
    qterm_rows = sorted(
        {
            (qid, term)
            for qid, text in queries
            for term in tok_py(text)
        }
    )
    buckets = sorted({_term_bucket_py(t) for _, t in qterm_rows})
    terms = sorted({t for _, t in qterm_rows})
    qdf = spark.createDataFrame(qterm_rows, "query_id int, term string")
    tf0 = _reconciled_postings(
        spark, index_dir, buckets=buckets, terms=terms
    ).select("term", "doc_id", "tf", "dl")
    # per-batch rows summed (append-only totals; see build_text_index);
    # batch_id dedup makes a replayed totals row harmless too
    totals = (
        spark.read.parquet(index_component_path(index_dir, "totals"))
        .dropDuplicates(["batch_id"])
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_len").cast("long").alias("total_len"),
        )
    )
    return _score_topk(tf0, qdf, totals, k)


def bm25_topk_sql(
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = 5,
    analyzer: str = "raw",
    doc_pred: str = "TRUE",
) -> str:
    """DuckDB replay of :func:`bm25_topk` — identical integer arithmetic
    (HUGEINT stands in for DECIMAL(38,0), ``//`` for ``DIV``); the
    ``analyzer`` token chain replays via :func:`_sql_tokens`.
    ``doc_pred`` restricts the replayed corpus — the retracted-index
    oracle passes the complement of the retraction split, replaying the
    never-ingested corpus the tombstoned index must equal."""
    values = ", ".join(f"({qid}, '{text}')" for qid, text in queries)
    qtok = _sql_tokens("qtext", analyzer)
    dtok = _sql_tokens("text", analyzer)
    return f"""
WITH q(query_id, qtext) AS (VALUES {values}),
documents_live AS (SELECT * FROM documents WHERE {doc_pred}),
qterms AS (
  SELECT DISTINCT query_id, unnest({qtok}) AS term
  FROM q
),
tok AS MATERIALIZED (
  SELECT doc_id,
         len({dtok}) AS dl,
         unnest({dtok}) AS term
  FROM documents_live
),
tf AS MATERIALIZED (
  SELECT qt.query_id, qt.term, tok.doc_id,
         CAST(COUNT(*) AS BIGINT) AS tf, MIN(tok.dl) AS dl
  FROM tok JOIN qterms qt USING (term)
  GROUP BY 1, 2, 3
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({dtok})) AS BIGINT)
           AS total_len
  FROM documents_live
),
scored AS (
  SELECT tf.query_id, tf.doc_id,
         CAST(
           (CAST({BM25_SCALE} AS HUGEINT) * (2 * t.n_docs + 2) // (2 * d.df + 1))
           * (CAST({BM25_SCALE} AS HUGEINT) * 44 * t.total_len * tf.tf
              // (CAST(20 AS HUGEINT) * t.total_len * tf.tf
                  + 6 * t.total_len + 18 * tf.dl * t.n_docs))
           // {BM25_SCALE}
         AS BIGINT) AS term_score
  FROM tf JOIN dfreq d USING (term) CROSS JOIN totals t
),
per_doc AS (
  SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_scaled
  FROM scored GROUP BY 1, 2
)
SELECT query_id, rnk, doc_id, score_scaled FROM (
  SELECT query_id, doc_id, score_scaled,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY score_scaled DESC, doc_id ASC) AS INT) AS rnk
  FROM per_doc
) WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


def bm25_champion_sql(
    queries: tuple[tuple[int, str], ...] = BM25_QUERIES,
    k: int = 5,
    m: int = CHAMPION_M,
    analyzer: str = "raw",
    doc_pred: str = "TRUE",
) -> str:
    """DuckDB replay of :func:`probe_champion_lists`: the same full
    posting derivation, then the champion restriction (per-term top-m
    by tf desc, doc_id asc — true df stamped BEFORE the cut) and the
    identical scoring. Value-hash over the approximate tier, exact.
    ``doc_pred`` replays a retracted corpus (see :func:`bm25_topk_sql`)
    — the cut and its stored df re-derive over the live docs only,
    which is exactly what :func:`retract_champion_lists` restores."""
    values = ", ".join(f"({qid}, '{text}')" for qid, text in queries)
    qtok = _sql_tokens("qtext", analyzer)
    dtok = _sql_tokens("text", analyzer)
    return f"""
WITH q(query_id, qtext) AS (VALUES {values}),
documents_live AS (SELECT * FROM documents WHERE {doc_pred}),
qterms AS (
  SELECT DISTINCT query_id, unnest({qtok}) AS term
  FROM q
),
tok AS MATERIALIZED (
  SELECT doc_id,
         len({dtok}) AS dl,
         unnest({dtok}) AS term
  FROM documents_live
),
tf AS MATERIALIZED (
  SELECT tok.term, tok.doc_id,
         CAST(COUNT(*) AS BIGINT) AS tf, MIN(tok.dl) AS dl
  FROM tok JOIN (SELECT DISTINCT term FROM qterms) qt USING (term)
  GROUP BY 1, 2
),
champs AS (
  SELECT term, doc_id, tf, dl, df FROM (
    SELECT term, doc_id, tf, dl,
           CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df,
           ROW_NUMBER() OVER (
             PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rk
    FROM tf
  ) WHERE rk <= {m}
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({dtok})) AS BIGINT)
           AS total_len
  FROM documents_live
),
scored AS (
  SELECT qt.query_id, c.doc_id,
         CAST(
           (CAST({BM25_SCALE} AS HUGEINT) * (2 * t.n_docs + 2) // (2 * c.df + 1))
           * (CAST({BM25_SCALE} AS HUGEINT) * 44 * t.total_len * c.tf
              // (CAST(20 AS HUGEINT) * t.total_len * c.tf
                  + 6 * t.total_len + 18 * c.dl * t.n_docs))
           // {BM25_SCALE}
         AS BIGINT) AS term_score
  FROM champs c JOIN qterms qt USING (term) CROSS JOIN totals t
),
per_doc AS (
  SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_scaled
  FROM scored GROUP BY 1, 2
)
SELECT query_id, rnk, doc_id, score_scaled FROM (
  SELECT query_id, doc_id, score_scaled,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY score_scaled DESC, doc_id ASC) AS INT) AS rnk
  FROM per_doc
) WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


# ----------------------------------------------------------------------
# Exact-phrase search

#: Fixed benchmark phrase set (query_id, phrase) — contiguous token
#: sequences, matched exactly.
PHRASE_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "spark join"),
    (2, "window stream agg"),
    (3, "big table"),
)


def phrase_search(
    docs: DataFrame,
    spark: SparkSession,
    queries: tuple[tuple[int, str], ...] = PHRASE_QUERIES,
    k: int = 5,
    analyzer: str = "raw",
) -> DataFrame:
    """Exact contiguous-phrase matching: top-``k`` documents per phrase
    by occurrence count (ties: doc_id asc), overlap-counted (the phrase
    "a a" occurs twice in "a a a" — each anchor position counts).

    The classic formulation is an (n-1)-way self-join of positional
    posting lists; this is the SINGLE-SHUFFLE reformulation: explode
    (position, token) once, join the tiny (query, slot, term) phrase
    table (broadcast), and group by (query, doc, anchor = pos - slot) —
    an anchor whose distinct-slot count equals the phrase length has
    every slot matched at consecutive positions, i.e. one occurrence.
    One corpus explode, one aggregation shuffle, any phrase length.

    Returns (query_id, rnk, doc_id, n_hits) ordered by (query_id, rnk);
    documents without the phrase never appear."""
    tok = docs.select(
        "doc_id",
        F.posexplode(_ANALYZERS[analyzer][0]("text")).alias("pos", "term"),
    )
    return _phrase_anchor_topk(tok, spark, queries, k, analyzer)


def _phrase_frames(spark, queries, analyzer="raw"):
    # phrase slots come from the engine-twin tokenizer so caller-
    # supplied phrases slot-align with the corpus tokens (r14 advice)
    tok_py = _ANALYZERS[analyzer][1]
    rows = [
        (qid, slot, term)
        for qid, text in queries
        for slot, term in enumerate(tok_py(text))
    ]
    lens = {qid: len(tok_py(text)) for qid, text in queries}
    pterms = spark.createDataFrame(rows, "query_id int, slot int, term string")
    plens = spark.createDataFrame(
        sorted(lens.items()), "query_id int, phrase_len int"
    )
    return pterms, plens


def _phrase_anchor_topk(
    tok: DataFrame,
    spark: SparkSession,
    queries: tuple[tuple[int, str], ...],
    k: int,
    analyzer: str = "raw",
) -> DataFrame:
    """The shared anchor-count tail over any (doc_id, pos, term) frame
    — fed by the corpus explode (direct) or the positional index
    (probe)."""
    pterms, plens = _phrase_frames(spark, queries, analyzer)
    anchors = (
        tok.join(F.broadcast(pterms), "term")
        .select(
            "query_id", "doc_id", (F.col("pos") - F.col("slot")).alias("anchor"), "slot"
        )
        .groupBy("query_id", "doc_id", "anchor")
        .agg(F.count_distinct("slot").alias("n_slots"))
    )
    hits = (
        anchors.join(F.broadcast(plens), "query_id")
        .filter(F.col("n_slots") == F.col("phrase_len"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_hits"), F.asc("doc_id")
    )
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "n_hits")
        .orderBy("query_id", "rnk")
    )


def _write_positional_batch(
    docs: DataFrame, index_dir: str, mode: str, analyzer: str = "raw"
) -> None:
    """Stamped positional write + its commit marker — the
    :func:`_write_index_batch` invariant for the positional tier:
    position rows first (batch-stamped), then the 1-row ``posbatches``
    record; probes ignore position batches with no marker. The rebuild
    path deletes the old marker dir first (same loud-tear inversion fix
    as the BM25 tier — see :func:`_write_index_batch`), which also
    de-commits the superseded index's tombstone batches — and removes
    the tier's tombstone component itself (r15 advice: stale tombstone
    rows must not be resurrectable by a content-derived id collision).
    The marker row carries ``origin`` provenance like the totals row
    (the probe's replay-dedup skip is only safe for overwrite-built
    single-batch tiers)."""
    import shutil

    if mode == "overwrite":
        shutil.rmtree(index_component_path(index_dir, "posbatches"), ignore_errors=True)
        shutil.rmtree(
            index_component_path(index_dir, "postombstones"), ignore_errors=True
        )
    bid = docs.agg(batch_id_col("doc_id")).collect()[0]["batch_id"]
    tok = docs.select(
        "doc_id",
        F.posexplode(_ANALYZERS[analyzer][0]("text")).alias("pos", "term"),
    )
    positional = (
        tok.groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("batch_id", F.lit(bid))
        .withColumn(
            "bucket",
            (
                F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
                % TEXT_INDEX_BUCKETS
            ).cast("int"),
        )
    )
    positional.write.mode(mode).partitionBy("bucket").parquet(
        index_component_path(index_dir, "positional")
    )
    origin = "build" if mode == "overwrite" else "append"
    docs.sparkSession.createDataFrame(
        [(bid, origin)], "batch_id string, origin string"
    ).write.mode(mode).parquet(index_component_path(index_dir, "posbatches"))


def build_positional_index(
    docs: DataFrame, index_dir: str, analyzer: str = "raw"
) -> None:
    """Persist the positional tier: (term, doc_id, positions) with the
    sorted 0-based position list, partitioned by the same md5 term
    bucket as the BM25 postings — phrase probes then read only their
    terms' buckets instead of re-tokenizing the corpus. Positions are
    ``sort_array``-ed so the stored rows are deterministic at any
    parallelism (collect_list order is not). Batch-stamped with a
    ``posbatches`` commit marker (same tear invariant as
    :func:`build_text_index`)."""
    _write_positional_batch(docs, index_dir, "overwrite", analyzer)


def append_positional_index(
    new_docs: DataFrame, index_dir: str, analyzer: str = "raw"
) -> None:
    """Incrementally extend the positional tier with NEW documents
    (disjoint doc_ids by contract — r13 verdict task 4: the tier was a
    full rebuild per batch): position rows append into the touched
    bucket partitions only, the batch marker commits them. Since a
    (term, doc_id) pair lives in exactly one batch under the contract,
    the probe's union of batches IS the monolithic index —
    pytest-pinned bit-for-bit. O(increment); the existing corpus is
    never re-read."""
    _write_positional_batch(new_docs, index_dir, "append", analyzer)


def probe_phrase_index(
    spark: SparkSession,
    index_dir: str,
    queries: tuple[tuple[int, str], ...] = PHRASE_QUERIES,
    k: int = 5,
    analyzer: str = "raw",
) -> DataFrame:
    """Exact-phrase top-``k`` from the persisted positional tier —
    bit-identical to :func:`phrase_search` over the same corpus
    (pytest-pinned): the bucket-pruned, term-pushed posting read
    re-explodes its position lists into the shared anchor-count tail.
    Query phrases are tokenized with the engine-twin
    :func:`text.tokens_py`; position batches reconcile against the
    ``posbatches`` markers (torn appends invisible) and committed
    tombstones (retracted docs never match)."""
    terms = sorted(
        {t for _, text in queries for t in _ANALYZERS[analyzer][1](text)}
    )
    buckets = sorted({_term_bucket_py(t) for t in terms})
    # same shuffle-free fast path as _reconciled_postings: literal
    # committed-id filter when few; the replay dedup is skipped only
    # for a single-batch OVERWRITE-built tier (origin provenance on
    # the posbatches rows, r15 advice — an append-created single batch
    # can carry torn-replay duplicates)
    pbdf = spark.read.parquet(index_component_path(index_dir, "posbatches"))
    has_origin = "origin" in pbdf.columns
    pb_rows = pbdf.select(
        "batch_id", *(["origin"] if has_origin else [])
    ).collect()
    committed_ids = sorted({r["batch_id"] for r in pb_rows})
    ingest = {
        r["batch_id"]: (r["origin"] if has_origin else None)
        for r in pb_rows
        if not has_origin or r["origin"] != "retract"
    }
    single_build = len(ingest) == 1 and set(ingest.values()) == {"build"}
    tok = (
        spark.read.parquet(index_component_path(index_dir, "positional"))
        .filter(F.col("bucket").isin([int(b) for b in buckets]))
        .filter(F.col("term").isin(terms))
    )
    if len(committed_ids) <= _BATCH_ISIN_CAP:
        tok = tok.filter(F.col("batch_id").isin(committed_ids))
    else:
        valid = spark.read.parquet(
            index_component_path(index_dir, "posbatches")
        ).select("batch_id")
        tok = tok.join(F.broadcast(valid), "batch_id", "leftsemi")
    if not single_build:
        tok = tok.dropDuplicates(["term", "doc_id", "batch_id"])
    tok = _apply_tombstones(tok, spark, index_dir, "posbatches").select(
        "term", "doc_id", F.explode("positions").alias("pos")
    )
    return _phrase_anchor_topk(tok, spark, queries, k, analyzer)


def _parquet_file_count(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_text_index(
    spark: SparkSession, index_dir: str, m: int = CHAMPION_M
) -> dict:
    """Index maintenance for the batch-appended / streamed text tiers
    (r14 verdict task 3): every ``append_text_index`` /
    ``stream_text_index_ingest`` micro-batch lands one stamped parquet
    batch per tier, and probes full-row-dedup across ALL committed
    batches on every read — after thousands of micro-batches a probe
    reads thousands of small files per touched bucket. This merges each
    tier's committed batches into ONE canonical batch per bucket (one
    file per bucket partition), drops uncommitted (torn) batches and
    replay duplicates physically, applies tombstones (retracted
    postings/positions deleted, negative totals folded into a single
    row), and recuts the champion tier when present. Probe results over
    a compacted index are IDENTICAL (pytest-pinned): compaction changes
    bytes, not rankings.

    Publication is a versioned, snapshot-isolated publish (every
    component rewritten into a new version, made live by the
    CURRENT-pointer swap) under ``operators.index_store``'s crash-safety,
    retention and single-owner contract; an interrupted compaction's
    orphan dir is superseded by the re-run.

    Returns per-component {before, after} row and parquet-file counts —
    the maintenance job's log line. The new batch ids are
    content-derived ("compact:" + corpus aggregates), so recompacting
    an unchanged index is bit-reproducible."""
    stats: dict = {}
    new_root = next_version(index_dir)

    # --- BM25 tier: committed, replay-deduped, tombstone-free postings
    # restamped as one batch; totals folded to a single row (negative
    # retraction rows summed in — the live corpus's exact N/total_len).
    old_postings = index_component_path(index_dir, "postings")
    postings = _reconciled_postings(spark, index_dir)
    tot = (
        spark.read.parquet(index_component_path(index_dir, "totals"))
        .dropDuplicates(["batch_id"])
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_len").cast("long").alias("total_len"),
        )
        .collect()[0]
    )
    n_postings = postings.count()
    import hashlib

    bid = hashlib.md5(
        f"compact:{tot['n_docs']}:{tot['total_len']}:{n_postings}".encode()
    ).hexdigest()
    stats["postings"] = {
        "before": spark.read.parquet(old_postings).count(),
        "after": n_postings,
        "files_before": _parquet_file_count(old_postings),
    }
    (
        postings.withColumn("batch_id", F.lit(bid))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(new_root, "postings"))
    )
    stats["postings"]["files_after"] = _parquet_file_count(
        os.path.join(new_root, "postings")
    )
    # origin "build": the compacted snapshot is one canonical
    # overwrite-equivalent batch, so probes skip the replay dedup
    spark.createDataFrame(
        [(int(tot["n_docs"]), int(tot["total_len"]), bid, "build")],
        "n_docs long, total_len long, batch_id string, origin string",
    ).write.mode("overwrite").parquet(os.path.join(new_root, "totals"))

    # --- champion tier: recut from the compacted corpus when present
    if os.path.isdir(index_component_path(index_dir, "champions")):
        champs = _champion_recut(postings, m)
        (
            champs.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(new_root, "champions"))
        )
        stats["champions"] = {
            "after": spark.read.parquet(
                os.path.join(new_root, "champions")
            ).count()
        }

    # --- positional tier: same reconcile (posbatches commit ids,
    # (term, doc_id, batch) replay dedup, tombstones) into one batch
    if os.path.isdir(index_component_path(index_dir, "positional")):
        old_pos = index_component_path(index_dir, "positional")
        valid = (
            spark.read.parquet(index_component_path(index_dir, "posbatches"))
            .select("batch_id")
            .dropDuplicates(["batch_id"])
        )
        posi = _apply_tombstones(
            spark.read.parquet(old_pos)
            .join(F.broadcast(valid), "batch_id", "leftsemi")
            .dropDuplicates(["term", "doc_id", "batch_id"]),
            spark,
            index_dir,
            "posbatches",
        ).drop("batch_id")
        n_pos = posi.count()
        pbid = hashlib.md5(f"compactpos:{n_pos}".encode()).hexdigest()
        stats["positional"] = {
            "before": spark.read.parquet(old_pos).count(),
            "after": n_pos,
            "files_before": _parquet_file_count(old_pos),
        }
        (
            posi.withColumn("batch_id", F.lit(pbid))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(new_root, "positional"))
        )
        stats["positional"]["files_after"] = _parquet_file_count(
            os.path.join(new_root, "positional")
        )
        spark.createDataFrame(
            [(pbid, "build")], "batch_id string, origin string"
        ).write.mode("overwrite").parquet(os.path.join(new_root, "posbatches"))

    # tombstones are APPLIED, not copied: the new version has none
    publish_version(
        index_dir,
        new_root,
        flat=(
            "postings",
            "totals",
            "champions",
            "positional",
            "posbatches",
            "tombstones",
            "postombstones",
        ),
    )
    return stats


def text_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-bucket maintenance report over the text tiers — the OBSERVE
    half of the observe→decide loop whose ACT is
    :func:`compact_text_index` (r15 verdict task 3; the vector side's
    ``ivf_list_stats`` → ``rebalance_ivf_index`` pattern, lexical
    edition). A production operator watches this to decide WHEN to
    compact a streamed index: ``n_files`` and ``n_replay_dups`` grow
    with every micro-batch (compact_text_index's own motivation:
    "thousands of small files per bucket"), ``n_tombstoned`` grows
    with every retraction — and all three drop to ~0 after a compact
    (pytest-pinned on the 50-micro-batch streamed fixture).

    One row per (tier, bucket) for every tier present (``postings``,
    ``positional``, ``champions``):

    - ``n_files``: parquet files in the bucket partition — pure
      driver-side FS metadata, no data read;
    - ``n_batches``: distinct batch ids stored in the bucket
      (committed or not);
    - ``n_rows``: physical rows on disk (uncommitted + replay
      duplicates + tombstoned included);
    - ``n_postings``: committed DISTINCT (term, doc_id) entries —
      the logical index size;
    - ``n_live``: n_postings surviving the committed tombstones;
    - ``n_replay_dups``: committed physical rows minus n_postings
      (torn-batch replays awaiting physical drop);
    - ``n_tombstoned``: n_postings minus n_live (retracted entries
      awaiting physical drop);
    - ``n_terms`` / ``n_docs``: distinct live terms / doc_ids — the
      champion-recut and probe-cost sizing inputs.

    Scale shape: the scan is column-pruned to (bucket, term, doc_id,
    batch_id) — no tf/dl/positions/embedding bytes — one shuffle keyed
    on the posting identity, then a ≤TEXT_INDEX_BUCKETS-row rollup;
    file counts come from directory listings only. The LIVE columns
    (n_postings, n_live, n_terms, n_docs) are pure functions of the
    reconciled corpus — independent of write history — so the
    registered row value-hashes against a tokenize-and-count replay;
    the physical columns (files, dups) are the pytest-covered
    maintenance signals."""
    import glob as _glob

    def _bucket_file_counts(comp: str) -> dict[int, int]:
        out: dict[int, int] = {}
        root = index_component_path(index_dir, comp)
        for d in _glob.glob(os.path.join(root, "bucket=*")):
            b = int(os.path.basename(d).split("=")[1])
            out[b] = sum(
                1 for f in os.listdir(d) if f.endswith(".parquet")
            )
        return out

    def _tier_stats(
        comp: str, marker: str, committed_ids: list[str]
    ) -> list[tuple]:
        raw = spark.read.parquet(index_component_path(index_dir, comp)).select(
            "bucket", "term", "doc_id", "batch_id"
        )
        tomb = _committed_tombstones(spark, index_dir, marker)
        grouped = raw.groupBy("bucket", "term", "doc_id", "batch_id").agg(
            F.count(F.lit(1)).alias("copies")
        )
        committed = F.col("batch_id").isin(committed_ids)
        if tomb is None:
            dead = F.lit(False)
        else:
            grouped = grouped.join(
                tomb.withColumn("_dead", F.lit(True)), "doc_id", "left"
            )
            dead = F.coalesce(F.col("_dead"), F.lit(False))
        per = (
            grouped.groupBy("bucket")
            .agg(
                F.sum("copies").cast("long").alias("n_rows"),
                F.countDistinct("batch_id").cast("long").alias("n_batches"),
                F.sum(F.when(committed, F.col("copies")).otherwise(0))
                .cast("long")
                .alias("n_committed_rows"),
                F.sum(F.when(committed, 1).otherwise(0))
                .cast("long")
                .alias("n_postings"),
                F.sum(F.when(committed & ~dead, 1).otherwise(0))
                .cast("long")
                .alias("n_live"),
                F.count_distinct(
                    F.when(committed & ~dead, F.col("term"))
                ).cast("long").alias("n_terms"),
                F.count_distinct(
                    F.when(committed & ~dead, F.col("doc_id"))
                ).cast("long").alias("n_docs"),
            )
            .orderBy("bucket")
            .collect()  # ≤ TEXT_INDEX_BUCKETS rows
        )
        files = _bucket_file_counts(comp)
        return [
            (
                comp,
                int(r["bucket"]),
                files.get(int(r["bucket"]), 0),
                r["n_batches"],
                r["n_rows"],
                r["n_postings"],
                r["n_live"],
                r["n_committed_rows"] - r["n_postings"],
                r["n_postings"] - r["n_live"],
                r["n_terms"],
                r["n_docs"],
            )
            for r in per
        ]

    rows: list[tuple] = []
    tot_ids = sorted(
        {
            r["batch_id"]
            for r in spark.read.parquet(index_component_path(index_dir, "totals"))
            .select("batch_id")
            .collect()
        }
    )
    rows += _tier_stats("postings", "totals", tot_ids)
    if os.path.isdir(index_component_path(index_dir, "positional")):
        pos_ids = sorted(
            {
                r["batch_id"]
                for r in spark.read.parquet(
                    index_component_path(index_dir, "posbatches")
                )
                .select("batch_id")
                .collect()
            }
        )
        rows += _tier_stats("positional", "posbatches", pos_ids)
    if os.path.isdir(index_component_path(index_dir, "champions")):
        # champions are a derived cache: no batch stamps; live = rows
        # minus committed BM25-tier tombstones
        raw = spark.read.parquet(index_component_path(index_dir, "champions")).select(
            "bucket", "term", "doc_id"
        )
        tomb = _committed_tombstones(spark, index_dir, "totals")
        if tomb is None:
            flagged = raw.withColumn("_dead", F.lit(False))
        else:
            flagged = raw.join(
                tomb.withColumn("_dead", F.lit(True)), "doc_id", "left"
            ).withColumn("_dead", F.coalesce(F.col("_dead"), F.lit(False)))
        per = (
            flagged.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(~F.col("_dead"), 1).otherwise(0))
                .cast("long")
                .alias("n_live"),
                F.count_distinct(
                    F.when(~F.col("_dead"), F.col("term"))
                ).cast("long").alias("n_terms"),
                F.count_distinct(
                    F.when(~F.col("_dead"), F.col("doc_id"))
                ).cast("long").alias("n_docs"),
            )
            .orderBy("bucket")
            .collect()
        )
        files = _bucket_file_counts("champions")
        rows += [
            (
                "champions",
                int(r["bucket"]),
                files.get(int(r["bucket"]), 0),
                1,
                r["n_rows"],
                r["n_rows"],
                r["n_live"],
                0,
                r["n_rows"] - r["n_live"],
                r["n_terms"],
                r["n_docs"],
            )
            for r in per
        ]
    return spark.createDataFrame(
        rows,
        "tier string, bucket int, n_files int, n_batches long, "
        "n_rows long, n_postings long, n_live long, n_replay_dups long, "
        "n_tombstoned long, n_terms long, n_docs long",
    ).orderBy("tier", "bucket")


def maybe_compact_text_index(
    spark: SparkSession,
    index_dir: str,
    m: int = CHAMPION_M,
    max_files_per_bucket: int = 64,
    max_waste_ratio: float = 0.10,
    max_batches: int | None = None,
) -> dict:
    """The DECIDE step between :func:`text_index_stats` (observe) and
    :func:`compact_text_index` (act) — the scheduler-tick entry point
    a production operator runs against a streamed index. Reads the
    stats report and compacts when any bucket of any tier breaches the
    policy SCALE.md documents:

    - ``n_files > max_files_per_bucket`` (default 64): small-file read
      amplification — probe latency grows with file count long before
      data volume does;
    - ``(n_replay_dups + n_tombstoned) / n_postings > max_waste_ratio``
      (default 10%): wasted probe I/O plus tombstone anti-join width;
    - ``n_batches > max_batches`` (opt-in): cap the committed-id list
      probes must reconcile against (e.g. a day of micro-batches).

    Returns ``{"compacted", "reasons", "n_buckets"}`` — ``reasons``
    lists every (tier, bucket, signal, value) that fired, so the
    decision is auditable after the fact. Probe identity across the
    act is ``compact_text_index``'s own pytest-pinned contract; this
    wrapper's contract (fires on the fragmented streamed fixture, goes
    quiet right after the compact it triggers) is pinned beside it.
    Cost when quiet: the stats scan only — FS metadata plus one
    column-pruned aggregation, safe at any tick frequency."""
    stats = text_index_stats(spark, index_dir).collect()
    reasons: list[tuple] = []
    for r in stats:
        if r["n_files"] > max_files_per_bucket:
            reasons.append((r["tier"], r["bucket"], "n_files", r["n_files"]))
        waste = (r["n_replay_dups"] + r["n_tombstoned"]) / max(
            1, r["n_postings"]
        )
        if waste > max_waste_ratio:
            reasons.append(
                (r["tier"], r["bucket"], "waste_ratio", round(waste, 4))
            )
        if max_batches is not None and r["n_batches"] > max_batches:
            reasons.append(
                (r["tier"], r["bucket"], "n_batches", r["n_batches"])
            )
    if reasons:
        compact_text_index(spark, index_dir, m=m)
    return {
        "compacted": bool(reasons),
        "reasons": reasons,
        "n_buckets": len(stats),
    }


#: RRF constant (Cormack, Clarke & Buettcher 2009, SIGIR: k=60 is the
#: paper's recommended damping) and the integer score quantum.
RRF_K = 60
RRF_SCALE = 1_000_000

#: Fixed hybrid benchmark set: (query_id, lexical text, anchor vec_id).
#: doc_id and vec_id are the same id space in the corpus, so the two
#: legs rank the same documents; the anchor vector stands in for the
#: query's embedding (real deployments embed the query text).
HYBRID_QUERIES: tuple[tuple[int, str, int], ...] = (
    (1, "spark join slow", 1),
    (2, "window stream agg", 7),
    (3, "customer query big table", 42),
)


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    spark: SparkSession,
    queries: tuple[tuple[int, str, int], ...] = HYBRID_QUERIES,
    k: int = 5,
    leg_k: int = 20,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval by reciprocal-rank fusion:
    fuse the BM25 top-``leg_k`` (exact integer scorer, ``bm25_topk``)
    with the exact cosine top-``leg_k`` over the embedding column
    (``similarity.cosine_topk``) as

        rrf_score(d) = Σ_legs  RRF_SCALE // (RRF_K + rank_leg(d))

    — rank-ONLY fusion (Cormack et al. 2009), so the combined score is
    pure integer floor division over two already-value-verified leg
    rankings: no new float surface, and the whole hybrid inherits the
    value-hash discipline. Returns (query_id, rnk, doc_id, rrf_score)
    ordered by (query_id, rnk); ties break on doc_id ascending. A
    document surfaced by only one leg still scores (standard RRF — the
    legs vote, they don't veto).

    Scale shape: each leg is its own documented scan (BM25: one
    restricted corpus explode; cosine: one corpus scan against the
    broadcast query vectors); the fusion itself runs over at most
    2 x leg_k x |queries| rows — driver-trivial at any corpus size. At
    100 TB swap the legs for their index-backed tiers
    (``probe_text_index`` / the IVF probe) without touching the fusion.
    """
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    bm = bm25_topk(
        docs, spark, queries=tuple((q, t) for q, t, _ in queries), k=leg_k
    )
    ann = similarity.cosine_topk(emb, [v for _, _, v in queries], k=leg_k)
    return hybrid_rrf_from_legs(bm, ann, spark, queries, k)


def hybrid_rrf_from_legs(
    bm: DataFrame,
    ann: DataFrame,
    spark: SparkSession,
    queries: tuple[tuple[int, str, int], ...] = HYBRID_QUERIES,
    k: int = 5,
    phrase: DataFrame | None = None,
    weights: tuple[int, int, int] = (1, 1, 1),
) -> DataFrame:
    """The fusion tail over ANY leg rankings — a lexical frame with
    (query_id, doc_id, rnk), a semantic frame with (query_id = anchor
    vec_id, neighbor_id, rnk), and optionally the exact-phrase frame
    (query_id, doc_id, rnk) as a third leg (r14 verdict task 6). This
    is the point of rank-only fusion: the legs are swappable (direct
    scans at bench scale, the bucket-pruned BM25 probe + the
    partition-pruned IVF probe + the positional-index phrase probe at
    100 TB) without touching a line of the fusion — and with the IVF
    leg at nprobe = nlist the index-backed composition is bit-identical
    to the direct one (pytest-pinned), so both forms share one oracle.

    ``weights`` are INTEGER per-leg multipliers (bm, ann, phrase):
    each vote contributes ``w * RRF_SCALE DIV (RRF_K + rank)`` — the
    weighted-RRF generalization, still pure integer floor division. A
    weight of 0 drops its leg bit-identically (the leg is filtered out
    BEFORE the union, so a document surfaced only by a zero-weight leg
    never appears with score 0 — pytest-pinned). All-zero weights are
    a caller error (no legs to fuse), rejected up front (r15 advice —
    previously an IndexError on the empty union)."""
    if not any(int(w) for w in weights):
        raise ValueError(
            f"hybrid_rrf_from_legs: all leg weights are 0 ({weights!r}) — "
            "at least one leg must carry a non-zero weight"
        )
    vmap = spark.createDataFrame(
        [(q, v) for q, _, v in queries], "hq int, anchor_id long"
    )
    w_bm, w_ann, w_phrase = (int(w) for w in weights)
    parts = []
    if w_bm:
        parts.append(
            bm.select(
                "query_id",
                "doc_id",
                F.col("rnk").alias("leg_rnk"),
                F.lit(w_bm).alias("w"),
            )
        )
    if w_ann:
        parts.append(
            ann.select(
                F.col("query_id").alias("anchor_id"),
                F.col("neighbor_id").alias("doc_id"),
                F.col("rnk").alias("leg_rnk"),
            )
            .join(F.broadcast(vmap), "anchor_id")
            .select(
                F.col("hq").alias("query_id"),
                "doc_id",
                "leg_rnk",
                F.lit(w_ann).alias("w"),
            )
        )
    if phrase is not None and w_phrase:
        parts.append(
            phrase.select(
                "query_id",
                "doc_id",
                F.col("rnk").alias("leg_rnk"),
                F.lit(w_phrase).alias("w"),
            )
        )
    legs = parts[0]
    for p in parts[1:]:
        legs = legs.unionAll(p)
    scored = legs.groupBy("query_id", "doc_id").agg(
        F.sum(
            F.expr(
                f"CAST((w * {RRF_SCALE}) DIV ({RRF_K} + leg_rnk) AS BIGINT)"
            )
        ).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "rrf_score")
        .orderBy("query_id", "rnk")
    )


#: Integer leg weights for the registered weighted-fusion row:
#: lexical evidence counts double, the semantic and exact-phrase legs
#: vote once each — the classic "BM25-anchored" hybrid configuration.
HYBRID_WEIGHTS: tuple[int, int, int] = (2, 1, 1)


def hybrid_rrf_weighted(
    docs: DataFrame,
    emb: DataFrame,
    spark: SparkSession,
    queries: tuple[tuple[int, str, int], ...] = HYBRID_QUERIES,
    k: int = 5,
    leg_k: int = 20,
    weights: tuple[int, int, int] = HYBRID_WEIGHTS,
) -> DataFrame:
    """Three-leg weighted reciprocal-rank fusion (r14 verdict task 6):
    BM25 + exact cosine + exact-phrase (the query text doubles as the
    phrase), fused as Σ_legs w_leg * RRF_SCALE DIV (RRF_K + rank) —
    still rank-only integer arithmetic, so the whole hybrid keeps the
    value-hash discipline across all three already-verified legs. The
    phrase leg is the precision vote: documents containing the query
    as a contiguous phrase get boosted past bag-of-words matches."""
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    bm = bm25_topk(
        docs, spark, queries=tuple((q, t) for q, t, _ in queries), k=leg_k
    )
    ann = similarity.cosine_topk(emb, [v for _, _, v in queries], k=leg_k)
    ph = phrase_search(
        docs, spark, queries=tuple((q, t) for q, t, _ in queries), k=leg_k
    )
    return hybrid_rrf_from_legs(
        bm, ann, spark, queries, k, phrase=ph, weights=weights
    )


def hybrid_rrf_weighted_sql(
    queries: tuple[tuple[int, str, int], ...] = HYBRID_QUERIES,
    k: int = 5,
    leg_k: int = 20,
    weights: tuple[int, int, int] = HYBRID_WEIGHTS,
) -> str:
    """DuckDB replay of :func:`hybrid_rrf_weighted`: the three leg
    replays nested as CTEs (zero-weight legs omitted, matching the
    engine's pre-union filter), fused by the identical weighted integer
    floor-division sum. All-zero weights are rejected like the engine
    function (r15 advice — previously emitted a malformed empty
    ``legs AS ()`` CTE)."""
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    if not any(int(w) for w in weights):
        raise ValueError(
            f"hybrid_rrf_weighted_sql: all leg weights are 0 ({weights!r})"
        )
    w_bm, w_ann, w_phrase = (int(w) for w in weights)
    vmap_rows = ", ".join(f"({q}, {v})" for q, _, v in queries)
    leg_selects = []
    ctes = [f"vmap(hq, anchor_id) AS (VALUES {vmap_rows})"]
    if w_bm:
        bm_sql = bm25_topk_sql(
            queries=tuple((q, t) for q, t, _ in queries), k=leg_k
        )
        ctes.append(f"bm AS ({bm_sql})")
        leg_selects.append(
            f"SELECT query_id, doc_id, rnk AS leg_rnk, {w_bm} AS w FROM bm"
        )
    if w_ann:
        ann_sql = similarity.cosine_topk_sql(
            [v for _, _, v in queries], k=leg_k
        )
        ctes.append(f"ann AS ({ann_sql})")
        leg_selects.append(
            "SELECT v.hq AS query_id, a.neighbor_id AS doc_id,"
            f" a.rnk AS leg_rnk, {w_ann} AS w"
            " FROM ann a JOIN vmap v ON a.query_id = v.anchor_id"
        )
    if w_phrase:
        ph_sql = phrase_search_sql(
            queries=tuple((q, t) for q, t, _ in queries), k=leg_k
        )
        ctes.append(f"ph AS ({ph_sql})")
        leg_selects.append(
            f"SELECT query_id, doc_id, rnk AS leg_rnk, {w_phrase} AS w"
            " FROM ph"
        )
    legs_union = "\n  UNION ALL\n  ".join(leg_selects)
    return f"""
WITH {", ".join(ctes)},
legs AS (
  {legs_union}
),
scored AS (
  SELECT query_id, doc_id,
         CAST(SUM((w * {RRF_SCALE}) // ({RRF_K} + leg_rnk)) AS BIGINT)
           AS rrf_score
  FROM legs GROUP BY 1, 2
)
SELECT query_id, rnk, doc_id, rrf_score FROM (
  SELECT query_id, doc_id, rrf_score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rnk
  FROM scored
) WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


def hybrid_rrf_sql(
    queries: tuple[tuple[int, str, int], ...] = HYBRID_QUERIES,
    k: int = 5,
    leg_k: int = 20,
) -> str:
    """DuckDB replay of :func:`hybrid_rrf_topk`: the two leg replays
    (``bm25_topk_sql`` / ``similarity.cosine_topk_sql``) nested as
    CTE subqueries, fused by the identical integer floor-division RRF
    sum."""
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    bm_sql = bm25_topk_sql(
        queries=tuple((q, t) for q, t, _ in queries), k=leg_k
    )
    ann_sql = similarity.cosine_topk_sql([v for _, _, v in queries], k=leg_k)
    vmap_rows = ", ".join(f"({q}, {v})" for q, _, v in queries)
    return f"""
WITH bm AS ({bm_sql}),
ann AS ({ann_sql}),
vmap(hq, anchor_id) AS (VALUES {vmap_rows}),
legs AS (
  SELECT query_id, doc_id, rnk AS leg_rnk FROM bm
  UNION ALL
  SELECT v.hq AS query_id, a.neighbor_id AS doc_id, a.rnk AS leg_rnk
  FROM ann a JOIN vmap v ON a.query_id = v.anchor_id
),
scored AS (
  SELECT query_id, doc_id,
         CAST(SUM({RRF_SCALE} // ({RRF_K} + leg_rnk)) AS BIGINT)
           AS rrf_score
  FROM legs GROUP BY 1, 2
)
SELECT query_id, rnk, doc_id, rrf_score FROM (
  SELECT query_id, doc_id, rrf_score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rnk
  FROM scored
) WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


def phrase_search_sql(
    queries: tuple[tuple[int, str], ...] = PHRASE_QUERIES,
    k: int = 5,
    analyzer: str = "raw",
    doc_pred: str = "TRUE",
) -> str:
    """DuckDB replay of :func:`phrase_search` — the same anchor
    counting over list_transform-enumerated positions (1-based there,
    0-based in Spark's posexplode; anchors are differences, so the
    offset cancels). ``doc_pred`` replays a retracted corpus (see
    :func:`bm25_topk_sql`)."""
    tok_py = _ANALYZERS[analyzer][1]
    term_rows = ", ".join(
        f"({qid}, {slot}, '{term}')"
        for qid, text in queries
        for slot, term in enumerate(tok_py(text))
    )
    len_rows = ", ".join(
        f"({qid}, {len(tok_py(text))})" for qid, text in queries
    )
    dtok = _sql_tokens("text", analyzer)
    return f"""
WITH pterms(query_id, slot, term) AS (VALUES {term_rows}),
plens(query_id, phrase_len) AS (VALUES {len_rows}),
documents_live AS (SELECT * FROM documents WHERE {doc_pred}),
tok AS (
  SELECT doc_id, pr.term AS term, pr.pos AS pos FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, len({dtok}) + 1),
             i -> {{'term': {dtok}[i],
                    'pos': i}})) AS pr
    FROM documents_live
  )
),
anchors AS (
  SELECT p.query_id, tok.doc_id, tok.pos - p.slot AS anchor,
         COUNT(DISTINCT p.slot) AS n_slots
  FROM tok JOIN pterms p USING (term)
  GROUP BY 1, 2, 3
),
hits AS (
  SELECT a.query_id, a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM anchors a JOIN plens l USING (query_id)
  WHERE a.n_slots = l.phrase_len
  GROUP BY 1, 2
)
SELECT query_id, rnk, doc_id, n_hits FROM (
  SELECT query_id, doc_id, n_hits,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY n_hits DESC, doc_id ASC) AS INT) AS rnk
  FROM hits
) WHERE rnk <= {k}
ORDER BY query_id, rnk
"""
