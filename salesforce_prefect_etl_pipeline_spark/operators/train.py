"""In-engine model training: BPE tokenizer merges and a batch perceptron.

Two iterative training algorithms expressed as fixed-count distributed
DataFrame programs, in the same family as ``graph.pagerank_exact``: all
state is integer, every step is order-independent (bigint sums, integer
floor division, deterministic argmax tiebreaks), and the full training
run unrolls into chained CTEs for an exact SQL replay — training on this
engine is verifiable, not just runnable.

1. ``bpe_train_merges``: the first N merge steps of byte-pair-encoding
   tokenizer training (Sennrich et al. 2016, public) over word
   frequencies — count adjacent symbol pairs, merge the argmax pair in
   every word, repeat. This is what ``text.bpe_merge_candidates`` (one
   step's candidate list) becomes when iterated: the actual learned
   merge table.

2. ``perceptron_train``: the batch perceptron over hashed bag-of-words
   features — per epoch, ONE aggregation sums y*x over currently
   misclassified documents and updates the weight vector. The batch
   variant (sum the whole epoch's update, then apply) is order-free,
   which is exactly what makes it both distributable and integer-exact;
   the classic sequential perceptron is neither. This is the quality-
   classifier training loop (fastText-style linear models over hashed
   n-grams) run inside the engine against weak labels.

Scale shapes: BPE iterates over the WORD-FREQUENCY table (vocabulary-
sized, not corpus-sized — one corpus scan builds it, then N iterations
each do one explode+agg over the vocabulary and a 1-row argmax
broadcast). The perceptron iterates over a sparse (doc, dim, count)
feature frame: per epoch one broadcast join against the (dims+1)-row
weight vector, one per-doc sum, one dims-sized update aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Symbol boundary char for the BPE working representation (U+001F, a
#: control char no tokenizer vocabulary includes; words containing it
#: are excluded by contract on both sides).
#:
#: Symbols are joined AND wrapped by DOUBLE separators: word "ab" is
#: "<S><S>a<S><S>b<S><S>". The merge for pair (A, B) replaces the
#: literal "<S>A<S><S>B<S>" with "<S>AB<S>" — the pattern takes only the
#: INNER separator of each double boundary, leaving one <S> intact on
#: both sides. That single invariant buys both correctness properties a
#: single-separator scheme cannot have at once:
#:
#: - boundary exactness: "<S>A" can only match where A is a WHOLE
#:   symbol (a longer symbol "xA" puts 'x', not <S>, before A), and
#:   symmetrically for B — no cross-boundary merges of symbol suffixes
#:   or prefixes;
#: - adjacency: after a match consumes its trailing "<S>", the next
#:   occurrence's leading "<S>" (the other half of the double boundary)
#:   is still there, so left-to-right non-overlapping `replace` — the
#:   scan-resume behavior both engines share, differential-tested —
#:   merges every disjoint occurrence exactly like BPE's greedy pass
#:   ("a a a a" -> "aa aa", "a a a" -> "aa a").
BPE_SEP = "\x1f"


def _word_counts(docs: DataFrame) -> DataFrame:
    from salesforce_prefect_etl_pipeline_spark.operators.text import tokens

    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .filter((F.length("word") > 0) & (~F.col("word").contains(BPE_SEP)))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_train(
    docs: DataFrame, n_merges: int
) -> tuple[list[DataFrame], DataFrame]:
    """The shared training loop: returns (per-step 1-row argmax frames,
    final encoded vocabulary frame (word, sym, cnt)) — ``bpe_train_merges``
    reports the former, ``bpe_encode_stats`` applies the latter."""
    sep2 = BPE_SEP + BPE_SEP
    cur = _word_counts(docs).select(
        "word",
        F.concat(
            F.regexp_replace("word", "(.)", sep2 + "$1"), F.lit(sep2)
        ).alias("sym"),
        "cnt",
    )
    cur.cache()
    steps = []
    for step in range(1, n_merges + 1):
        parts = F.split(F.col("sym"), sep2)
        # parts has "" at BOTH ends (wrapped double separators); the
        # m = size-2 symbols sit at 1-based positions 2..size-1, so the
        # m-1 adjacent pairs come from two shifted slices (empty-safe).
        pairs = (
            cur.select(
                "cnt",
                F.explode(
                    F.arrays_zip(
                        F.slice(parts, 2, F.size(parts) - 3).alias("a"),
                        F.slice(parts, 3, F.size(parts) - 3).alias("b"),
                    )
                ).alias("pr"),
            )
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("cnt").alias("pair_cnt"))
        )
        best = pairs.orderBy(
            F.desc("pair_cnt"), F.asc("a"), F.asc("b")
        ).limit(1)
        steps.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                "pair_cnt",
            )
        )
        # Pair-exhaustion guard (r14 advice): the argmax frame is EMPTY
        # once no word has two symbols left, and a cross join against an
        # empty frame annihilates the vocabulary — every document would
        # silently encode to zero rows. A global aggregate always yields
        # exactly one row (NULL pair when exhausted), so the join is
        # structurally 1:1 and the merge degrades to a no-op on NULL.
        guard = best.groupBy().agg(
            F.min("a").alias("_ba"), F.min("b").alias("_bb")
        )
        cur = (
            cur.crossJoin(F.broadcast(guard))
            .select(
                "word",
                F.when(F.col("_ba").isNull(), F.col("sym"))
                .otherwise(
                    F.replace(
                        F.col("sym"),
                        F.concat(
                            F.lit(BPE_SEP),
                            "_ba",
                            F.lit(sep2),
                            "_bb",
                            F.lit(BPE_SEP),
                        ),
                        F.concat(F.lit(BPE_SEP), "_ba", "_bb", F.lit(BPE_SEP)),
                    )
                )
                .alias("sym"),
                "cnt",
            )
            # Materialize each merged vocabulary: every later step (and
            # the argmax already taken) would otherwise re-run the whole
            # chain from the corpus scan per reference.
            .localCheckpoint(eager=False)
        )
    return steps, cur


def bpe_train_merges(docs: DataFrame, n_merges: int = 4) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus.

    Returns (step, left_sym, right_sym, pair_cnt) ordered by step: at
    each step the adjacent symbol pair with the highest frequency-
    weighted count (ties: left then right symbol ascending) is recorded
    and merged in every word. If the corpus runs out of pairs early the
    output simply has fewer than ``n_merges`` rows (both engines).

    Words are the whitespace tokens; initial symbols are single chars.
    The distributed iteration state is the vocabulary-sized
    (word, symbol-string, count) frame, cached once — each step is one
    explode+agg over it plus a 1-row TakeOrdered argmax broadcast back
    into a `replace`. The corpus itself is scanned exactly once.
    """
    steps, _ = _bpe_train(docs, n_merges)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out.orderBy("step")


def bpe_encode_stats(docs: DataFrame, n_merges: int = 4) -> DataFrame:
    """Train-then-APPLY: encode every document with the learned merge
    table and report the per-document compression — (doc_id, n_words,
    n_bpe_tokens), ordered by doc_id. The tokenizer lifecycle's second
    half: ``bpe_train_merges`` is fit, this is transform.

    The encoding work is VOCABULARY-shaped, not corpus-shaped: the
    trained loop's final (word, sym) frame already encodes every
    distinct word, so applying the tokenizer is one corpus explode
    joined against that frame (AQE picks broadcast when the vocabulary
    fits) and a per-doc sum of symbol counts — no per-document merge
    replay. Words excluded from training (empty, separator-bearing)
    drop out of both counts via the inner join, identically in the SQL
    replay."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import tokens

    _, vocab = _bpe_train(docs, n_merges)
    sep2 = BPE_SEP + BPE_SEP
    enc = vocab.select(
        "word",
        (F.size(F.split(F.col("sym"), sep2)) - 2).cast("long").alias("n_sym"),
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    return (
        tok.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


#: chr(31) || chr(31) — the double separator, as a SQL fragment.
_S2 = "chr(31) || chr(31)"

_WORDS0_SQL = f"""
  SELECT word,
         regexp_replace(word, '(.)', {_S2} || '\\1', 'g') || {_S2} AS sym, cnt
  FROM (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ) WHERE length(word) > 0 AND NOT contains(word, chr(31))
    GROUP BY word
  )
"""


def _bpe_ctes(n_merges: int) -> str:
    """The shared unrolled CTE chain ``w0 .. w{n_merges}`` (+ per-step
    ``p{i}``/``b{i}``) both replays build on."""
    out = [f"WITH w0 AS MATERIALIZED ({_WORDS0_SQL})"]
    for i in range(1, n_merges + 1):
        out.append(
            f""",
p{i} AS (
  SELECT pr.a AS a, pr.b AS b, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
  FROM (
    SELECT cnt,
           unnest(list_transform(
             range(2, len(string_split(sym, {_S2})) - 1),
             i -> {{'a': string_split(sym, {_S2})[i],
                    'b': string_split(sym, {_S2})[i + 1]}})) AS pr
    FROM w{i - 1}
  ) GROUP BY 1, 2
),
b{i} AS (SELECT a, b, pair_cnt FROM p{i}
         ORDER BY pair_cnt DESC, a ASC, b ASC LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT word,
         CASE WHEN bb.a IS NULL THEN sym
              ELSE replace(sym, chr(31) || bb.a || {_S2} || bb.b || chr(31),
                                chr(31) || bb.a || bb.b || chr(31)) END AS sym,
         cnt
  FROM w{i - 1}, (SELECT min(a) AS a, min(b) AS b FROM b{i}) bb
)"""
        )
    return "".join(out)


def bpe_train_merges_sql(n_merges: int = 4) -> str:
    """DuckDB replay of :func:`bpe_train_merges`: the fixed merge count
    unrolls into chained CTEs, each re-deriving pairs from the previous
    vocabulary and applying the same literal `replace` merge."""
    union = "\nUNION ALL ".join(
        f"SELECT {i} AS step, a AS left_sym, b AS right_sym, pair_cnt FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return f"{_bpe_ctes(n_merges)}\nSELECT * FROM ({union}) ORDER BY step"


def bpe_encode_stats_sql(n_merges: int = 4) -> str:
    """DuckDB replay of :func:`bpe_encode_stats`: the same training
    chain, then the final vocabulary applied to the corpus tokens."""
    return f"""{_bpe_ctes(n_merges)},
enc AS (
  SELECT word,
         CAST(len(string_split(sym, {_S2})) - 2 AS BIGINT) AS n_sym
  FROM w{n_merges}
),
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
FROM tok JOIN enc USING (word)
GROUP BY doc_id ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# Batch perceptron

#: Hashed feature dimensionality. Bias is dim -1 (constant feature 1).
PERCEPTRON_DIMS = 32


def _features(docs: DataFrame, dims: int) -> DataFrame:
    """Sparse hashed bag-of-words: (doc_id, d, x) with x = count of
    tokens hashing to bucket d (first 8 md5 hex digits mod dims — the
    engine-portable hash the corpus split and CMS use), plus the bias
    row (doc_id, -1, 1) for every document."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import tokens

    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long") % dims
    )
    counts = tok.groupBy("doc_id", bucket.alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    bias = docs.select(
        "doc_id", F.lit(-1).cast("long").alias("d"), F.lit(1).cast("long").alias("x")
    )
    return counts.select("doc_id", "d", F.col("x").cast("long")).unionAll(bias)


def _labels(docs: DataFrame) -> DataFrame:
    """Weak labels for the quality classifier: y = +1 when at least half
    the document's tokens are distinct (the repetition heuristic of
    ``text.repetition_stats``, cross-multiplied so it's integer-exact),
    else -1."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import tokens

    t = tokens("text")
    return docs.select(
        "doc_id",
        F.when(
            2 * F.size(F.array_distinct(t)) >= F.size(t), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )


def _cached_training_frames(
    docs: DataFrame, dims: int
) -> tuple[DataFrame, DataFrame]:
    """The loop-invariant perceptron inputs: (feats, labels), each cached
    PRE-PARTITIONED on doc_id and MATERIALIZED in one job.

    The repartition-before-cache pins the partitioning for the whole run
    (``canChangeCachedPlanOutputPartitioning`` is false by default), so
    every epoch's doc_id group-by and join consume the cache's exchange
    instead of re-shuffling the corpus-derived frame. Materializing
    eagerly — BEFORE any epoch plan compiles — is what makes that
    partitioning KNOWN at compile time; otherwise the adaptive
    cache-build plan reports unknown partitioning and every epoch plan
    bakes in an ENSURE_REQUIREMENTS exchange over the cache (the r16
    residual caveat). One action over a cheap union builds BOTH caches
    inside a single job whose two stage trees run concurrently; two
    sequential count() builds were paired-measured slower in r16.
    """
    feats = _features(docs, dims).repartition("doc_id")
    feats.cache()
    labels = _labels(docs).repartition("doc_id")
    labels.cache()
    feats.select("doc_id").unionAll(labels.select("doc_id")).count()
    return feats, labels


def _epoch_dots(feats: DataFrame, w: DataFrame) -> DataFrame:
    """Per-doc dot products for one epoch: one broadcast join of the
    sparse feature frame against the (dims+1)-row weight vector, one
    per-doc sum consuming the cache's doc_id partitioning."""
    return (
        feats.join(F.broadcast(w), "d")
        .groupBy("doc_id")
        .agg(F.sum(F.col("x") * F.col("w")).alias("dot"))
    )


def _epoch_update(feats: DataFrame, labels: DataFrame, w: DataFrame) -> DataFrame:
    """One epoch's weight delta: ``sum_{misclassified} y * x`` per dim.

    Both doc_id joins are pinned SHUFFLE_HASH, never broadcast: the
    misclassified frame is UNBOUNDED (with zero-initialized weights
    epoch 1 misclassifies every document, so ``mis`` is the whole
    corpus's (doc_id, y) rows — a broadcast would collect the corpus to
    the driver and die on the 8 GiB broadcast cap at scale; r17 advice).
    Because feats, labels, and therefore dots/mis are all partitioned on
    doc_id by the shared cache exchange, the SHJs build their bounded
    per-partition hash tables with NO new exchange and NO sort of the
    feature frame — the only per-epoch shuffle is the dims-sized update
    aggregate.
    """
    dots = _epoch_dots(feats, w)
    mis = (
        labels.join(dots.hint("shuffle_hash"), "doc_id")
        .filter(F.col("y") * F.col("dot") <= 0)
        .select("doc_id", "y")
    )
    return (
        feats.join(mis.hint("shuffle_hash"), "doc_id")
        .groupBy("d")
        .agg(F.sum(F.col("y") * F.col("x")).alias("delta"))
    )


def perceptron_train(
    docs: DataFrame, dims: int = PERCEPTRON_DIMS, epochs: int = 3
) -> DataFrame:
    """Train a batch perceptron for ``epochs`` epochs; return the weight
    trajectory (epoch, d, w) for every epoch, ordered — dim -1 is the
    bias. Integer-exact: features and labels are integers, the epoch
    update ``w += sum_{misclassified} y * x`` is an order-free bigint
    sum, and the margin test ``y * (w . x) <= 0`` is pure integer
    arithmetic, so the trained weights value-hash against the unrolled
    SQL replay at any parallelism.

    Distributed shape: the corpus-scan-derived feature and label frames
    are cached doc_id-partitioned and materialized once
    (:func:`_cached_training_frames`); each epoch is then one broadcast
    of the (dims+1)-row weight vector, two exchange-free shuffled-hash
    joins on the cached partitioning, and a dims-sized update aggregate
    (:func:`_epoch_update`) — no corpus-sized shuffle or broadcast
    anywhere in the loop. The trajectory is materialized before
    returning and both caches are released.
    """
    feats, labels = _cached_training_frames(docs, dims)
    try:
        spark = docs.sparkSession
        w = spark.range(-1, dims).select(
            F.col("id").alias("d"), F.lit(0).cast("long").alias("w")
        )
        trajectory = []
        for epoch in range(1, epochs + 1):
            upd = _epoch_update(feats, labels, w)
            w = (
                w.join(upd, "d", "left")
                .select(
                    "d",
                    (F.col("w") + F.coalesce(F.col("delta"), F.lit(0))).alias("w"),
                )
                .localCheckpoint(eager=False)
            )
            trajectory.append(
                w.select(F.lit(epoch).alias("epoch"), "d", "w")
            )
        out = trajectory[0]
        for t in trajectory[1:]:
            out = out.unionAll(t)
        # the (epochs x dims)-row trajectory is materialized here so the
        # training caches can be released before returning
        out = out.localCheckpoint()
    finally:
        feats.unpersist()
        labels.unpersist()
    return out.orderBy("epoch", "d")


def perceptron_train_sql(
    dims: int = PERCEPTRON_DIMS, epochs: int = 3
) -> str:
    """DuckDB replay of :func:`perceptron_train` as chained CTEs."""
    out = [
        f"""
WITH feats AS MATERIALIZED (
  SELECT doc_id, d, CAST(x AS BIGINT) AS x FROM (
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(term), 1, 8)) AS UBIGINT)
                % {dims} AS BIGINT) AS d,
           COUNT(*) AS x
    FROM (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ) GROUP BY 1, 2
    UNION ALL
    SELECT doc_id, -1 AS d, 1 AS x FROM documents
  )
),
labels AS MATERIALIZED (
  SELECT doc_id,
         CAST(CASE WHEN 2 * len(list_distinct(
                  string_split_regex(trim(text), '\\s+')))
              >= len(string_split_regex(trim(text), '\\s+'))
              THEN 1 ELSE -1 END AS BIGINT) AS y
  FROM documents
),
w0 AS (SELECT CAST(d AS BIGINT) AS d, CAST(0 AS BIGINT) AS w
       FROM range(-1, {dims}) t(d))"""
    ]
    for e in range(1, epochs + 1):
        out.append(
            f""",
dots{e} AS (
  SELECT f.doc_id, CAST(SUM(f.x * w.w) AS BIGINT) AS dot
  FROM feats f JOIN w{e - 1} w USING (d) GROUP BY f.doc_id
),
mis{e} AS (
  SELECT l.doc_id, l.y FROM labels l JOIN dots{e} USING (doc_id)
  WHERE l.y * dot <= 0
),
upd{e} AS (
  SELECT f.d, CAST(SUM(m.y * f.x) AS BIGINT) AS delta
  FROM mis{e} m JOIN feats f USING (doc_id) GROUP BY f.d
),
w{e} AS (
  SELECT w.d, CAST(w.w + COALESCE(u.delta, 0) AS BIGINT) AS w
  FROM w{e - 1} w LEFT JOIN upd{e} u USING (d)
)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT {e} AS epoch, d, w FROM w{e}" for e in range(1, epochs + 1)
    )
    out.append(f"\nSELECT * FROM ({union}) ORDER BY epoch, d")
    return "".join(out)
