"""Similarity search over embedding columns (array<float>).

Two paths:

- **Brute-force cosine top-k** — the exact baseline. Native higher-order
  functions (zip_with + aggregate = a strict left-fold dot product, no
  Python), broadcast of the query vectors, windowed rank per query. At
  100 TB this is one scan of the corpus per query batch — the right
  answer when the query set is small.
- **SRP-LSH (signed random projections)** — the scale path: 48-bit
  hyperplane signatures, band into 12 x 4-bit buckets, candidates from
  bucket collisions, exact cosine re-rank of candidates only. RECALL is
  probabilistic (verified empirically in tests), but the OUTPUT is
  deterministic: planes are md5-derived integers and projections run
  over ``floor(e * 1e6)`` quantized coordinates, so signatures and the
  candidate set are exact bigint arithmetic both engines replay
  bit-for-bit (``srp_topk_sql``).

Determinism: cosines are compared/ranked on a quantized key
``qcos = floor(cos * 1e6)`` (bigint). Fold-order differences between
engines perturb the raw double by ~1e-14, which cannot move a 1e-6
bucket except within ~1e-8 of a boundary — and ranking ties on qcos are
broken by vec_id, so the output is stable and hash-comparable.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
    batch_id_col,
    index_component_path,
    next_version,
    publish_version,
    reset_versions,
)


class SeedReplayError(ValueError):
    """The iters=0 seed quantizer/codebook is the SQL-replayable form
    and must seed from the FULL given frame; above max_sample vectors
    it refuses (the oracle has no twin for the xxhash64 sampling
    predicate) and steers callers to either the iters>0 Lloyd's scale
    path or — what every registered query does since r14 — a bounded
    content-addressed PANEL as the seed frame (then the full-corpus
    assign/encode side needs no guard at all). Raised only on direct
    API misuse now; same designed-guard pattern as
    multimodal.FamilySizeError."""


def _dot(a: Column, b: Column) -> Column:
    """Strict sequential left-fold dot product in double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def qcos(a: Column, b: Column, scale: float = 1e6) -> Column:
    """Quantized cosine (bigint) — the hash-stable comparison key."""
    return F.floor(cosine(a, b) * F.lit(scale)).cast("long")


#: DuckDB twin of qcos over two DOUBLE[]-cast list columns.
def qcos_sql(a: str, b: str) -> str:
    return (
        f"CAST(FLOOR(list_cosine_similarity(CAST({a} AS DOUBLE[]), "
        f"CAST({b} AS DOUBLE[])) * 1000000.0) AS BIGINT)"
    )


def cosine_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k neighbors (by quantized cosine, excluding self) for
    each query vector. Output: (query_id, neighbor_id, rnk, qcos).

    Plan shape: broadcast the (tiny) query set against the corpus scan —
    no shuffle until the per-query top-k, which TakeOrderedAndProject /
    window-rank handles with partial ordering per partition.
    """
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        qcos(F.col("qvec"), F.col("embedding")).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "qcos")
        .orderBy("query_id", "rnk")
    )


def cosine_topk_sql(query_ids: list[int], k: int = 10) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id IN ({ids})
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {qcos_sql('q.qvec', 'e.embedding')} AS qcos
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rnk, qcos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY qcos DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {k} ORDER BY query_id, rnk
"""


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All pairs (a < b) with quantized cosine >= threshold — the
    embedding-space near-dup detector. Brute-force self-join (exact);
    srp_topk's banding is the scale path for the same predicate."""
    qthr = int(threshold * 1e6)
    a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", qcos(F.col("ea"), F.col("eb")).alias("qcos"))
        .filter(F.col("qcos") >= qthr)
        .orderBy("va", "vb")
    )


def embedding_near_dup_sql(
    threshold: float = 0.95, source: str = "embeddings"
) -> str:
    qthr = int(threshold * 1e6)
    return f"""
SELECT a.vec_id AS va, b.vec_id AS vb,
       {qcos_sql('a.embedding', 'b.embedding')} AS qcos
FROM {source} a JOIN {source} b ON a.vec_id < b.vec_id
WHERE {qcos_sql('a.embedding', 'b.embedding')} >= {qthr}
ORDER BY va, vb
"""


def cosine_topk_np(emb: DataFrame, query_ids: list[int], k: int = 10) -> DataFrame:
    """Brute-force top-k with a vectorized numpy kernel: each Arrow batch
    computes a (batch x queries) cosine matrix with one matmul and emits
    only its per-query partial top-k; an exact window re-rank merges the
    partials (top-k of unioned partial top-ks == global top-k).

    This is the Arrow-batched path for when per-row JVM expressions
    become the bottleneck (wide vectors, many queries): ~d*n*q fused
    multiply-adds in BLAS instead of interpreted array folds. BLAS
    summation order differs from a sequential fold by ~1e-14; ranking on
    floor(cos*1e6) BIGINT keys (identical to the JVM twin's qcos)
    absorbs that, so the operator shares cosine_topk's value-hash oracle
    and is additionally checked for neighbor-set equality in tests.
    """
    from collections.abc import Iterator

    q_rows = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("qcos", T.LongType()),
        ]
    )

    def _topk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            cos = m @ q_mat.T  # (batch, nq)
            qcos = np.floor(cos * 1e6).astype(np.int64)
            outs = []
            for j, qid in enumerate(q_ids):
                col = qcos[:, j]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                # partial top-k must use the SAME total order as the
                # global merge (qcos desc, neighbor_id asc), or a batch
                # could truncate the wrong side of a tie
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))
                top = cand_idx[order[:k]]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[top],
                            "qcos": col[top],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    partial = emb.select("vec_id", "embedding").mapInPandas(_topk_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "qcos")
        .orderBy("query_id", "rnk")
    )


# ----------------------------------------------------------------------
# IVF (inverted-file) scale path
def train_ivf_centroids(
    emb: DataFrame,
    nlist: int = 16,
    iters: int = 10,
    max_sample: int = 100_000,
) -> np.ndarray:
    """Spherical k-means coarse quantizer, trained driver-side on a
    deterministic sample. Returns unit-norm centroids (nlist, dim).

    Fully content-deterministic — no RNG anywhere: the sample is chosen
    by a content hash (xxhash64(vec_id) mod m == 0, independent of
    partitioning), sorted by vec_id before Lloyd's, and the init picks
    the ``nlist`` vectors with the smallest md5(vec_id) (hex order, the
    same parity trick the corpus split uses) — so the same data always
    yields the same centroids on any cluster layout, and the iteration-0
    quantizer is reproducible in SQL (``md5(CAST(vec_id AS VARCHAR))``
    orders identically in DuckDB). An emptied cluster is reseeded to the
    point farthest from its centroid (also deterministic). At corpus
    scale the sample stays ~max_sample rows: training cost is
    O(sample * nlist * dim) on the driver, one-time.

    ``iters=0`` returns the md5-seeded init itself — the oracle-checkable
    coarse quantizer the cluster-mix report runs on. That replay assumes
    seeds come from ALL vectors (the SQL twin has no xxhash64 to
    reproduce the sampling predicate), so iters=0 REFUSES to sample:
    if n > max_sample it raises rather than silently diverging from
    every oracle that replays the seed quantizer.
    """
    n = emb.count()
    mod = max(1, n // max_sample)
    if iters == 0 and mod > 1:
        raise SeedReplayError(
            f"train_ivf_centroids(iters=0) is the SQL-replayable seed "
            f"quantizer and must seed from the full vector set, but "
            f"n={n} > max_sample={max_sample} would trigger xxhash64 "
            f"sampling the oracle cannot reproduce; raise max_sample or "
            f"use iters>0 (the Lloyd's scale path)"
        )
    sample = emb
    if mod > 1:
        sample = emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0)
    rows = sample.select("vec_id", "embedding").orderBy("vec_id").collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    md5_order = sorted(
        range(len(rows)),
        key=lambda i: (hashlib.md5(str(rows[i].vec_id).encode()).hexdigest(), rows[i].vec_id),
    )
    cents = x[md5_order[:nlist]]
    for _ in range(iters):
        sims = x @ cents.T  # (n, nlist); cosine since both unit-norm
        assign = sims.argmax(axis=1)
        new = np.zeros_like(cents)
        for c in range(nlist):
            members = x[assign == c]
            if len(members) == 0:
                # reseed to the globally worst-served point
                worst = sims.max(axis=1).argmin()
                new[c] = x[worst]
            else:
                m = members.mean(axis=0)
                new[c] = m / np.linalg.norm(m)
        if np.allclose(new, cents, atol=1e-9):
            cents = new
            break
        cents = new
    return cents


def ivf_assign(emb: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(vec_id, embedding, list_id): each vector tagged with its nearest
    centroid (max QUANTIZED cosine — the module's ``floor(cos * 1e6)``
    key — ties to the lowest list id via argmax-first). Quantizing
    before the argmax makes the assignment bit-identical across engines:
    numpy's normalize-then-dot and DuckDB's list_cosine_similarity
    evaluate in different fp orders, and a raw-double argmax can flip a
    near-tie between two centroids per engine. One Arrow-batched map
    over the corpus — no shuffle. At 100 TB, persist this
    partitioned/bucketed by list_id so a probe reads only nprobe/nlist
    of the data (partition pruning on list_id)."""
    from collections.abc import Iterator

    cents = np.asarray(centroids, dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("list_id", T.IntegerType()),
        ]
    )

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            pdf = pdf[["vec_id", "embedding"]].copy()
            qsims = np.floor((m @ cents.T) * 1e6).astype(np.int64)
            pdf["list_id"] = qsims.argmax(axis=1).astype(np.int32)
            yield pdf

    return emb.select("vec_id", "embedding").mapInPandas(_assign, out_schema)


def cluster_balanced_sample(
    emb: DataFrame, centroids: np.ndarray, n_per_cluster: int = 8
) -> DataFrame:
    """Cluster-balanced corpus sample: the ``n_per_cluster`` vectors with
    the smallest md5(vec_id) inside each assignment cluster — the
    selection step a semantically balanced training mix runs after the
    cluster-mix report says which clusters are over/under-represented.

    Content-deterministic (md5 rank, vec_id tiebreak — no RNG, identical
    on any partitioning) and one shuffle: the assignment map is
    shuffle-free, and the per-cluster rank windows on list_id. At corpus
    scale the window's partial top-n per partition (WindowGroupLimit)
    keeps the shuffle input at ~n_per_cluster rows per partition per
    cluster, not the full corpus."""
    assigned = ivf_assign(emb, centroids).select("vec_id", "list_id")
    w = Window.partitionBy("list_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_per_cluster)
        .select("list_id", "rk", "vec_id")
        .orderBy("list_id", "rk")
    )


def semdedup_prune(
    emb: DataFrame, centroids: np.ndarray, threshold: float = 0.3
) -> DataFrame:
    """SemDeDup-style semantic dedup report (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the coarse quantizer,
    then inside each cluster prune every vector that has a
    higher-ranked neighbor above the cosine threshold. Output one row
    per cluster: (list_id, n_vectors, n_pruned, n_kept).

    Semantics pinned for cross-engine replay:

    - clustering = ``ivf_assign`` over the given centroids (iteration-0
      md5-seeded centroids make the whole pipeline SQL-replayable);
    - similarity = the module's quantized cosine ``qcos`` (bigint);
    - keep rule = a vector is PRUNED iff some same-cluster vector with
      a smaller (md5(vec_id), vec_id) rank is within the threshold —
      i.e. the canonical member of every similarity neighborhood
      survives. Deterministic on any partitioning; no RNG, no
      transitive closure (one semi-join, not an iterative CC).

    Scale shape — the published algorithm's own answer to the
    quadratic: the pairwise comparison runs ONLY within a cluster, so
    cost is sum(|cluster|^2), bounded by scaling nlist with the corpus
    (SemDeDup uses 50k clusters for LAION-scale data; the equi-join on
    list_id below shuffles each cluster to one task, so clusters are
    the unit of parallelism). The assignment map appears on both join
    sides and in the report — three evaluations of a deterministic,
    shuffle-free Arrow map, which is the right local-mode trade; at
    100 TB persist ``ivf_assign`` partitioned by list_id once (exactly
    what ``build_ivf_index`` does) and run the prune over the
    persisted table. The default threshold 0.3 is tuned to the
    synthetic testdata (random embeddings, no planted near-dups —
    max pairwise cosine ~0.51); real text embeddings sit much closer
    to 1.0 and use ~0.95+.
    """
    qthr = int(threshold * 1e6)
    assigned = ivf_assign(emb, centroids)
    rk = F.md5(F.col("vec_id").cast("string"))
    av = assigned.select("vec_id", "list_id", "embedding", rk.alias("rk"))
    a = av.select(
        F.col("list_id"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("rk").alias("a_rk"),
    )
    b = av.select(
        F.col("list_id"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("rk").alias("b_rk"),
    )
    earlier = (F.col("a_rk") < F.col("b_rk")) | (
        (F.col("a_rk") == F.col("b_rk")) & (F.col("a_id") < F.col("b_id"))
    )
    pruned = (
        b.join(
            a,
            on=["list_id"],
            how="inner",
        )
        .filter(earlier & (qcos(F.col("a_emb"), F.col("b_emb")) >= F.lit(qthr)))
        .select("list_id", F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        av.select("list_id", "vec_id")
        .join(pruned.withColumn("p", F.lit(1)), ["list_id", "vec_id"], "left")
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.coalesce(F.sum("p"), F.lit(0)).cast("long").alias("n_pruned"),
        )
        .withColumn("n_kept", (F.col("n_vectors") - F.col("n_pruned")).cast("long"))
        .orderBy("list_id")
    )


def semdedup_survivors(
    emb: DataFrame, centroids: np.ndarray, threshold: float = 0.3
) -> DataFrame:
    """Survivor-id frame of :func:`semdedup_prune`'s keep rule —
    (vec_id, list_id, rk) for every vector with NO higher-ranked
    same-cluster neighbor above the cosine threshold. Same pinned
    semantics (md5 rank, quantized cosine, cluster-bounded pairwise
    join) so the prune REPORT's n_kept equals this frame's per-cluster
    counts; the id frame is what downstream funnel stages (balanced
    sampling, index build) consume."""
    qthr = int(threshold * 1e6)
    assigned = ivf_assign(emb, centroids)
    rk = F.md5(F.col("vec_id").cast("string"))
    av = assigned.select("vec_id", "list_id", "embedding", rk.alias("rk"))
    a = av.select(
        F.col("list_id"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("rk").alias("a_rk"),
    )
    b = av.select(
        F.col("list_id"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("rk").alias("b_rk"),
    )
    earlier = (F.col("a_rk") < F.col("b_rk")) | (
        (F.col("a_rk") == F.col("b_rk")) & (F.col("a_id") < F.col("b_id"))
    )
    pruned = (
        b.join(a, on=["list_id"], how="inner")
        .filter(earlier & (qcos(F.col("a_emb"), F.col("b_emb")) >= F.lit(qthr)))
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return av.join(pruned, "vec_id", "left_anti").select("vec_id", "list_id", "rk")


def build_ivf_index(
    emb: DataFrame,
    index_dir: str,
    nlist: int = 16,
    iters: int = 10,
    seed_emb: DataFrame | None = None,
) -> np.ndarray:
    """Offline IVF index build: train the coarse quantizer once, tag the
    corpus with ``ivf_assign``, and persist the inverted lists as parquet
    **partitioned by list_id** plus the centroids as a tiny parquet.

    This is the scale contract the one-shot ``ivf_topk`` can't give: at
    100 TB the corpus is assigned and written ONCE (one Arrow-batched
    map + one partitioned write, no shuffle), and every subsequent probe
    reads only ~nprobe/nlist of the data via partition pruning on
    ``list_id`` (verified against ``inputFiles()`` in tests).

    ``iters=0`` builds on the md5-seeded iteration-0 quantizer, whose
    whole probe lifecycle is SQL-replayable (see queries_llm's
    ``ann_ivf_probe_exact``); the default Lloyd's-refined quantizer
    trades that replayability for tighter lists.

    A full build SUPERSEDES any versioned history at this path: the
    CURRENT pointer and versions/ are removed first, else the fresh
    flat layout would be shadowed by a stale versioned snapshot. The
    flat tombstone component is removed too (r15 advice): retractions
    were aimed at the superseded corpus, and a later retraction whose
    content-derived batch id collides with a stale tombstone batch's
    must not resurrect rows that kill vectors live in the rebuilt
    index."""
    import os
    import shutil

    reset_versions(index_dir)
    shutil.rmtree(os.path.join(index_dir, "tombstones"), ignore_errors=True)
    return _write_ivf_snapshot(emb, index_dir, nlist, iters, seed_emb)


#: Committed-id sets small enough to push as a plan-time ``isin``
#: literal instead of a broadcast semi-join. Batch counts are
#: control-plane sized (one id per ingest batch), so even heavy
#: streaming stays in the hundreds between compactions.
_BATCH_ISIN_CAP = 128


def _reconciled_lists(spark, index_dir: str, list_ids=None) -> DataFrame:
    """The one true inverted-list read: optional list pruning pushed
    BEFORE the scan, then — when the index carries the stamped layout
    (a ``vecbatches`` commit-record component) — committed batches
    only, replay dedup, committed tombstones dropped, batch stamp
    removed. Unstamped legacy layouts (lists written directly by
    ``ivf_assign``) pass through untouched, so every pre-r15 index
    keeps probing identically.

    The probe hot path stays shuffle-free in the common cases (the r15
    paired A/B caught the naive semi-join + full-row dedup adding
    ~60% to ann_ivf_probe): committed ids are control-plane sized, so
    they are collected once and pushed as a PLAN-TIME ``isin`` filter
    (parquet-scannable) when few; and the replay dedup — only
    REPLAYED batches can duplicate a (vec_id, batch_id) — is skipped
    ONLY for a single-batch index whose one ingest batch is an
    OVERWRITE build (``origin`` provenance on the vecbatches row, r15
    advice: an append-created single-batch index — a streamed first
    micro-batch, torn and replayed — carries duplicates under one
    committed id and must still dedup; an overwrite build replaces the
    directory, nothing to replay against). Multi-batch indexes dedup
    on the precise (vec_id, batch_id) key rather than whole rows,
    sparing the embedding-array comparisons."""
    import os

    df = spark.read.parquet(index_component_path(index_dir, "lists"))
    if list_ids is not None:
        df = df.filter(F.col("list_id").isin(list_ids))
    vb = index_component_path(index_dir, "vecbatches")
    if not os.path.isdir(vb):
        return df
    vbdf = spark.read.parquet(vb)
    has_origin = "origin" in vbdf.columns
    vb_rows = vbdf.select(
        "batch_id", *(["origin"] if has_origin else [])
    ).collect()  # one row per batch — control-plane sized
    committed_ids = sorted({r["batch_id"] for r in vb_rows})
    ingest = {
        r["batch_id"]: (r["origin"] if has_origin else None)
        for r in vb_rows
        if not has_origin or r["origin"] != "retract"
    }
    single_build = len(ingest) == 1 and set(ingest.values()) == {"build"}
    tomb = index_component_path(index_dir, "tombstones")
    # lists carry only ingest-batch stamps; retraction ids exist solely
    # as commit records, so the literal filter is exact either way
    if len(committed_ids) <= _BATCH_ISIN_CAP:
        df = df.filter(F.col("batch_id").isin(committed_ids))
    else:
        committed = (
            spark.read.parquet(vb)
            .select("batch_id")
            .dropDuplicates(["batch_id"])
        )
        df = df.join(F.broadcast(committed), "batch_id", "leftsemi")
    if not single_build:
        df = df.dropDuplicates(["vec_id", "batch_id"])
    df = df.drop("batch_id")
    if os.path.isdir(tomb):
        # committed retraction batches only (same tear invariant);
        # not a forced broadcast on the corpus side — retraction sets
        # grow unboundedly at crawl scale, AQE promotes while small
        committed_df = spark.createDataFrame(
            [(b,) for b in committed_ids], "batch_id string"
        )
        dead = (
            spark.read.parquet(tomb)
            .join(F.broadcast(committed_df), "batch_id", "leftsemi")
            .select("vec_id")
            .distinct()
        )
        df = df.join(dead, "vec_id", "anti")
    return df


def _write_ivf_snapshot(
    emb: DataFrame, root: str, nlist: int, iters: int,
    seed_emb: DataFrame | None = None,
) -> np.ndarray:
    # seed_emb (r13 verdict task 2): train the quantizer from a bounded
    # deterministic seed frame (the content-addressed panel) while
    # assigning the FULL corpus — the iters=0 configuration that needs
    # no SeedReplayError guard at any corpus size.
    cents = train_ivf_centroids(
        emb if seed_emb is None else seed_emb, nlist=nlist, iters=iters
    )
    assigned = ivf_assign(emb, cents)
    spark = emb.sparkSession
    # r15: every write is batch-stamped with a vecbatches commit record
    # (the text tiers' invariant) so streamed appends get exactly-once
    # reads; centroids land LAST — they carry the ensure gates.
    bid = emb.agg(batch_id_col("vec_id", "ivf")).collect()[0]["batch_id"]
    assigned.withColumn("batch_id", F.lit(bid)).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(f"{root}/lists")
    spark.createDataFrame(
        [(bid, "build")], "batch_id string, origin string"
    ).write.mode("overwrite").parquet(f"{root}/vecbatches")
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        schema="list_id int, centroid array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")
    return cents


def rebuild_ivf_index(
    emb: DataFrame,
    index_dir: str,
    nlist: int = 16,
    iters: int = 10,
    seed_emb: DataFrame | None = None,
) -> np.ndarray:
    """Periodic retrain + republish — the rebuild cadence that bounds
    the frozen-quantizer drift ``append_ivf_vectors`` documents, made
    SAFE UNDER CONCURRENT PROBES: the fresh snapshot (retrained
    centroids + fully re-assigned lists) is written and published as a
    new version by the CURRENT-pointer swap
    (``operators.index_store``'s publish contract: a probe that resolved
    the old version keeps reading it, a crash leaves CURRENT on intact
    data). ``build_ivf_index`` remains the initial flat-layout build;
    in-place overwrite rebuilds are exactly the delete-then-write window
    this exists to remove."""
    new_root = next_version(index_dir)
    cents = _write_ivf_snapshot(emb, new_root, nlist, iters, seed_emb)
    publish_version(
        index_dir,
        new_root,
        flat=("lists", "centroids", "vecbatches", "tombstones"),
    )
    return cents


def append_ivf_vectors(
    spark,
    index_dir: str,
    new_emb: DataFrame,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Incremental IVF maintenance: assign ONLY the new vectors with
    the index's FROZEN centroids and append them to the partitioned
    inverted lists — no retrain, no corpus re-scan (the vector twin of
    ``probe_minhash_index``'s increment-signing contract). Probes see
    appended vectors immediately and an appended index is
    value-identical to one built over the union corpus with the same
    centroids, because assignment is a pure function of
    (vector, centroids) — pytest-asserted. At scale this is how a
    streaming embedding feed maintains the index: per batch, one
    Arrow-batched assign + one partitioned parquet append into only
    the touched list partitions.

    Documented limit: the frozen quantizer drifts as the corpus
    distribution moves — lists imbalance and recall/probe degrades.
    Rebuild cadence is corpus policy (the IVF analog of LSH index
    compaction); this operator is the between-rebuilds path, and
    :func:`rebuild_ivf_index` is the rebuild itself — retrain +
    republish under the CURRENT-pointer commit, safe under
    concurrent probes."""
    cents = (
        centroids if centroids is not None else load_ivf_centroids(spark, index_dir)
    )
    assigned = ivf_assign(new_emb, cents)
    # stamped append + commit record, lists FIRST (r15, the text tiers'
    # tear invariant): a crash before the vecbatches row leaves an
    # uncommitted batch probes never see; the replay re-appends
    # byte-identical rows under the same content-derived id and probes
    # collapse them by full-row dedup — exactly-once without writer
    # coordination (what stream_ivf_index_ingest composes on).
    bid = new_emb.agg(batch_id_col("vec_id", "ivf")).collect()[0]["batch_id"]
    assigned.withColumn("batch_id", F.lit(bid)).write.mode(
        "append"
    ).partitionBy("list_id").parquet(index_component_path(index_dir, "lists"))
    spark.createDataFrame(
        [(bid, "append")], "batch_id string, origin string"
    ).write.mode("append").parquet(index_component_path(index_dir, "vecbatches"))
    return cents


def ivf_list_stats(spark, index_dir: str) -> DataFrame:
    """Per-list occupancy report — the maintenance instrument for the
    frozen-quantizer drift :func:`append_ivf_vectors` documents (r14
    verdict task 4): (list_id, n_vecs, skew_pm) for every centroid,
    where ``skew_pm = n_vecs * nlist * 1000 DIV total`` is the list's
    size as per-mille of the balanced mean (1000 = perfectly balanced;
    empty lists report 0 via the centroid left join, they don't
    disappear). Pure integer arithmetic over one aggregation of the
    lists' (list_id) column — column-pruned, so at 100 TB the scan
    reads only the partition column and row counts, no vectors — and
    fully SQL-replayable for the iters=0 quantizer. A maintenance
    policy triggers :func:`rebalance_ivf_index` when max(skew_pm)
    crosses its threshold."""
    lists = _reconciled_lists(spark, index_dir)
    cents = spark.read.parquet(
        index_component_path(index_dir, "centroids")
    ).select("list_id")
    nlist = cents.count()
    per = lists.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_vecs"))
    total = lists.count()
    return (
        cents.join(per, "list_id", "left")
        .fillna(0, subset=["n_vecs"])
        .select(
            "list_id",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.expr(
                f"CAST(n_vecs * {nlist} * 1000 DIV {max(total, 1)} AS BIGINT)"
            ).alias("skew_pm"),
        )
        .orderBy("list_id")
    )


def rebalance_ivf_index(
    spark,
    index_dir: str,
    nlist: int = 16,
    iters: int = 0,
    seed_emb: DataFrame | None = None,
) -> np.ndarray:
    """Restore list balance after skew-heavy appends (r14 verdict task
    4): re-train the coarse quantizer over the index's OWN stored
    vectors (one read of the lists — no external corpus scan; pass
    ``seed_emb`` to seed from the bounded content-addressed panel, the
    registered iters=0 configuration) and re-assign, published as a new
    version under the CURRENT pointer (:func:`rebuild_ivf_index`'s
    atomic-swap machinery — concurrent probes keep reading the retained
    previous snapshot). Because assignment is a pure function of
    (vector, centroids), the rebalanced index is BIT-IDENTICAL to a
    monolithic build over the union corpus with the same seeds
    (pytest-pinned), so recall@nprobe recovers to build-time level by
    construction, not statistically."""
    emb = _reconciled_lists(spark, index_dir).select("vec_id", "embedding")
    return rebuild_ivf_index(
        emb, index_dir, nlist=nlist, iters=iters, seed_emb=seed_emb
    )


def retract_ivf_vectors(
    spark, index_dir: str, vec_ids: DataFrame, bid: str | None = None
) -> None:
    """Retract vectors from the IVF index (the delete path the text
    tiers got in r15, vector edition): a tombstone batch (vec_id,
    batch_id) lands first, then one ``vecbatches`` row commits it —
    torn retractions invisible, replays exactly-once via the
    content-derived 'retractivf'-prefixed id. Probes, the skew report
    and rebalance all read through :func:`_reconciled_lists`, which
    anti-joins committed tombstones, so a retracted vector disappears
    from every surface immediately; :func:`rebalance_ivf_index` is the
    compaction — its versioned republish rewrites the lists from the
    reconciled read, physically dropping tombstoned rows (the new
    snapshot carries no tombstone component). Only on the STAMPED
    layout (vecbatches present): an unstamped legacy index has no
    commit surface to make retraction crash-safe, so this raises
    rather than leaving a silently half-applied delete. ``bid`` is the
    batch's 'retractivf' id when the caller already computed it."""
    import os

    vb = index_component_path(index_dir, "vecbatches")
    if not os.path.isdir(vb):
        raise ValueError(
            f"{index_dir} has no vecbatches commit records (pre-r15 "
            "unstamped layout) — rebuild_ivf_index it first; tombstones "
            "need a commit surface to be crash-safe"
        )
    ids = vec_ids.select(
        F.col(vec_ids.columns[0]).cast("long").alias("vec_id")
    ).distinct()
    if bid is None:
        bid = ids.agg(batch_id_col("vec_id", "retractivf")).collect()[0][
            "batch_id"
        ]
    ids.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(
        index_component_path(index_dir, "tombstones")
    )
    spark.createDataFrame(
        [(bid, "retract")], "batch_id string, origin string"
    ).write.mode("append").parquet(vb)


def load_ivf_centroids(spark, index_dir: str) -> np.ndarray:
    rows = (
        spark.read.parquet(index_component_path(index_dir, "centroids"))
        .orderBy("list_id")
        .collect()
    )
    return np.array([r.centroid for r in rows], dtype=np.float64)


def probe_ivf(
    spark,
    index_dir: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Probe a persisted IVF index: per query pick the nprobe nearest
    centroids (driver-side, centroids are tiny), then scan ONLY those
    inverted-list partitions (``list_id`` is a partition column, so the
    ``isin`` filter prunes at the file listing — no data read outside
    the probed lists) and exact-qcos re-rank the candidates.

    Output: (query_id, neighbor_id, rnk, qcos) — same contract as
    cosine_topk, approximate recall (measured in tests). Pass
    ``centroids`` to skip re-reading them (callers probing repeatedly
    should hold them driver-side — they are nlist x dim floats)."""
    cents = centroids if centroids is not None else load_ivf_centroids(spark, index_dir)
    probe_rows = []
    for qid, vec in queries:
        qv = np.array(vec, dtype=np.float64)
        # Probe selection on the module's quantized key with a stable
        # sort (ties -> lowest list_id), same reasoning as ivf_assign:
        # raw-double argsort could pick a different near-tied list per
        # engine, and the iters=0 oracle replays this exact selection.
        qsims = np.floor(((qv / np.linalg.norm(qv)) @ cents.T) * 1e6).astype(np.int64)
        for lid in np.argsort(-qsims, kind="stable")[:nprobe]:
            probe_rows.append((qid, [float(v) for v in vec], int(lid)))
    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("qvec", T.ArrayType(T.FloatType())),
            T.StructField("list_id", T.IntegerType()),
        ]
    )
    probes = spark.createDataFrame(probe_rows, probe_schema)
    probe_lists = sorted({r[2] for r in probe_rows})

    lists = _reconciled_lists(spark, index_dir, probe_lists)
    cand = lists.join(F.broadcast(probes), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        qcos(F.col("qvec"), F.col("embedding")).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "qcos")
        .orderBy("query_id", "rnk")
    )


def probe_ivf_exact_within_lists(
    spark,
    index_dir: str,
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Independent exact top-k WITHIN the probed lists — the
    verification half of ``ann_ivf_probe``'s contract oracle. Same
    probe-list selection as ``probe_ivf`` (that selection IS the
    approximation boundary and is covered by recall pytests), but the
    candidate VECTORS are re-joined from the raw ``emb`` source table
    instead of trusting the index's embedding copies: the index
    contributes only candidate membership (list_id, vec_id — a pruned
    2-column ReadSchema). A stale or corrupt index copy, a dropped
    candidate, or a re-rank bug in probe_ivf therefore diverges from
    this frame. Deterministic tie-break (qcos desc, neighbor_id asc)
    matches probe_ivf so positional equality is exact."""
    cents = centroids if centroids is not None else load_ivf_centroids(spark, index_dir)
    probe_rows = []
    for qid, vec in queries:
        qv = np.array(vec, dtype=np.float64)
        qsims = np.floor(((qv / np.linalg.norm(qv)) @ cents.T) * 1e6).astype(np.int64)
        for lid in np.argsort(-qsims, kind="stable")[:nprobe]:
            probe_rows.append((qid, [float(v) for v in vec], int(lid)))
    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("qvec", T.ArrayType(T.FloatType())),
            T.StructField("list_id", T.IntegerType()),
        ]
    )
    probes = spark.createDataFrame(probe_rows, probe_schema)
    probe_lists = sorted({r[2] for r in probe_rows})

    members = _reconciled_lists(spark, index_dir, probe_lists).select(
        "list_id", "vec_id"
    )
    cand = members.join(F.broadcast(probes), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.join(
        emb.select(F.col("vec_id"), F.col("embedding").alias("src_embedding")),
        "vec_id",
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        qcos(F.col("qvec"), F.col("src_embedding")).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "qcos")
        .orderBy("query_id", "rnk")
    )


def ivf_residual_frame(
    spark, lists: DataFrame, centroids: np.ndarray
) -> DataFrame:
    """(vec_id, list_id, embedding=residual): each stored vector minus
    its list's centroid — the input to residual PQ encoding (IVFADC on
    residuals, the FAISS ``IndexIVFPQ`` default). When the coarse
    quantizer explains variance — clustered corpora, trained
    centroids — residuals concentrate around the origin, the codebook
    budget covers only the within-cluster spread, and reconstruction
    error drops (law of total variance; pytest pins the gain on a
    clustered fixture with trained books). On near-orthogonal corpora
    the centroid explains nothing and the gain disappears — the pin's
    honest caveat, same spirit as the PQ worst-case recall notes.
    ``lists`` must
    carry (vec_id, list_id, embedding); the subtraction is an exact
    float64 op on both engines (float32 embeddings widen losslessly,
    centroids are already float64 panel vectors), so the residual
    replay stays bit-deterministic. Broadcast join on list_id + one
    ``zip_with`` — no shuffle, no Python row path."""
    cents = np.asarray(centroids, dtype=np.float64)
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "list_id int, cent array<double>",
    )
    return lists.join(F.broadcast(cents_df), "list_id").select(
        "vec_id",
        "list_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("cent"),
            lambda x, y: x - y,
        ).alias("embedding"),
    )


def build_ivfpq_codes(
    spark, index_dir: str, codebooks: np.ndarray, residual: bool = False
) -> None:
    """Add the IVFADC layout to a persisted IVF index (r15 verdict task
    2 — the canonical billion-vector shape, Jégou et al. TPAMI 2011):
    PQ-encode the index's OWN stored vectors, keeping their list
    assignment, and persist the codes parquet PARTITIONED BY list_id
    beside the inverted lists (``pqcodes``), plus the codebooks
    themselves (``pqbooks``). A probe then reads CODES ONLY from the
    probed list partitions — m ints + qerr per vector instead of the
    float array, the ~512x byte reduction that makes 100 TB of vectors
    probe-able — and re-ranks a bounded shortlist from the source
    table (:func:`probe_ivfpq`).

    Derived-cache contract (the champion tier's): codes are a pure
    function of (stored vectors, codebooks), rebuilt at index publish
    cadence — after ``build_ivf_index`` / ``rebuild_ivf_index`` /
    ``rebalance_ivf_index``, or after appends when the serving path is
    ADC (one Arrow-batched encode pass over the lists, no shuffle).
    Reads go through :func:`_reconciled_lists`, so uncommitted batches,
    replay duplicates and committed tombstones never reach the codes;
    probes additionally re-apply LIVE tombstones at read time, so a
    retraction AFTER the codes build disappears immediately (same
    semantics as the lists probe).

    ``residual=True`` selects the FAISS-default IVFADC variant: codes
    are trained on and encode RESIDUALS (vector minus its list's
    centroid, :func:`ivf_residual_frame`) and land in the parallel
    ``pqrescodes``/``pqresbooks`` components, so both layouts coexist
    on one index. Pass residual-trained ``codebooks`` with it — the
    caller seeds them from panel residuals the same way the plain
    books seed from panel vectors."""
    books = np.asarray(codebooks, dtype=np.float64)
    lists = _reconciled_lists(spark, index_dir).select(
        "vec_id", "list_id", "embedding"
    )
    if residual:
        lists = ivf_residual_frame(
            spark, lists, load_ivf_centroids(spark, index_dir)
        )
    codes_comp = "pqrescodes" if residual else "pqcodes"
    books_comp = "pqresbooks" if residual else "pqbooks"
    enc = pq_encode(lists, books, passthrough=("list_id",))
    enc.write.mode("overwrite").partitionBy("list_id").parquet(
        index_component_path(index_dir, codes_comp)
    )
    m, codes, dsub = books.shape
    rows = [
        (s, c, [float(x) for x in books[s, c]])
        for s in range(m)
        for c in range(codes)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, c array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        index_component_path(index_dir, books_comp)
    )


def load_pq_codebooks(
    spark, index_dir: str, comp: str = "pqbooks"
) -> np.ndarray:
    rows = (
        spark.read.parquet(index_component_path(index_dir, comp))
        .orderBy("subspace", "code")
        .collect()
    )
    m = max(r["subspace"] for r in rows) + 1
    codes = max(r["code"] for r in rows) + 1
    return np.array([r["c"] for r in rows], dtype=np.float64).reshape(
        m, codes, -1
    )


def probe_ivfpq(
    spark,
    index_dir: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    rerank_emb: DataFrame | None = None,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVFADC probe (r15 verdict task 2): per query pick the nprobe
    nearest centroids driver-side (``probe_ivf``'s quantized stable
    selection), scan ONLY those lists' partitions of the CODES
    component — integer table lookups on (code_0..code_{m-1}), never a
    float array — shortlist the ADC top-``shortlist`` per query, then
    (when ``rerank_emb`` is given) exact-qcos re-rank just the
    shortlist against the SOURCE table. Raw embeddings are read for at
    most ``shortlist`` rows per query; everything else in the probe
    path is partition-pruned integer code data (plan-asserted in
    PLANS.md/pytest).

    Output matches ``probe_ivf``: (query_id, neighbor_id, rnk, qcos)
    re-ranked, or (query_id, neighbor_id, rnk, qdist) ADC-ranked when
    ``rerank_emb`` is None. With panel-seeded iters=0 quantizers both
    stages are deterministic integer arithmetic, so the whole pipeline
    SQL-replays (``ann_ivfpq_topk``); recall vs the exact scan is the
    pytest contract, and with nprobe=nlist + an uncapped shortlist the
    re-ranked result EQUALS the exact top-k (pinned).

    ``residual=True`` probes the ``pqrescodes`` layout (codes over
    vector-minus-centroid residuals, the FAISS default): the lookup
    tables become per-(query, probed list) — the query residual
    q − centroid_l differs per list — so the broadcast LUT relation
    grows from n_queries to n_queries × nprobe rows (still tiny) and
    scoring joins on (query_id, list_id). The ADC estimate then
    approximates ||q − x||² with the coarse term cancelled, which is
    what buys residual PQ its lower quantization error."""
    import os

    cents = (
        centroids if centroids is not None else load_ivf_centroids(spark, index_dir)
    )
    books = (
        np.asarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else load_pq_codebooks(
            spark, index_dir, "pqresbooks" if residual else "pqbooks"
        )
    )
    m, codes, dsub = books.shape
    probe_rows = []
    for qid, vec in queries:
        qv = np.array(vec, dtype=np.float64)
        qsims = np.floor(
            ((qv / np.linalg.norm(qv)) @ cents.T) * 1e6
        ).astype(np.int64)
        for lid in np.argsort(-qsims, kind="stable")[:nprobe]:
            probe_rows.append((qid, int(lid)))
    probes = spark.createDataFrame(
        probe_rows, "query_id long, list_id int"
    )
    probe_lists = sorted({r[1] for r in probe_rows})
    # per-query ADC lookup tables + the query vector, one broadcast
    # relation (pq_topk's plan-size discipline: rows, not literals).
    # Residual layout: one table set per (query, probed list), over
    # the per-list query residual.
    qvec_by_id = {int(qid): [float(v) for v in vec] for qid, vec in queries}

    def _tables(qe: np.ndarray) -> list[list[int]]:
        out = []
        for s in range(m):
            sub = qe[s * dsub : (s + 1) * dsub]
            d2 = ((books[s] - sub[None, :]) ** 2).sum(axis=1)
            out.append([int(x) for x in np.floor(d2 * 1e6).astype(np.int64)])
        return out

    if residual:
        lut_rows = [
            (
                qid,
                lid,
                qvec_by_id[qid],
                _tables(
                    np.asarray(qvec_by_id[qid], dtype=np.float64) - cents[lid]
                ),
            )
            for qid, lid in probe_rows
        ]
        lut = spark.createDataFrame(
            lut_rows,
            "query_id long, list_id int, qvec array<float>,"
            " tables array<array<long>>",
        )
        lut_keys = ["query_id", "list_id"]
    else:
        lut_rows = [
            (qid, vec_f, _tables(np.asarray(vec_f, dtype=np.float64)))
            for qid, vec_f in qvec_by_id.items()
        ]
        lut = spark.createDataFrame(
            lut_rows,
            "query_id long, qvec array<float>, tables array<array<long>>",
        )
        lut_keys = ["query_id"]
    code_cols = [f"code_{s}" for s in range(m)]
    cand = (
        spark.read.parquet(
            index_component_path(
                index_dir, "pqrescodes" if residual else "pqcodes"
            )
        )
        .filter(F.col("list_id").isin(probe_lists))
        .select("vec_id", "list_id", *code_cols)
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    # retractions AFTER the codes build: drop committed tombstones at
    # read time (same live view as _reconciled_lists)
    tomb = index_component_path(index_dir, "tombstones")
    if os.path.isdir(tomb):
        vb = index_component_path(index_dir, "vecbatches")
        committed = (
            spark.read.parquet(vb)
            .select("batch_id")
            .dropDuplicates(["batch_id"])
        )
        dead = (
            spark.read.parquet(tomb)
            .join(F.broadcast(committed), "batch_id", "leftsemi")
            .select("vec_id")
            .distinct()
        )
        cand = cand.join(dead, "vec_id", "anti")
    scored = cand.join(F.broadcast(lut), lut_keys)
    adc = None
    for s in range(m):
        term = F.element_at(
            F.col("tables").getItem(s), F.col(f"code_{s}") + 1
        )
        adc = term if adc is None else adc + term
    scored = scored.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adc.cast("long").alias("qdist"),
        "qvec",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("qdist"), F.asc("neighbor_id")
    )
    short = scored.withColumn("srk", F.row_number().over(w)).filter(
        F.col("srk") <= shortlist
    )
    if rerank_emb is None:
        return (
            short.withColumnRenamed("srk", "rnk")
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "rnk", "qdist")
            .orderBy("query_id", "rnk")
        )
    rer = short.join(
        rerank_emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("src_embedding"),
        ),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        qcos(F.col("qvec"), F.col("src_embedding")).alias("qcos"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "qcos")
        .orderBy("query_id", "rnk")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """TEST-ONLY one-shot IVF top-k: trains the coarse quantizer and
    re-assigns the corpus on EVERY call, which is exactly the cost the
    ``build_ivf_index`` / ``probe_ivf`` lifecycle exists to amortize.
    Not registered as a query and excluded from bench; kept solely so
    tests can assert lifecycle-probe results equal a from-scratch
    build+probe with the same seed, and for small in-memory recall
    experiments. Production callers: ``build_ivf_index`` once, then
    ``probe_ivf`` per query batch (see queries_llm.ensure_ivf_index).
    """
    cents = train_ivf_centroids(emb, nlist=nlist)
    assigned = ivf_assign(emb, cents)

    q_rows = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    spark = emb.sparkSession
    probe_rows = []
    for r in q_rows:
        qv = np.array(r.embedding, dtype=np.float64)
        sims = (qv / np.linalg.norm(qv)) @ cents.T
        for lid in np.argsort(-sims)[:nprobe]:
            probe_rows.append((r.vec_id, [float(v) for v in r.embedding], int(lid)))
    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("qvec", T.ArrayType(T.FloatType())),
            T.StructField("list_id", T.IntegerType()),
        ]
    )
    probes = spark.createDataFrame(probe_rows, probe_schema)

    cand = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        qcos(F.col("qvec"), F.col("embedding")).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "qcos")
        .orderBy("query_id", "rnk")
    )


# ----------------------------------------------------------------------
# SRP-LSH scale path

#: Quantization scale applied to embedding coordinates before the
#: integer projection dot product (below).
_SRP_QSCALE = 1_000_000


def _srp_planes(dim: int = 64, nbits: int = 32, seed: int = 42) -> np.ndarray:
    """Content-derived INTEGER hyperplanes: entry (i, j) is a
    symmetric pseudo-uniform int in [-512, 511] taken from
    md5(f"srp:{seed}:{i}:{j}") — no RNG state anywhere, so the planes
    are a pure function of (seed, i, j) that the generated oracle SQL
    inlines verbatim. Integer entries (vs Gaussian floats) make each
    projection bit sign(sum_j floor(e_j * 1e6) * p_ij) EXACT
    order-independent bigint arithmetic, replayable bit-for-bit in SQL
    — a float dot's sign can flip between engines' summation orders
    when the projection lands within fp-noise of zero. Symmetric
    bounded entries keep the SRP collision geometry (Achlioptas-style
    sparse/discrete projections); recall is measured in tests."""
    return np.array(
        [
            [
                (int(hashlib.md5(f"srp:{seed}:{i}:{j}".encode()).hexdigest()[:8], 16) % 1024)
                - 512
                for j in range(dim)
            ]
            for i in range(nbits)
        ],
        dtype=np.int64,
    )


def srp_band_keys(
    emb: DataFrame,
    nbits: int = 128,
    band_bits: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, band, key): each vector's signed-random-projection band
    keys, computed in one Arrow-batched numpy kernel (nbits hyperplane
    dot products = one (batch x dim) @ (dim x nbits) matmul — JVM
    expression trees at 128 planes x 64 dims are codegen-hostile).
    Emits nbits/band_bits rows per vector; no shuffle."""
    from collections.abc import Iterator

    planes = _srp_planes(dim=dim, nbits=nbits, seed=seed)  # int64 (nbits, dim)
    nbands = nbits // band_bits
    weights = (1 << np.arange(band_bits, dtype=np.int64))

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("key", T.LongType()),
        ]
    )

    def _keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            # floor(e * 1e6) is IEEE-exact on the double widening of the
            # stored floats, so both engines quantize identically; the
            # integer matmul after it is order-independent by nature.
            q = np.floor(m * _SRP_QSCALE).astype(np.int64)
            bits = (q @ planes.T >= 0).astype(np.int64)  # (batch, nbits)
            keys = bits.reshape(len(ids), nbands, band_bits) @ weights  # (batch, nbands)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, nbands),
                    "band": np.tile(np.arange(nbands, dtype=np.int32), len(ids)),
                    "key": keys.reshape(-1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(_keys, out_schema)


def srp_candidate_pairs(
    emb: DataFrame,
    nbits: int = 128,
    band_bits: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Distinct candidate pairs (va < vb) from SRP band-bucket
    collisions — the shuffle is on (band, key) only; no corpus x corpus
    product. P(candidate) for a pair at angle θ is
    1-(1-(1-θ/π)^band_bits)^nbands: ~1 for genuine near-dups
    (cos >= 0.95 -> miss < 1e-7 at 16x8) and a small constant for
    near-orthogonal pairs (~0.06 at cos 0) — the pruning that makes the
    threshold predicate feasible at corpus scale."""
    banded = srp_band_keys(emb, nbits=nbits, band_bits=band_bits, seed=seed, dim=dim)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )


def embedding_near_dup_banded(
    emb: DataFrame,
    threshold: float = 0.95,
    nbits: int = 128,
    band_bits: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Scale path for the threshold near-dup predicate: SRP band-bucket
    candidate generation + exact quantized-cosine verification of the
    candidates only — the two-stage design minhash_near_dup_pairs uses
    for text, applied to embedding space. Same output contract as the
    brute-force ``embedding_near_dup_pairs`` (va, vb, qcos >= threshold);
    equality verified against it in tests and via the driver oracle.

    At 100 TB: brute force is an O(n^2) cartesian; here the only wide ops
    are the (band, key) self-join (bucket sizes ~n/2^band_bits per band)
    and the candidate->embedding verification joins. Banding only prunes
    when the threshold is a genuine near-dup regime (cos >= ~0.9);
    below that the collision curve flattens and brute force is honest.
    """
    qthr = int(threshold * 1e6)
    cand = srp_candidate_pairs(emb, nbits=nbits, band_bits=band_bits, seed=seed, dim=dim)
    a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    return (
        cand.join(a, "va")
        .join(b, "vb")
        .select("va", "vb", qcos(F.col("ea"), F.col("eb")).alias("qcos"))
        .filter(F.col("qcos") >= qthr)
        .orderBy("va", "vb")
    )


def srp_signature(qvec: Column, planes: np.ndarray) -> Column:
    """Signed-random-projection signature over a PRE-QUANTIZED
    (``floor(e * 1e6)`` bigint array) vector: bit i =
    (sum_j qvec[j] * planes[i][j]) >= 0 — exact integer arithmetic,
    identical in any engine/summation order. Callers materialize the
    quantized array once (Catalyst does not share subexpressions
    across lambda bodies) and pass it here."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    qvec,
                    F.array(*[F.lit(int(x)) for x in p]),
                    lambda a, b: a * b.cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i, p in enumerate(planes)
    ]
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


def srp_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nbits: int = 48,
    band_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: SRP signatures, band-bucket candidate join
    (12 x 4-bit bands by default; nbits must stay < 64 — the signature
    packs into one signed long), exact qcos re-rank of candidates.

    vs cosine_topk: the corpus-x-queries product is replaced by a join
    on band keys — at 100 TB that's the difference between scanning the
    corpus per query batch and touching only colliding buckets. Recall
    is tuned by nbits/band_bits (tests measure it against cosine_topk).
    """
    planes = _srp_planes(nbits=nbits)
    quantized = emb.select(
        "vec_id",
        "embedding",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(float(_SRP_QSCALE))).cast("long"),
        ).alias("__qv"),
    )
    sig = quantized.select(
        "vec_id", "embedding", srp_signature(F.col("__qv"), planes).alias("sig")
    )
    nbands = nbits // band_bits
    mask = (1 << band_bits) - 1
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("sig"), band_bits * j).bitwiseAND(F.lit(mask))
            for j in range(nbands)
        ]
    )
    banded = sig.select("vec_id", "embedding", F.posexplode(chunks).alias("band", "key"))
    q = banded.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        "band",
        "key",
    )
    cand = (
        banded.join(F.broadcast(q), ["band", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qvec", F.col("vec_id").alias("neighbor_id"), "embedding")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        qcos(F.col("qvec"), F.col("embedding")).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "qcos")
        .orderBy("query_id", "rnk")
    )


def srp_topk_sql(
    query_ids: list[int],
    k: int = 10,
    nbits: int = 48,
    band_bits: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB replay of :func:`srp_topk`, exact by construction: the
    md5-derived integer planes are inlined as a VALUES table, each
    projection bit is the sign of a bigint dot over the same
    ``floor(e * 1e6)`` quantization, band keys pack bits with the same
    shifts, and the candidate set is the same (band, key) equi-join —
    so the approximate index's OUTPUT value-hashes across engines."""
    planes = _srp_planes(dim=dim, nbits=nbits)
    vals = ", ".join(
        f"({i}, {j}, {int(planes[i, j])})"
        for i in range(nbits)
        for j in range(dim)
    )
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH planes AS (SELECT * FROM (VALUES {vals}) AS t(bit, j, w)),
qe AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {_SRP_QSCALE}.0) AS BIGINT)) AS q
  FROM embeddings
),
bits AS (
  SELECT e.vec_id, p.bit,
         CASE WHEN SUM(e.q[p.j + 1] * p.w) >= 0 THEN 1 ELSE 0 END AS b
  FROM qe e CROSS JOIN planes p
  GROUP BY e.vec_id, p.bit
),
keys AS (
  SELECT vec_id, CAST(bit // {band_bits} AS INT) AS band,
         CAST(SUM(b << (bit % {band_bits})) AS BIGINT) AS key
  FROM bits GROUP BY vec_id, bit // {band_bits}
),
qk AS (
  SELECT vec_id AS query_id, band, key FROM keys WHERE vec_id IN ({ids})
),
cand AS (
  SELECT DISTINCT qk.query_id, kk.vec_id AS neighbor_id
  FROM qk JOIN keys kk USING (band, key)
  WHERE kk.vec_id <> qk.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         {qcos_sql('qq.embedding', 'e.embedding')} AS qcos
  FROM cand c
  JOIN embeddings qq ON qq.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, rnk, qcos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY qcos DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {k} ORDER BY query_id, rnk
"""


# ----------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale path for vector storage
def train_pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    codes: int = 16,
    iters: int = 0,
    max_sample: int = 100_000,
) -> np.ndarray:
    """Per-subspace PQ codebooks, shape (m, codes, dim/m). A PQ code
    compresses a vector to ``m`` small integers (here 4 x 4 bits vs
    64 float32 = 512x smaller) — how a 100 TB vector corpus fits an
    in-memory ANN index, with distances computed against codebook
    entries instead of raw vectors (Jégou et al., TPAMI 2011).

    Same determinism contract as ``train_ivf_centroids``: iters=0 is
    the SQL-replayable seed codebook — the sub-vectors of the ``codes``
    md5-smallest vec_ids, one shared seed set sliced per subspace — and
    REFUSES to sample (the replay has no sampling twin). iters>0 runs
    standard (L2) k-means per subspace on the deterministic sample —
    the quality path, pytest-checked for reconstruction-error
    improvement rather than value-hashed."""
    n = emb.count()
    mod = max(1, n // max_sample)
    if iters == 0 and mod > 1:
        raise SeedReplayError(
            f"train_pq_codebooks(iters=0) is the SQL-replayable seed "
            f"codebook and must seed from the full vector set, but "
            f"n={n} > max_sample={max_sample}; raise max_sample or use "
            f"iters>0"
        )
    sample = emb
    if mod > 1:
        sample = emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0)
    rows = sample.select("vec_id", "embedding").orderBy("vec_id").collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    md5_order = sorted(
        range(len(rows)),
        key=lambda i: (
            hashlib.md5(str(rows[i].vec_id).encode()).hexdigest(),
            rows[i].vec_id,
        ),
    )
    seeds = x[md5_order[:codes]]  # (codes, dim)
    books = np.stack(
        [seeds[:, s * dsub : (s + 1) * dsub] for s in range(m)]
    )  # (m, codes, dsub)
    for _ in range(iters):
        new = np.empty_like(books)
        for s in range(m):
            sub = x[:, s * dsub : (s + 1) * dsub]
            d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(axis=1)
            for c in range(codes):
                members = sub[assign == c]
                if len(members) == 0:
                    # reseed deterministically to the worst-served point
                    new[s, c] = sub[d2.min(axis=1).argmax()]
                else:
                    new[s, c] = members.mean(axis=0)
        books = new
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, code_0..code_{m-1}, qerr): each vector's per-subspace
    nearest-codebook-entry assignment by QUANTIZED squared L2 distance
    (floor(d2 * 1e6) bigint; argmin ties to the lowest code — numpy
    argmin is first-minimum), plus the total quantized reconstruction
    error. Quantizing before the argmin makes the code assignment
    bit-identical across engines, exactly like ``ivf_assign``.

    One Arrow-batched map over the corpus, no shuffle: (batch x codes)
    distance matrices per subspace via one broadcasted numpy subtract.
    At scale the codes column REPLACES the float vectors in the serving
    index; qerr is the monitoring signal for codebook staleness.
    ``passthrough`` columns (e.g. the IVF ``list_id`` for the IVFADC
    layout) ride through the map unchanged, so composing layouts costs
    no extra join."""
    from collections.abc import Iterator

    books = np.asarray(codebooks, dtype=np.float64)
    m, codes, dsub = books.shape
    in_fields = {f.name: f for f in emb.schema.fields}
    out_schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [in_fields[c] for c in passthrough]
        + [T.StructField(f"code_{s}", T.IntegerType()) for s in range(m)]
        + [T.StructField("qerr", T.LongType())]
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            out = pdf[["vec_id", *passthrough]].copy()
            qerr = np.zeros(len(pdf), dtype=np.int64)
            for s in range(m):
                sub = x[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                qd = np.floor(d2 * 1e6).astype(np.int64)
                pick = qd.argmin(axis=1)
                out[f"code_{s}"] = pick.astype(np.int32)
                qerr += qd[np.arange(len(pdf)), pick]
            out["qerr"] = qerr
            yield out

    return emb.select("vec_id", *passthrough, "embedding").mapInPandas(
        _encode, out_schema
    )


def _pq_ctes(
    m: int = 4,
    codes: int = 16,
    dim: int = 64,
    source: str = "embeddings",
    seed_source: str | None = None,
) -> str:
    """Shared CTE body for the PQ replays: md5-ordered seed codebook
    (seeds, cb) + per-subspace quantized-L2 argmin assignments
    (a0..a{m-1}, each carrying code_s and its qd_s). ``source`` swaps
    the vector relation — the panel twins pass the content-addressed
    md5-bucket subquery so seed AND encode replay on the same ≤cap row
    set at every scale factor (r12 verdict task 2). ``seed_source``
    splits the two roles (r13 verdict task 2): seeds come from the
    bounded panel while the encode scans the FULL corpus — the
    configuration that lets the registered full forms drop the
    SeedReplayError guard entirely (panel seeding is deterministic on
    both engines at any n; the encode side was always linear)."""
    dsub = dim // m
    seed_rel = seed_source or source
    qd = (
        "CAST(FLOOR(list_sum(list_transform(range(1, {n}), "
        "i -> (CAST(e.embedding[{off} + i] AS DOUBLE) - cb.c[{off} + i]) ^ 2"
        ")) * 1e6) AS BIGINT)"
    )
    sub_assigns = ",\n".join(
        f"""a{s} AS (
  SELECT vec_id, code AS code_{s}, qd AS qd_{s} FROM (
    SELECT e.vec_id, cb.code,
           {qd.format(n=dsub + 1, off=s * dsub)} AS qd,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {qd.format(n=dsub + 1, off=s * dsub)} ASC, cb.code ASC
           ) AS r
    FROM {source} e CROSS JOIN cb
  ) WHERE r = 1
)"""
        for s in range(m)
    )
    return f"""seeds AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c
  FROM {seed_rel}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {codes}
),
cb AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS code,
         c
  FROM seeds
),
{sub_assigns}"""


def pq_encode_sql(
    m: int = 4,
    codes: int = 16,
    dim: int = 64,
    source: str = "embeddings",
    seed_source: str | None = None,
) -> str:
    """DuckDB replay of the iters=0 seed codebook + :func:`pq_encode`:
    seeds from md5 order, per-subspace quantized-L2 argmin (ROW_NUMBER
    over qd, code), summed qerr. Verification scale — the cross join is
    corpus x codes (linear in the corpus). ``source`` swaps the vector
    relation for the content-addressed panel twin; ``seed_source``
    seeds from the panel while encoding ``source`` in full (the
    guard-free full-form configuration, r13 verdict task 2)."""
    joins = " ".join(f"JOIN a{s} USING (vec_id)" for s in range(1, m))
    code_cols = ", ".join(f"code_{s}" for s in range(m))
    err_sum = " + ".join(f"qd_{s}" for s in range(m))
    return f"""
WITH {_pq_ctes(m, codes, dim, source, seed_source)}
SELECT vec_id, {code_cols}, CAST({err_sum} AS BIGINT) AS qerr
FROM a0 {joins}
ORDER BY vec_id
"""


def pq_topk(
    emb: DataFrame,
    codebooks: np.ndarray,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — how a PQ index
    actually SERVES queries: per query, a tiny (m x codes) table of
    quantized squared L2 distances from the query's sub-vectors to
    every codebook entry is computed once driver-side; each corpus
    vector is then scored by m integer TABLE LOOKUPS on its codes
    (Jégou et al., TPAMI 2011) — no float math against the corpus at
    all. Approximation error comes only from quantizing the corpus to
    codes; the pytest measures recall vs the exact scan.

    Output (query_id, neighbor_id, rnk, qdist) ascending by qdist
    (smaller = closer), ties to the lowest neighbor_id. Scale shape:
    codes replace vectors in the scan (512x fewer bytes); the per-query
    lookup tables travel as ROWS of a broadcast DataFrame (query_id,
    tables: array<array<long>>), not as plan literals — at production
    PQ geometry (16 sub-spaces x 256 codes) a literal encoding is 4096
    expression nodes PER QUERY and the plan itself becomes the
    bottleneck, while the broadcast relation is a constant-size plan
    regardless of geometry. One broadcast nested-loop join fans the Q
    query rows across the code scan; scoring is m element_at lookups
    into the joined tables column (map-side, codegen'd); the per-query
    rank is the cosine_topk window pattern."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, codes, dsub = books.shape
    q_rows = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    enc = pq_encode(emb, books)
    lut_rows = []
    for r in q_rows:
        qe = np.asarray(r.embedding, dtype=np.float64)
        tables = []
        for s in range(m):
            sub = qe[s * dsub : (s + 1) * dsub]
            d2 = ((books[s] - sub[None, :]) ** 2).sum(axis=1)
            tables.append([int(x) for x in np.floor(d2 * 1e6).astype(np.int64)])
        lut_rows.append((int(r.vec_id), tables))
    lut = emb.sparkSession.createDataFrame(
        lut_rows, "query_id long, tables array<array<long>>"
    )
    # Same left-to-right summation order as the literal form (s = 0..m-1
    # over longs), so qdist values are bit-identical to the oracle.
    score = None
    for s in range(m):
        term = F.element_at(F.col("tables").getItem(s), F.col(f"code_{s}") + 1)
        score = term if score is None else score + term
    scored = (
        enc.join(F.broadcast(lut), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            score.cast("long").alias("qdist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("qdist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "qdist")
        .orderBy("query_id", "rnk")
    )


def pq_topk_sql(
    query_ids: list[int],
    k: int = 10,
    m: int = 4,
    codes: int = 16,
    dim: int = 64,
    seed_source: str | None = None,
) -> str:
    """DuckDB replay of :func:`pq_topk`: the same seed codebook and
    code assignments as pq_encode_sql, per-query distance tables built
    by the identical quantized-L2 expression over the QUERY's slices,
    scores as table-lookup joins on the codes. ``seed_source`` panel-
    seeds the codebook while encoding/scoring the full corpus (the
    guard-free configuration, r13 verdict task 2)."""
    dsub = dim // m
    ids = ", ".join(str(i) for i in query_ids)
    qd = (
        "CAST(FLOOR(list_sum(list_transform(range(1, {n}), "
        "i -> (q.qe[{off} + i] - cb.c[{off} + i]) ^ 2"
        ")) * 1e6) AS BIGINT)"
    )
    tables = ",\n".join(
        f"""t{s} AS MATERIALIZED (
  SELECT q.query_id, cb.code, {qd.format(n=dsub + 1, off=s * dsub)} AS qd
  FROM qv q CROSS JOIN cb
)"""
        for s in range(m)
    )
    code_joins = " ".join(f"JOIN a{s} USING (vec_id)" for s in range(1, m))
    t_joins = " ".join(
        f"JOIN t{s} ON t{s}.query_id = qv.query_id AND t{s}.code = c.code_{s}"
        for s in range(m)
    )
    dist_sum = " + ".join(f"t{s}.qd" for s in range(m))
    return f"""
WITH {_pq_ctes(m, codes, dim, seed_source=seed_source)},
qv AS MATERIALIZED (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id IN ({ids})
),
{tables},
c AS MATERIALIZED (
  SELECT vec_id, {", ".join(f"code_{s}" for s in range(m))}
  FROM a0 {code_joins}
),
scored AS (
  SELECT qv.query_id, c.vec_id AS neighbor_id,
         CAST({dist_sum} AS BIGINT) AS qdist
  FROM c CROSS JOIN qv {t_joins}
  WHERE c.vec_id <> qv.query_id
)
SELECT query_id, neighbor_id, rnk, qdist FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY qdist ASC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {k} ORDER BY query_id, rnk
"""
