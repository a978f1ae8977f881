"""Deduplication operators for LLM training-data pipelines.

Four families, all shuffle-conscious:

- **Exact**: normalized-content fingerprint (md5) -> hash group-by. One
  shuffle on the fingerprint; survivor = min doc_id (deterministic, unlike
  dropDuplicates' arbitrary survivor).
- **N-gram Jaccard** (exact near-dup): character-k-shingle explode ->
  self-join on shingle -> pair intersection counts -> J >= t. Exact but
  quadratic in shingle-bucket size — it is the *verifier*, not the scale
  path.
- **MinHash + LSH** (scale path): shingle -> 64 min-hash permutations ->
  band into 16 buckets of 4 -> candidate pairs from bucket collisions ->
  exact-Jaccard verification of candidates only. At 100 TB the only wide
  ops are the signature group-by and the band-bucket join; candidate
  verification touches a vanishing fraction of pairs. Recall for J>=0.9
  pairs with (16 bands x 4 rows) is 1 - (1-J^4)^16 ≈ 1 - 4e-23.
- **SimHash**: 64-bit sign-sum over token hashes; Hamming-band grouping
  (4 x 16-bit chunks -> guarantees finding all pairs within Hamming
  distance 3 via pigeonhole).

MinHash/SimHash permutation constants are fixed (seeded) so results are
reproducible run-to-run and cluster-to-cluster.
"""

from __future__ import annotations

import os
import random
import threading

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
    index_component_path,
    next_version,
    publish_version,
    reset_versions,
)
from salesforce_prefect_etl_pipeline_spark.operators.text import (
    NORMALIZED_SQL,
    fingerprints,
    normalized,
    tokens,
)

#: Carter-Wegman universal hashing modulus. The prime must be small
#: enough that a*h wraps it many times within 63-bit long arithmetic
#: (Spark 4 runs ANSI mode — overflow raises, so we can't rely on
#: wrapping): a, b, h < 2^31 keeps a*h+b < 2^62 while mod 2^31-1 wraps
#: ~2^31 times, giving genuinely independent permutations. (A first cut
#: used mod 2^61-1 with 32-bit h — a*h+b wraps that at most once, so the
#: "permutations" were near-monotone in h and every band collided.)
MERSENNE_31 = (1 << 31) - 1

_rng = random.Random(42)
#: 64 fixed multipliers / offsets for the minhash permutations.
MINHASH_A = [_rng.randrange(1, MERSENNE_31) for _ in range(64)]
MINHASH_B = [_rng.randrange(0, MERSENNE_31) for _ in range(64)]


def _shingle_positions(norm: Column, k: int) -> Column:
    """Start positions [1 .. len-k+1] of the k-shingles of ``norm``, or an
    EMPTY array when the text is shorter than k. Spark's sequence(1, 0)
    is a *descending* [1, 0] (not empty like DuckDB's generate_series),
    so an unguarded generator would emit one spurious shingle (the whole
    short text, or '') for docs shorter than k — diverging from the
    oracle and polluting Jaccard/minhash for short docs."""
    return F.when(
        F.length(norm) >= k,
        F.sequence(F.lit(1), F.length(norm) - (k - 1)),
    ).otherwise(F.array().cast("array<int>"))


# ----------------------------------------------------------------------
# Exact dedup
def exact_duplicate_groups(docs: DataFrame) -> DataFrame:
    """Groups of exact duplicates (normalized text): canonical survivor
    (min doc_id) + group size, only groups with >1 member."""
    fp = fingerprints(docs)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
        .select("fingerprint", "canonical_doc_id", "group_size")
        .orderBy("canonical_doc_id")
    )


EXACT_DUP_GROUPS_SQL = f"""
SELECT md5({NORMALIZED_SQL}) AS fingerprint,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS group_size
FROM documents
GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY canonical_doc_id
"""


def dedup_keep_first(df: DataFrame, key: str = "Id") -> DataFrame:
    """Reference D1 (tasks/quality_parallel.py:76-101): keep one row per
    key if the key column exists, else passthrough. Deterministic
    variant: survivor = smallest row by all-column sort within the key
    (the reference's keep='first' is file-order-dependent; a distributed
    engine needs an explicit total order)."""
    if key not in df.columns:
        return df
    from pyspark.sql.window import Window

    others = [c for c in df.columns if c != key]
    w = Window.partitionBy(key).orderBy(*[F.asc_nulls_first(c) for c in others])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ----------------------------------------------------------------------
# Character shingles + exact Jaccard
def shingle_sets(docs: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, shingles: array<string>) — the distinct character
    k-shingle set of the normalized text, kept as an array so signature
    computation stays a pure map (no explode/shuffle).

    Documents often arrive as few large files; repartition first so the
    per-document work spreads across the cluster instead of inheriting
    the file parallelism (observed 1-partition scans at test SF).
    """
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    # Materialize the normalized text before the lambda: an expression
    # referenced inside transform() is otherwise re-evaluated per array
    # element (one regex per shingle instead of one per document).
    base = docs.repartition(n_parts, F.col("doc_id")).select(
        "doc_id", normalized("text").alias("__norm")
    )
    norm = F.col("__norm")
    grams = F.array_distinct(
        F.transform(
            _shingle_positions(norm, k),
            lambda i: norm.substr(i, F.lit(k)),
        )
    )
    return base.select("doc_id", grams.alias("shingles"))


def char_shingles(docs: DataFrame, k: int = 8) -> DataFrame:
    """Exploded shingles: (doc_id, s) rows.

    The generator expression is inlined into explode() in ONE projection:
    exploding a *named* array column from a previous select makes Spark
    carry the whole array through the Generate child row (measured ~25x
    slower at 1.35M shingles) — never `select(arr.alias(c)).select(
    explode(c))`.
    """
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(n_parts, F.col("doc_id")).select(
        "doc_id", normalized("text").alias("__norm")
    )
    norm = F.col("__norm")
    grams = F.array_distinct(
        F.transform(
            _shingle_positions(norm, k),
            lambda i: norm.substr(i, F.lit(k)),
        )
    )
    return base.select("doc_id", F.explode(grams).alias("s"))


def hash60(c: Column) -> Column:
    """60-bit integer hash of a string: first 15 hex chars of md5. The
    same replayability choice SimHash made (see SIMHASH_BITS below):
    md5 exists with identical output in DuckDB, so every pipeline built
    on this hash — minhash signatures, banding, hashed-set Jaccard —
    value-hashes against a full SQL replay. Collision odds rise from
    2^-64 to 2^-60; at a 500-shingle union that is still ~1e-13.
    Measured vs xxhash64 at sf0.1 local[32]: within noise (~0.5 s warm
    either way — shingle substr/regex work dominates, not the hash)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """DuckDB twin of :func:`hash60`."""
    return (
        f"CAST(CAST(concat('0x', substr(md5({expr}), 1, 15)) AS UBIGINT)"
        " AS BIGINT)"
    )


def char_shingle_hashes(docs: DataFrame, k: int = 8) -> DataFrame:
    """Exploded *hashed* shingles: (doc_id, h: bigint) with
    h = hash60(shingle) (md5-60bit — SQL-replayable, see hash60).

    The minhash/verification path never needs the shingle text — only
    set membership — so all string work (regex normalize, substr,
    hashing) happens map-side before the explode, and everything
    downstream (group-by shuffle, collect_set, array_intersect) carries
    8-byte longs instead of ~32-byte strings. Two docs' hashed-set
    Jaccard equals their string-set Jaccard unless hash60 collides
    within the pair's union (~|union|^2 / 2^60 ≈ 1e-13 at union=500).

    The repartition hashes BY doc_id: explode preserves row locality, so
    the downstream signature groupBy("doc_id") reuses this partitioning
    and the exploded shingle rows (the big intermediate) never cross a
    second exchange — only doc-level rows are shuffled, once.
    """
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(n_parts, F.col("doc_id")).select(
        "doc_id", normalized("text").alias("__norm")
    )
    norm = F.col("__norm")
    grams = F.array_distinct(
        F.transform(
            _shingle_positions(norm, k),
            lambda i: hash60(norm.substr(i, F.lit(k))),
        )
    )
    return base.select("doc_id", F.explode(grams).alias("h"))


def _shingles_sql(k: int = 8, source: str = "documents") -> str:
    return f"""
  SELECT DISTINCT doc_id, substr({NORMALIZED_SQL}, i, {k}) AS s
  FROM {source},
       unnest(generate_series(1, greatest(length({NORMALIZED_SQL}) - {k - 1}, 0))) AS t(i)
"""


def jaccard_pairs(
    docs: DataFrame, k: int = 8, threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (da < db, J >= threshold).

    J is an integer ratio computed in one IEEE division — engine-exact.
    Scale note: the shingle self-join is quadratic per shingle bucket;
    beyond ~10M docs use minhash_near_dup_pairs (this operator is its
    verification kernel).
    """
    sh = char_shingles(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    j = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "da")
        .join(sb, "db")
        .select("da", "db", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("da", "db")
    )


def jaccard_pairs_sql(
    k: int = 8, threshold: float = 0.8, source: str = "documents"
) -> str:
    return f"""
WITH sh AS ({_shingles_sql(k, source)}),
pair AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
size AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
SELECT da, db,
       CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
FROM pair JOIN size sa ON sa.doc_id = da JOIN size sb ON sb.doc_id = db
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= {threshold}
ORDER BY da, db
"""


def containment_pairs(
    docs: DataFrame, k: int = 8, threshold: float = 0.8
) -> DataFrame:
    """DIRECTIONAL near-dup pairs by shingle-set containment
    C(a ⊆ b) = |A∩B| / |A| — catches what symmetric Jaccard misses: a
    short document wholly quoted inside a long one has J ≈ |A|/|B| (can
    be ~0) but C(a ⊆ b) = 1. The standard subset/quote/excerpt detector
    a curation pipeline runs AFTER symmetric dedup. Emits (da, db,
    c_a_in_b, c_b_in_a) where da < db and max(c) >= threshold.

    Like ``jaccard_pairs`` this is the EXACT verification kernel
    (shingle-bucket self-join, quadratic per bucket): containment-heavy
    pairs need not be Jaccard-similar, so MinHash banding — which
    recalls high-J pairs — is NOT a valid candidate filter here. The
    documented scale path is banding on the SHORTER side's full
    signature against the longer side's shingle inventory (one-sided
    LSH); at verification scale the exact kernel is the oracle."""
    sh = char_shingle_hashes(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    c_ab = F.col("common").cast("double") / F.col("na")
    c_ba = F.col("common").cast("double") / F.col("nb")
    return (
        common.join(sa, "da")
        .join(sb, "db")
        .select("da", "db", c_ab.alias("c_a_in_b"), c_ba.alias("c_b_in_a"))
        .filter(F.greatest("c_a_in_b", "c_b_in_a") >= threshold)
        .orderBy("da", "db")
    )


def containment_pairs_sql(
    k: int = 8, threshold: float = 0.8, source: str = "documents"
) -> str:
    """DuckDB twin of :func:`containment_pairs` over the same hash60
    shingle sets (hashed-set containment == string-set containment
    absent a ~2^-60 collision, and both engines hash identically)."""
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, {hash60_sql('s')} AS h FROM ({_shingles_sql(k, source)})
),
pair AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
size AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
SELECT da, db,
       CAST(common AS DOUBLE) / sa.n AS c_a_in_b,
       CAST(common AS DOUBLE) / sb.n AS c_b_in_a
FROM pair JOIN size sa ON sa.doc_id = da JOIN size sb ON sb.doc_id = db
WHERE greatest(CAST(common AS DOUBLE) / sa.n,
               CAST(common AS DOUBLE) / sb.n) >= {threshold}
ORDER BY da, db
"""


def containment_argmin_profile(
    docs: DataFrame, k: int = 8, num_hashes: int = 64
) -> DataFrame:
    """(doc_id, shingles, argmins) in one scan + one shuffle: per
    permutation i, ``argmins[i]`` is the RAW shingle hash whose permuted
    value achieves the doc's minhash minimum — i.e. a uniform random
    member of the shingle set, independently per permutation. This is
    what makes one-sided containment LSH work: for docs A, B the argmin
    of A lies in B with probability exactly C(A ⊆ B) = |A∩B|/|A| (the
    argmin is uniform over A), so probing A's 64 argmins against B's
    shingle INVENTORY and counting hits is a Binomial(64, C) estimator
    of containment — no signature of B required, only membership.

    The argmin is materialized as a PACKED long — permuted value in the
    top 31 bits, the shingle hash's low 32 bits below — so the 64
    aggregates stay primitive MINs inside whole-stage codegen (a
    struct-min falls back to interpreted ObjectHashAggregate, measured
    ~1.7x slower at sf0.1) and ties (two shingles sharing a permuted
    value) break deterministically toward the smaller h32. Downstream
    probes therefore match on h32 rather than the full 60-bit hash; a
    cross-shingle h32 collision inflates one directed count by 1 with
    probability |B|/2^32 (~1e-7 at 500-shingle docs), is harmless
    under the 5-sigma cutoff, and is replayed bit-for-bit by the SQL
    twin. ``argmins`` holds the packed values; take ``& 0xFFFFFFFF``
    to probe.
    """
    sh = char_shingle_hashes(docs, k)
    hm = F.pmod(F.col("h"), F.lit(MERSENNE_31))
    h32 = F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))
    mins = [
        F.min(
            F.shiftleft(
                F.pmod(
                    F.lit(MINHASH_A[i]) * hm + F.lit(MINHASH_B[i]),
                    F.lit(MERSENNE_31),
                ),
                32,
            ).bitwiseOR(h32)
        ).alias(f"s{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("doc_id").agg(F.collect_set("h").alias("shingles"), *mins)
    return agg.select(
        "doc_id",
        "shingles",
        F.array(*[f"s{i}" for i in range(num_hashes)]).alias("argmins"),
    )


def joint_shingle_profile(
    docs: DataFrame, k: int = 8, num_hashes: int = 64
) -> DataFrame:
    """(doc_id, shingles, sig, argmins) in ONE corpus scan + ONE
    shuffle: the MinHash signature mins (minhash_profile) and the
    packed containment argmins (containment_argmin_profile) are
    different aggregates over the SAME exploded shingle-hash frame, so
    a session running both the MinHash build and the containment LSH
    probe — the two most expensive non-e2e queries in the suite — can
    compute the 128 min-aggregates plus the shingle collect_set in one
    group-by instead of paying the corpus scan + explode + shuffle
    twice. Column values are IDENTICAL to the two single-purpose
    profiles (same formulas over the same hashes), so both oracles
    replay unchanged; callers that run only one pipeline should keep
    the narrower profile (fewer aggregates, same single pass)."""
    sh = char_shingle_hashes(docs, k)
    hm = F.pmod(F.col("h"), F.lit(MERSENNE_31))
    h32 = F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))
    sig_mins = [
        F.min(
            F.pmod(F.lit(MINHASH_A[i]) * hm + F.lit(MINHASH_B[i]), F.lit(MERSENNE_31))
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    argmin_mins = [
        F.min(
            F.shiftleft(
                F.pmod(
                    F.lit(MINHASH_A[i]) * hm + F.lit(MINHASH_B[i]),
                    F.lit(MERSENNE_31),
                ),
                32,
            ).bitwiseOR(h32)
        ).alias(f"s{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("doc_id").agg(
        F.collect_set("h").alias("shingles"), *sig_mins, *argmin_mins
    )
    return agg.select(
        "doc_id",
        "shingles",
        F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"),
        F.array(*[f"s{i}" for i in range(num_hashes)]).alias("argmins"),
    )


_MATCHED_SCHEMA = T.StructType(
    [
        T.StructField("pa", T.LongType()),
        T.StructField("pb", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)

#: One-slot registry of the most recent probe-index broadcast, mirroring
#: the media ops' guard cache: each broadcast call unpersists the
#: previous call's executor copies, so a session that runs the
#: containment query repeatedly holds ONE index in executor memory
#: instead of one per call. unpersist (not destroy) keeps the driver
#: copy, so an unconsumed earlier frame simply re-ships on demand.
_PROBE_BCAST_SLOT: list = []
_PROBE_BCAST_LOCK = threading.Lock()


def _swap_probe_broadcast(b) -> None:
    # locked like multimodal._GUARD_LOCK: two concurrent containment
    # queries must not interleave pop/append, or the slot could end up
    # holding two broadcasts (leaking executor copies) or unpersist the
    # one just registered
    with _PROBE_BCAST_LOCK:
        while _PROBE_BCAST_SLOT:
            try:
                _PROBE_BCAST_SLOT.pop().unpersist(False)
            except Exception:  # noqa: S110 - best-effort release
                # unpersist of a stale broadcast can race the JVM-side
                # context teardown; the slot swap must still complete
                # (leaking one already-dereferenced broadcast is the
                # lesser evil vs failing the query that owns the lock)
                pass
        _PROBE_BCAST_SLOT.append(b)


def _containment_counts_broadcast(prof: DataFrame, cutoff: int) -> DataFrame:
    """Directed matched-argmin counts >= cutoff via a broadcast inverted
    probe index — integer-exact identical to the shuffle form's
    probe-join + count aggregate, with zero shuffle and nothing
    materialized per sub-cutoff pair.

    Index (driver-built, broadcast): the corpus's (argmin m -> probing
    docs) inversion as four numpy arrays — sorted distinct m keys,
    CSR-style offsets, probing docs as int32 codes into a doc vocab,
    and each probe's multiplicity (a doc's 64 argmins can repeat an
    m). ~16 bytes per distinct (doc, m) row.

    Kernel (``mapInPandas`` over the profile): for a chunk of
    inventory docs, vectorized ``searchsorted`` finds each distinct
    shingle's probe list; the gathered (inventory-row, prober-code)
    keys pack into one int64, one sort + ``add.reduceat`` produces the
    weighted per-pair counts, and only rows at/above the cutoff are
    emitted. All numpy — the per-chunk candidate volume (sum of df
    over the chunk's shingles) stays bounded by the chunk size."""
    pdf = (
        prof.select(F.col("doc_id").alias("pa"), F.explode("argmins").alias("p"))
        .select("pa", F.col("p").bitwiseAND(F.lit(0xFFFFFFFF)).alias("m"))
        .groupBy("pa", "m")
        .agg(F.count(F.lit(1)).alias("w"))
        .toPandas()
    )
    spark = prof.sparkSession
    if len(pdf) == 0:
        return spark.createDataFrame([], _MATCHED_SCHEMA)
    m_arr = pdf["m"].to_numpy(np.int64)
    pa_arr = pdf["pa"].to_numpy(np.int64)
    w_arr = pdf["w"].to_numpy(np.int64)
    order = np.argsort(m_arr, kind="stable")
    m_s, pa_s, w_s = m_arr[order], pa_arr[order], w_arr[order]
    keys, starts = np.unique(m_s, return_index=True)
    offsets = np.append(starts, len(m_s)).astype(np.int64)
    vocab, pa_codes = np.unique(pa_s, return_inverse=True)
    index = spark.sparkContext.broadcast(
        (keys, offsets, pa_codes.astype(np.int64), w_s, vocab)
    )
    _swap_probe_broadcast(index)

    def _count(batches):
        keys, offsets, pa_codes, w_s, vocab = index.value
        lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
        for pdf_in in batches:
            docs_ids = pdf_in["doc_id"].to_numpy(np.int64)
            shingle_lists = pdf_in["shingles"]
            out_pa, out_pb, out_cnt = [], [], []
            chunk = 64
            for lo in range(0, len(docs_ids), chunk):
                hs_parts, row_parts = [], []
                for i in range(lo, min(lo + chunk, len(docs_ids))):
                    hs = np.unique(
                        np.asarray(shingle_lists.iloc[i], dtype=np.int64)
                        & 0xFFFFFFFF
                    )
                    hs_parts.append(hs)
                    row_parts.append(np.full(len(hs), i, dtype=np.int64))
                if not hs_parts:
                    continue
                hs_all = np.concatenate(hs_parts)
                row_all = np.concatenate(row_parts)
                pos = np.searchsorted(keys, hs_all)
                ok = (pos < len(keys)) & (keys[np.minimum(pos, len(keys) - 1)] == hs_all)
                pos, row_hit = pos[ok], row_all[ok]
                if len(pos) == 0:
                    continue
                n_per = lens[pos]
                tot = int(n_per.sum())
                if tot == 0:
                    continue
                # gather the CSR slices for every matched shingle at once
                starts_hit = offsets[pos]
                idx = np.repeat(starts_hit + n_per - n_per.cumsum(), n_per) + np.arange(
                    tot, dtype=np.int64
                )
                cand_code = pa_codes[idx]
                cand_w = w_s[idx]
                cand_row = np.repeat(row_hit, n_per)
                key = (cand_row << 32) | cand_code
                # quicksort: within-key order is irrelevant to the
                # reduceat sums, and radix/stable's temp allocations
                # measurably thrash when 32 workers sort concurrently
                order = np.argsort(key)
                key_s, w_sorted = key[order], cand_w[order]
                bounds = np.flatnonzero(
                    np.concatenate(([True], key_s[1:] != key_s[:-1]))
                )
                counts = np.add.reduceat(w_sorted, bounds)
                keep = counts >= cutoff
                if not keep.any():
                    continue
                kk = key_s[bounds[keep]]
                pa_out = vocab[(kk & 0xFFFFFFFF).astype(np.int64)]
                pb_out = docs_ids[(kk >> 32).astype(np.int64)]
                cnt_out = counts[keep].astype(np.int64)
                notself = pa_out != pb_out
                out_pa.append(pa_out[notself])
                out_pb.append(pb_out[notself])
                out_cnt.append(cnt_out[notself])
            if out_pa:
                yield pd.DataFrame(
                    {
                        "pa": np.concatenate(out_pa),
                        "pb": np.concatenate(out_pb),
                        "cnt": np.concatenate(out_cnt),
                    }
                )
            else:
                yield pd.DataFrame({"pa": [], "pb": [], "cnt": []}).astype(
                    {"pa": "int64", "pb": "int64", "cnt": "int64"}
                )

    return prof.select("doc_id", "shingles").mapInPandas(_count, _MATCHED_SCHEMA)


def containment_cutoff(threshold: float, num_hashes: int = 64) -> int:
    """Candidate cutoff on matched-argmin count: mean - 5 sigma of
    Binomial(num_hashes, threshold), floored at 2. A pair whose
    higher-containment direction sits AT the threshold is recalled with
    P(miss) < ~3e-7 (5-sigma normal tail), while incidental overlaps
    (C ~ 0.1 -> mean ~ 6 matches of 64) rarely clear it."""
    mu = num_hashes * threshold
    return max(2, int(mu - 5.0 * (mu * (1.0 - threshold)) ** 0.5))


#: Broadcast-strategy window for :func:`containment_lsh_pairs`,
#: measured on both sides of every edge (tools/containment_ceiling.py;
#: SCALE.md "Round 11: the containment broadcast ceiling, measured").
#:
#: Ceiling: the probe index is (m -> packed pa/weight arrays). Measured
#: footprint at 18M index rows: 308 MB when shingles are hot
#: (distinct-m count << rows; ~17 B/row, the regime real templated
#: corpora live in) up to 578 MB when every m is distinct (32 B/row
#: worst case — keys/offsets scale with DISTINCT m, not rows). r11 set
#: the ceiling at 20M rows from near-zero-density synthetics where the
#: above-ceiling shuffle fallback looked sane (12.6-13.8 s at 22M
#: rows). r12's REAL above-ceiling cell overturned that: the sf10
#: fixture (27.5M rows, density ~494) broadcast in 79 s with a 458 MB
#: index, while the honest pinned-shuffle fallback's 13.6B-instance
#: aggregate filled 77 GB of spill disk and died — above the ceiling a
#: DENSE corpus has no good shuffle, so a too-low ceiling is the
#: costly mispick. Raised to 40M rows, validated by a worst-case
#: (all-distinct m) synthetic broadcast at exactly 40M rows: 1,282 MB
#: index (the 32 B/row model, bang on), 100 s, zero spill — inside
#: task memory and far under Spark's 8 GiB broadcast hard limit.
#:
#: Floor: below ~500k index rows the shuffled count-aggregate stays
#: entirely inside JVM codegen, and the broadcast path's Python-worker
#: toll (index job + kernel spin-up) costs more than it saves
#: (measured at sf0.1: shuffle 3.0 s vs broadcast 9.0 s warm; at
#: sf0.3 the order flips, 11.0 vs 5 s).
#:
#: Density gate, RETIRED in r13: every cell that ever showed shuffle
#: winning in-window (low dispersed density, block shapes up to ~190)
#: was measured against the plan Catalyst produced BEFORE the r12
#: join pinning — the accidental inventory-broadcast join, strictly
#: cheaper than the honest salted SHUFFLE_HASH shuffle. Re-measured
#: at 18M index rows with the pinned plan (48 GB heap, SCALE.md r13):
#: dispersed densities 10/18/52/102 -> shuffle 92.5/141.1/237.8/281.5 s
#: (spilling 1.7-31 GB disk) vs broadcast 40.8/20.5/23.5/35.5 s
#: (2.3-10x), and block-shaped density 102 -> shuffle 136.6 s vs
#: broadcast 75.6 s (1.8x). The honest shuffle's FIXED machinery (x16
#: salt replication + per-partition hash-map builds, ~60-90 s at 18M
#: rows) already exceeds the kernel's fixed index cost (~40 s,
#: 319 MB), so inside the row window broadcast dominates at every
#: measured density and pair-cardinality shape; auto now picks it
#: unconditionally in-window and skips the density sizing aggregate
#: entirely (two fewer jobs in the sizing pass).
CONTAINMENT_BROADCAST_MAX_PROBE_ROWS = 40_000_000
CONTAINMENT_BROADCAST_MIN_PROBE_ROWS = 500_000

#: Salt fan-out for the true-shuffle probe join. The hot-shingle skew
#: is MULTIPLICATIVE — a template shingle's join output is
#: probes(m) x inventory(m) while its shuffle INPUT partition stays a
#: few MB, so AQE's skew detection (input-partition bytes) never sees
#: it and one reducer inherits the whole df^2 core (measured at sf0.1:
#: 53 s single-reducer vs ~3 s when the work is spread). Salting
#: splits each key's inventory rows over this many reducers
#: (salt = hash(pb) % S) and replicates the narrow probe side x S —
#: the bounded, deterministic spread the old accidental broadcast-inv
#: plan got for free from scan partitioning.
CONTAINMENT_SHUFFLE_SALT = 16

#: broadcast_inv's own memory bound (r12 advice): the probe-row floor
#: bounds argmin rows (64/doc), NOT inventory rows (distinct
#: shingles/doc — 5k-50k on real documents), so a below-floor corpus
#: of a few thousand long docs can still carry a 100M+-row inventory
#: whose forced F.broadcast() would hit Spark's 8 GiB broadcast hard
#: limit / driver OOM. 20M rows ~= 1-2 GiB as a JVM hashed relation —
#: comfortably inside the limit; above it the salted shuffle is the
#: only memory-safe shape and auto must say so.
CONTAINMENT_BROADCAST_INV_MAX_ROWS = 20_000_000


def containment_auto_stats(prof: DataFrame) -> dict:
    """Sizing pass behind ``containment_lsh_pairs(strategy="auto")``:
    measure the quantities the strategy decision actually depends on,
    then apply the window above.

    - ``n_index_rows``: distinct (doc, m=h32) — the broadcast index's
      REAL grain (two permutations picking the same shingle pack
      differently yet collapse to one index row, so counting distinct
      PACKED argmins would overestimate ~7% on 500-shingle docs).
      Bounds index memory: 17-32 B/row measured. In-window ->
      broadcast kernel, unconditionally: the r13 honest-pinned-plan
      cells showed the salted shuffle's fixed machinery alone exceeds
      the kernel's fixed index cost at every measured density and
      shape (see the retired-density-gate note above), so no further
      measurement can change the in-window pick.
    - ``n_inv_rows`` (below the floor only): total distinct shingles —
      the broadcast_inv build side, a separate axis from probe rows
      (r12 advice); over its cap the salted shuffle is the only
      memory-safe shape.

    ``n_matched`` (the probe join's output volume) is no longer part
    of any decision and is returned as None; the ceiling tool computes
    it itself when characterizing cells.

    Cost: one aggregate job over the (already-checkpointed) profile,
    plus one more below the floor."""
    mask = lambda x: x.bitwiseAND(F.lit(0xFFFFFFFF))  # noqa: E731
    n_index_rows = (
        prof.select(
            F.sum(F.size(F.array_distinct(F.transform("argmins", mask)))).alias("n")
        ).collect()[0][0]
        or 0
    )
    in_window = (
        CONTAINMENT_BROADCAST_MIN_PROBE_ROWS
        <= n_index_rows
        <= CONTAINMENT_BROADCAST_MAX_PROBE_ROWS
    )
    if in_window:
        return {
            "n_index_rows": int(n_index_rows),
            "n_inv_rows": None,
            "n_matched": None,
            "strategy": "broadcast",
        }
    # BELOW the floor the probe side is provably small, but the
    # INVENTORY is a separate axis (distinct shingles/doc, not
    # argmins/doc — r12 advice), so the JVM broadcast-inv plan — the
    # shape Catalyst used to pick by accident and the measured
    # small-corpus winner (sf0.1: 3.0 s vs 9.0 s kernel, 53 s
    # single-reducer true shuffle) — is chosen only while the inventory
    # row count also clears its own broadcast bound; otherwise, and
    # ABOVE the ceiling, nothing may broadcast and the salted shuffle
    # is the only memory-safe plan.
    below = n_index_rows < CONTAINMENT_BROADCAST_MIN_PROBE_ROWS
    n_inv_rows = None
    strategy = "shuffle"
    if below:
        n_inv_rows = int(
            prof.select(
                F.sum(
                    F.size(F.array_distinct(F.transform("shingles", mask)))
                ).alias("n")
            ).collect()[0][0]
            or 0
        )
        if n_inv_rows <= CONTAINMENT_BROADCAST_INV_MAX_ROWS:
            strategy = "broadcast_inv"
    return {
        "n_index_rows": int(n_index_rows),
        "n_inv_rows": n_inv_rows,
        "n_matched": None,
        "strategy": strategy,
    }


def containment_lsh_pairs(
    docs: DataFrame,
    k: int = 8,
    threshold: float = 0.8,
    num_hashes: int = 64,
    profile: DataFrame | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Scale path for :func:`containment_pairs` — one-sided LSH: band
    each doc's argmin signature (see containment_argmin_profile)
    against the corpus shingle inventory instead of self-joining the
    inventory quadratically. MinHash banding is NOT valid here (it
    recalls high-Jaccard pairs; a quote inside a long doc has J ~ 0),
    so the candidate filter is the directional argmin-hit count.

    Stages: probe join (argmins x inventory, equi-join on the shingle
    hash — linear in corpus shingles, never pair-quadratic) -> count
    matched permutations per directed pair -> cutoff filter -> exact
    containment verification of the surviving pairs only via
    array_intersect. Output schema and semantics match the exact
    kernel: (da, db, c_a_in_b, c_b_in_a), da < db, max(c) >= threshold.

    Scale notes, measured at sf0.1 (5k docs, ~13k distinct shingles,
    hot shingles with df > 512 — heavily templated):

    - Probe volume is sum(df(h) x probes targeting h) ~ 64/|A| x
      sum(df^2) — the SAME df^2 shape as the exact kernel, shrunk by
      the sampling ratio 64/|A| (0.128 at these 500-shingle docs;
      0.01-0.001 at real 5k-50k-shingle documents, where the LSH wins
      decisively). At matched doc length the two are near-parity
      (3.9 s vs 4.0 s warm at threshold 0.8).
    - The default threshold is 0.8 — the quote/near-copy detection
      point this banding is tuned to, like the 16x4 MinHash banding is
      tuned to J >= 0.8. At 0.8 the cutoff is 35/64 and candidates
      collapse (~1.6k directed at sf0.1); at 0.5 the 5-sigma-sound
      cutoff is 12/64 and THIS corpus's template mass (17% of all
      pairs sit at C >= 0.19) forces ~2M candidates into exact
      verification — permissive thresholds belong to the exact kernel.
    - A df-cap (stop-shingle) prefilter was measured and REJECTED: on
      near-dup-family corpora high df comes from the duplicate
      clusters themselves, so capping drops true pairs (657 -> 312 at
      cap 64) — it is not the boilerplate hardening it is for web
      text.

    ``profile``: pass a precomputed (doc_id, shingles, argmins) frame —
    e.g. :func:`joint_shingle_profile` shared with the MinHash build —
    to skip this operator's own corpus scan.

    ``strategy``: how the matched-argmin counts are produced. The
    directed counting is the measured core of this operator (at the
    sf1 fixture: 1.36B probe-match instances collapse to 233M distinct
    directed pairs before the cutoff keeps 9.3k — a 33 GB shuffle into
    a spill-heavy aggregation). Two shapes, same Spark philosophy as
    broadcast-vs-shuffle join selection:

    - ``"shuffle"`` — the salted, SHUFFLE_HASH-pinned probe equi-join
      + count aggregate; the only shape that scales to a corpus whose
      probe index exceeds executor memory. The 100 TB path. Pinned
      because Catalyst's explode-blind size estimates otherwise
      broadcast the inventory (12 GiB attempt at sf10); salted because
      hot-shingle skew is multiplicative and invisible to AQE's
      input-size-based skew splitting (see
      :data:`CONTAINMENT_SHUFFLE_SALT`).
    - ``"broadcast_inv"`` — JVM plan that broadcasts the shingle
      INVENTORY and streams probes in their scan partitions. The
      measured small-corpus winner (sf0.1: 3.0 s vs 9.0 s kernel vs
      53 s unsalted true shuffle); only safe while the inventory is
      bounded, so auto picks it below the probe-row floor AND under
      the inventory's own broadcast cap.
    - ``"broadcast"`` — invert the probes into an (argmin -> packed
      doc/weight arrays) index, broadcast it (~16 B per probe row),
      and count matches LOCALLY per inventory document with vectorized
      numpy inside ``mapInPandas``: zero shuffle, nothing
      materialized per sub-cutoff pair, integer-exact identical
      counts. Valid while the probe index fits task memory
      (:data:`CONTAINMENT_BROADCAST_MAX_PROBE_ROWS`).
    - ``"auto"`` (default) — kernel broadcast whenever the index-row
      count sits inside [:data:`CONTAINMENT_BROADCAST_MIN_PROBE_ROWS`,
      :data:`CONTAINMENT_BROADCAST_MAX_PROBE_ROWS`] (index memory);
      the former density gate is retired — re-measured against the
      honest pinned shuffle, broadcast wins in-window at every density
      and shape (see :func:`containment_auto_stats`). Below the floor:
      ``broadcast_inv`` — if the inventory row count also clears
      :data:`CONTAINMENT_BROADCAST_INV_MAX_ROWS` (the probe floor does
      not bound the inventory axis). Above the ceiling, or
      inventory-heavy below the floor: the salted shuffle.
      Mirrors ``spark.sql.autoBroadcastJoinThreshold``'s size-based
      switch, on the index's true row grain."""
    prof = (
        profile
        if profile is not None
        else containment_argmin_profile(docs, k, num_hashes)
    )
    cutoff = containment_cutoff(threshold, num_hashes)
    if strategy not in ("auto", "shuffle", "broadcast", "broadcast_inv"):
        raise ValueError(f"unknown containment strategy: {strategy!r}")
    if strategy == "auto":
        stats = containment_auto_stats(prof)
        strategy = stats["strategy"]
    if strategy == "broadcast":
        matched = _containment_counts_broadcast(prof, cutoff)
    else:
        probes = prof.select(
            F.col("doc_id").alias("pa"),
            F.explode("argmins").alias("packed"),
        ).select("pa", F.col("packed").bitwiseAND(F.lit(0xFFFFFFFF)).alias("m"))
        # inventory in the same 32-bit probe domain; array_distinct runs
        # map-side (no extra shuffle), deduping the rare h32 collision
        # WITHIN a doc so it can't double-count a match
        inv = prof.select(
            F.col("doc_id").alias("pb"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        "shingles", lambda x: x.bitwiseAND(F.lit(0xFFFFFFFF))
                    )
                )
            ).alias("h"),
        )
        if strategy == "broadcast_inv":
            # Small-corpus JVM plan: broadcast the (provably bounded —
            # below-floor) inventory and stream probes in their scan
            # partitions, which spreads hot-shingle output across every
            # probe partition for free. This is the shape Catalyst used
            # to pick by accident from explode-blind stats; making it
            # explicit keeps it exactly where it is SAFE.
            joined = probes.join(
                F.broadcast(inv),
                (F.col("m") == F.col("h")) & (F.col("pa") != F.col("pb")),
            )
        else:
            # True-shuffle path — the only memory-safe plan for corpora
            # whose inventory can't broadcast. Two pins, both
            # load-bearing:
            # 1. SHUFFLE_HASH hint (build = probes, the narrower side):
            #    Catalyst's size estimate for an exploded child is the
            #    UNEXPLODED child's, so the static planner picked
            #    BroadcastHashJoin with the ~8x-wider inventory as the
            #    build side — at sf10 a 12 GiB hashed relation that
            #    DIED on Spark's 8 GiB broadcast hard limit.
            # 2. Salting (see CONTAINMENT_SHUFFLE_SALT): hot-shingle
            #    skew is multiplicative — join OUTPUT explodes while
            #    the shuffle INPUT partition stays small, so AQE skew
            #    splitting (input-bytes-based) never triggers and one
            #    reducer inherits a template shingle's whole df^2 core
            #    (measured: 53 s at sf0.1 unsalted). Salt spreads each
            #    key's inventory over S reducers for the cost of
            #    replicating the 12-byte probe rows x S.
            s_n = CONTAINMENT_SHUFFLE_SALT
            probes_s = probes.withColumn(
                "salt_p", F.explode(F.array(*[F.lit(i) for i in range(s_n)]))
            )
            inv_s = inv.withColumn(
                "salt_i", F.pmod(F.xxhash64("pb"), F.lit(s_n)).cast("int")
            )
            joined = probes_s.hint("shuffle_hash").join(
                inv_s,
                (F.col("m") == F.col("h"))
                & (F.col("salt_p") == F.col("salt_i"))
                & (F.col("pa") != F.col("pb")),
            )
        matched = (
            joined.groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= cutoff)
        )
    cand = matched.select(
        F.least("pa", "pb").alias("da"), F.greatest("pa", "pb").alias("db")
    ).distinct()
    a = prof.select(F.col("doc_id").alias("da"), F.col("shingles").alias("sa"))
    b = prof.select(F.col("doc_id").alias("db"), F.col("shingles").alias("sb"))
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    c_ab = common.cast("double") / F.size("sa")
    c_ba = common.cast("double") / F.size("sb")
    # Same estimate blindness on the verification joins: the planner
    # was broadcasting the FULL profile sides (a then b — unbounded,
    # ~2 GB of shingle arrays at sf10; a corpus-sized broadcast at
    # 100 TB). Pin the build side to the candidate subtree, which the
    # cutoff filter bounds, and shuffle the profile sides on the doc
    # key instead.
    return (
        cand.hint("shuffle_hash")
        .join(a, "da")
        .hint("shuffle_hash")
        .join(b, "db")
        .select("da", "db", c_ab.alias("c_a_in_b"), c_ba.alias("c_b_in_a"))
        .filter(F.greatest("c_a_in_b", "c_b_in_a") >= threshold)
        .orderBy("da", "db")
    )


def containment_lsh_pairs_sql(
    k: int = 8,
    threshold: float = 0.8,
    num_hashes: int = 64,
    source: str = "documents",
) -> str:
    """Full SQL replay of :func:`containment_lsh_pairs` — argmin
    signatures (deterministic struct-min), inventory probe, cutoff,
    and exact verification restricted to the surviving candidates — so
    a recall miss in the probe stage would hash-mismatch instead of
    being absorbed by equivalence to the exact kernel."""
    cutoff = containment_cutoff(threshold, num_hashes)
    hm = f"(h % {MERSENNE_31})"
    argmins = ",\n         ".join(
        f"MIN(((({MINHASH_A[i]} * {hm} + {MINHASH_B[i]}) % {MERSENNE_31}) << 32)"
        f" | (h & 4294967295)) AS m{i}"
        for i in range(num_hashes)
    )
    unnest_list = ", ".join(f"m{i}" for i in range(num_hashes))
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, {hash60_sql('s')} AS h FROM ({_shingles_sql(k, source)})
),
prof AS MATERIALIZED (
  SELECT doc_id,
         {argmins}
  FROM sh GROUP BY doc_id
),
probes AS MATERIALIZED (
  SELECT doc_id, unnest([{unnest_list}]) & 4294967295 AS m FROM prof
),
inv AS MATERIALIZED (
  SELECT DISTINCT doc_id, h & 4294967295 AS h32 FROM sh
),
matched AS (
  SELECT p.doc_id AS pa, inv.doc_id AS pb, COUNT(*) AS cnt
  FROM probes p JOIN inv ON p.m = inv.h32 AND p.doc_id != inv.doc_id
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT least(pa, pb) AS da, greatest(pa, pb) AS db
  FROM matched WHERE cnt >= {cutoff}
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT c.da, c.db, COUNT(*) AS common
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.h = x.h
  GROUP BY 1, 2
)
SELECT da, db,
       CAST(common AS DOUBLE) / sa.n AS c_a_in_b,
       CAST(common AS DOUBLE) / sb.n AS c_b_in_a
FROM common JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
WHERE greatest(CAST(common AS DOUBLE) / sa.n,
               CAST(common AS DOUBLE) / sb.n) >= {threshold}
ORDER BY da, db
"""


# ----------------------------------------------------------------------
# MinHash + LSH
def minhash_signatures(docs: DataFrame, k: int = 8, num_hashes: int = 64) -> DataFrame:
    """(doc_id, sig: array<bigint>) — min over the shingle set of
    pmod(a_i * h(s) + b_i, 2^31-1) per permutation i, with
    h(s) = hash60 (md5-60bit) reduced mod 2^31-1.

    Explode + one group-by with 64 min-aggregates: the aggregation is
    whole-stage-codegen'd (array higher-order functions are interpreted,
    measurably slower at this expression count) and the shuffle carries
    only (doc_id, 64 longs). Shingles enter pre-hashed (see
    char_shingle_hashes) so no strings cross the exchange.
    """
    sh = char_shingle_hashes(docs, k)
    h = F.pmod(F.col("h"), F.lit(MERSENNE_31))
    mins = [
        F.min(
            F.pmod(F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i]), F.lit(MERSENNE_31))
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def band_key_array(sig: Column, bands: int = 16, rows: int = 4) -> Column:
    """Array of ``bands`` band keys for a signature array: hash60 over
    the comma-joined decimal rendering of (band index, the band's
    signature slice). A doc's band keys are a pure function of its
    signature — identical whether it sits in a live batch or a persisted
    index, which is what makes the incremental probe join valid — and
    SQL-replayable (band-key work is doc-cardinality × bands, negligible
    next to shingle hashing)."""
    return F.array(
        *[
            hash60(
                F.concat_ws(
                    ",",
                    F.lit(str(j)),
                    *[sig[j * rows + r].cast("string") for r in range(rows)],
                )
            )
            for j in range(bands)
        ]
    )


def lsh_candidate_pairs(sig: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """Distinct candidate pairs (da < db) from band-bucket collisions.
    The band key is a hash of (band index, the band's signature slice);
    the join shuffles on that key only."""
    band_keys = band_key_array(F.col("sig"), bands, rows)
    banded = sig.select(
        "doc_id", F.posexplode(band_keys).alias("band", "key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    # SHUFFLE_HASH pin (r12): Catalyst estimates the posexploded frame
    # at its UNEXPLODED parent's size, so the static planner broadcast
    # one side of this self-join — fine at bench scale, but at sf10 the
    # 8M-row banded side's hashed relation exceeded driver memory and
    # the build DIED. A banded self-join must shuffle on its band key;
    # per-key output is bounded by duplicate-family size, so no salt is
    # needed (unlike the containment probe join's template shingles).
    return (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )


def minhash_profile(docs: DataFrame, k: int = 8, num_hashes: int = 64) -> DataFrame:
    """(doc_id, shingles: array<bigint>, sig) in ONE scan + ONE shuffle:
    the signature min-aggregates and the shingle set (collect_set of the
    64-bit shingle hashes, not the strings — ~4x fewer shuffle bytes and
    long-vs-long intersection downstream) come out of the same group-by,
    so candidate generation and exact verification share a single pass
    over the corpus."""
    sh = char_shingle_hashes(docs, k)
    h = F.pmod(F.col("h"), F.lit(MERSENNE_31))
    mins = [
        F.min(
            F.pmod(F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i]), F.lit(MERSENNE_31))
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("doc_id").agg(F.collect_set("h").alias("shingles"), *mins)
    return agg.select(
        "doc_id",
        "shingles",
        F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"),
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    k: int = 8,
    threshold: float = 0.8,
    profile: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard (the standard two-stage
    near-dup pipeline). Output (da, db, jaccard) with J >= threshold.

    Every stage is md5-based (hash60 shingles, hash60 band keys,
    integer permutations), so the WHOLE pipeline — candidates included
    — value-hashes against :func:`minhash_lsh_pairs_sql`, not merely
    against the exact-Jaccard equivalence. That equivalence still holds
    (16x4 banding at the 0.8 threshold: P(miss) < 2e-4 even for a pair
    at exactly J=0.8) and is verified against jaccard_pairs in tests.
    """
    # The profile feeds THREE plan branches (banding, both verification
    # sides); Spark shares the signature group-by's shuffle output across
    # them via ReusedExchange, so no materialization is needed here —
    # checkpointing the (shingle-array-heavy) profile was measured
    # SLOWER than the exchange reuse.
    prof = profile if profile is not None else minhash_profile(docs, k)
    cand = lsh_candidate_pairs(prof.select("doc_id", "sig"))
    a = prof.select(F.col("doc_id").alias("da"), F.col("shingles").alias("sa"))
    b = prof.select(F.col("doc_id").alias("db"), F.col("shingles").alias("sb"))
    # Verification joins candidates back to the two shingle sets and
    # intersects the arrays map-side - candidate count x O(|set|) work,
    # no shingle-level shuffle. Build side pinned to the banding-bounded
    # candidate set (r12): left to its stats, Catalyst broadcast the
    # PROFILE sides — which are corpus-sized (shingle arrays) and die at
    # scale, the same explode-blind-estimate failure the containment
    # verification joins had.
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    na, nb = F.size(F.col("sa")), F.size(F.col("sb"))
    j = common.cast("double") / (na + nb - common)
    return (
        cand.hint("shuffle_hash")
        .join(a, "da")
        .hint("shuffle_hash")
        .join(b, "db")
        .select("da", "db", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("da", "db")
    )


def minhash_lsh_pairs_sql(
    k: int = 8,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    source: str = "documents",
) -> str:
    """Full SQL replay of :func:`minhash_near_dup_pairs` — the ACTUAL
    LSH pipeline, not the exact-Jaccard equivalence: hash60 shingles ->
    the 64 integer permutations (MINHASH_A/B literals, generated from
    the same module constants the engine uses) -> hash60 band keys ->
    band-collision candidates -> hashed-set Jaccard verification
    restricted to candidates. A banding recall miss would therefore
    show up as a hash mismatch instead of being silently absorbed.

    Verification scale only: the 64 min-aggregates and the 16-way band
    union are one pass each over the shingle/sig CTEs (MATERIALIZED so
    DuckDB doesn't re-derive the unnest per consumer)."""
    hm = f"(h % {MERSENNE_31})"
    mins = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * {hm} + {MINHASH_B[i]}) % {MERSENNE_31}) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, "
        + hash60_sql(
            "concat_ws(',', '"
            + str(j)
            + "', "
            + ", ".join(f"h{j * rows + r}" for r in range(rows))
            + ")"
        )
        + " AS key FROM sig"
        for j in range(bands)
    )
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, {hash60_sql('s')} AS h FROM ({_shingles_sql(k, source)})
),
sig AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM sh GROUP BY doc_id
),
bandkeys AS MATERIALIZED (
  {band_selects}
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bandkeys a JOIN bandkeys b ON a.key = b.key AND a.doc_id < b.doc_id
),
size AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT c.da, c.db, COUNT(*) AS common
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.h = x.h
  GROUP BY 1, 2
)
SELECT da, db,
       CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
FROM common JOIN size sa ON sa.doc_id = da JOIN size sb ON sb.doc_id = db
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= {threshold}
ORDER BY da, db
"""


def minhash_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-band maintenance + skew report over the persisted LSH index
    (r16) — the OBSERVE instrument whose ACT is
    :func:`compact_minhash_index`, completing the observe→decide loop
    for the third index family (text: ``text_index_stats`` →
    ``compact_text_index``; vectors: ``ivf_list_stats`` →
    ``rebalance_ivf_index``). One row per (component, band):

    - ``n_files``: parquet files in the band partition (driver-side FS
      metadata only) — the streamed-ingest fragmentation signal;
    - ``n_rows``: physical rows (replayed appends included);
    - ``n_entries``: distinct (doc_id, key) entries — the logical
      band size;
    - ``n_replay_dups``: n_rows − n_entries, the compaction payload;
    - ``n_docs`` / ``n_keys``: distinct docs / distinct band-bucket
      keys — bucket-count sizing for the probe join;
    - ``max_bucket``: the largest bucket's distinct-doc count — the
      LSH HOT-BUCKET skew signal (a banded self-join's per-key output
      is quadratic in this; the number a 100 TB operator actually
      watches).

    ``profiles`` reports as band −1 with the key columns null. The
    LIVE columns (n_docs, n_keys, max_bucket) are pure functions of
    the indexed corpus — the registered row value-hashes them against
    the signature replay (:func:`minhash_index_stats_sql`); physical
    columns are the pytest-covered maintenance signals."""
    import glob as _glob

    def _file_counts(comp: str) -> dict[int, int]:
        root = index_component_path(index_dir, comp)
        out: dict[int, int] = {}
        for d in _glob.glob(os.path.join(root, "band=*")):
            b = int(os.path.basename(d).split("=")[1])
            out[b] = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        return out

    bands = spark.read.parquet(index_component_path(index_dir, "bands"))
    per_bucket = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("doc_id").alias("sz"),
    )
    per_band = (
        per_bucket.groupBy("band")
        .agg(
            F.sum("rows").cast("long").alias("n_rows"),
            F.sum("sz").cast("long").alias("n_entries"),
            F.count_distinct("key").cast("long").alias("n_keys"),
            F.max("sz").cast("long").alias("max_bucket"),
        )
        .collect()
    )
    # distinct docs per band (a doc emits ONE key per band, so this is
    # a second tiny rollup, not a rescan of shingles)
    docs_per_band = {
        r["band"]: r["n"]
        for r in bands.groupBy("band")
        .agg(F.count_distinct("doc_id").alias("n"))
        .collect()
    }
    files = _file_counts("bands")
    rows = [
        (
            "bands",
            int(r["band"]),
            files.get(int(r["band"]), 0),
            r["n_rows"],
            r["n_entries"],
            r["n_rows"] - r["n_entries"],
            int(docs_per_band[r["band"]]),
            r["n_keys"],
            r["max_bucket"],
        )
        for r in per_band
    ]
    prof = spark.read.parquet(index_component_path(index_dir, "profiles"))
    pr = prof.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    ).collect()[0]
    prof_files = sum(
        1
        for f in os.listdir(index_component_path(index_dir, "profiles"))
        if f.endswith(".parquet")
    )
    rows.append(
        (
            "profiles",
            -1,
            prof_files,
            pr["n_rows"],
            pr["n_docs"],
            pr["n_rows"] - pr["n_docs"],
            pr["n_docs"],
            None,
            None,
        )
    )
    return spark.createDataFrame(
        rows,
        "component string, band int, n_files int, n_rows long, "
        "n_entries long, n_replay_dups long, n_docs long, n_keys long, "
        "max_bucket long",
    ).orderBy("component", "band")


def minhash_index_stats_sql(
    k: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    source: str = "documents",
) -> str:
    """DuckDB replay of the LIVE columns of
    :func:`minhash_index_stats` for the ``bands`` component: the
    signature CTEs of :func:`minhash_lsh_pairs_sql`, banded WITH the
    band index kept, then per-band distinct-doc / distinct-key /
    max-bucket rollups. ``source`` takes the indexed-corpus predicate
    (the registered row passes the 80% split the index build uses)."""
    hm = f"(h % {MERSENNE_31})"
    mins = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * {hm} + {MINHASH_B[i]}) % {MERSENNE_31}) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, CAST({j} AS INT) AS band, "
        + hash60_sql(
            "concat_ws(',', '"
            + str(j)
            + "', "
            + ", ".join(f"h{j * rows + r}" for r in range(rows))
            + ")"
        )
        + " AS key FROM sig"
        for j in range(bands)
    )
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, {hash60_sql('s')} AS h FROM ({_shingles_sql(k, source)})
),
sig AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM sh GROUP BY doc_id
),
bandkeys AS MATERIALIZED (
  {band_selects}
),
buckets AS (
  SELECT band, key, COUNT(DISTINCT doc_id) AS sz
  FROM bandkeys GROUP BY 1, 2
),
per_key AS (
  SELECT band,
         CAST(SUM(sz) AS BIGINT) AS n_entries,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(sz) AS BIGINT) AS max_bucket
  FROM buckets GROUP BY band
),
per_doc AS (
  SELECT band, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM bandkeys GROUP BY band
)
SELECT band, n_entries, n_docs, n_keys, max_bucket
FROM per_key JOIN per_doc USING (band) ORDER BY band
"""


# ----------------------------------------------------------------------
# Incremental dedup: persisted LSH index + probe
def build_minhash_index(docs: DataFrame, index_dir: str, k: int = 8) -> None:
    """Persist the corpus near-dup index: ``bands/`` (doc_id, band, key
    — partitioned by band, sorted by key within each partition for
    row-group min/max skipping on the join key) and ``profiles/``
    (doc_id, shingle-hash sets, for exact verification). Built ONCE per
    corpus snapshot; every new crawl increment then probes against it
    without re-scanning or re-signing the corpus — the offline/online
    split that makes dedup-on-ingest affordable at 100 TB (the IVF
    lifecycle's pattern applied to text).

    A full build SUPERSEDES any versioned history at this path
    (``index_store.reset_versions``)."""
    reset_versions(index_dir)
    prof = minhash_profile(docs, k)
    banded = prof.select(
        "doc_id", F.posexplode(band_key_array(F.col("sig"))).alias("band", "key")
    )
    (
        banded.repartition("band")
        .sortWithinPartitions("key")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(f"{index_dir}/bands")
    )
    prof.select("doc_id", "shingles").write.mode("overwrite").parquet(
        f"{index_dir}/profiles"
    )


def compact_minhash_index(
    spark: SparkSession,
    index_dir: str,
    drop_doc_ids: DataFrame | None = None,
) -> dict:
    """Index maintenance between rebuilds: rewrite ``bands/`` and
    ``profiles/`` (1) deduplicating rows an at-least-once replayed
    ingest batch re-appended (harmless for correctness — candidate
    generation applies distinct() — but they inflate every probe's
    scan), and (2) physically dropping ``drop_doc_ids`` (documents
    retracted by a later curation pass; the ingest contract itself
    never retracts). Returns before/after row counts per component —
    the report a maintenance job logs. Probe results over a compacted
    index are IDENTICAL (pytest-asserted): dedup and tombstone-drop
    change bytes, not candidates.

    Publication is a versioned, snapshot-isolated publish: both
    components are rewritten into a new version and made live by the
    CURRENT-pointer swap, under ``operators.index_store``'s crash-safety,
    retention and single-owner contract."""
    stats: dict = {}
    drops = (
        drop_doc_ids.select(F.col(drop_doc_ids.columns[0]).alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
        if drop_doc_ids is not None
        else None
    )
    new_root = next_version(index_dir)
    for comp, keys in (("bands", ["doc_id", "band", "key"]), ("profiles", None)):
        path = index_component_path(index_dir, comp)
        cur = spark.read.parquet(path)
        before = cur.count()
        if keys is not None:
            new = cur.select(*keys).distinct()
        else:
            # profiles: one row per doc survives (replays append
            # identical rows; keep-first is deterministic here because
            # replayed rows are value-identical)
            new = dedup_keep_first(cur, "doc_id")
        if drops is not None:
            new = new.join(drops, "doc_id", "anti")
        out = os.path.join(new_root, comp)
        writer = new.write.mode("overwrite")
        if comp == "bands":
            writer = (
                new.repartition("band")
                .sortWithinPartitions("key")
                .write.mode("overwrite")
                .partitionBy("band")
            )
        writer.parquet(out)
        after = spark.read.parquet(out).count()
        stats[comp] = {"before": before, "after": after}
    publish_version(index_dir, new_root, flat=("bands", "profiles"))
    if drops is not None:
        drops.unpersist()
    return stats


def probe_minhash_index(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    k: int = 8,
    threshold: float = 0.8,
    new_prof: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW document batch and the persisted
    corpus index: sign only the increment, join its band keys against
    the indexed band table (corpus side never re-signed), verify
    candidates with exact hashed-set Jaccard against the stored
    profiles. Output (da, db, jaccard), da < db, one row per
    cross-corpus near-dup pair.

    Scale shape: cost is O(increment) signing + a band-key equi-join
    whose corpus side is a pruned parquet scan — independent of corpus
    size in compute, corpus-sized only in the (sorted, skippable) index
    scan. The increment's profile feeds both the banding and the
    verification, exactly like the batch pipeline."""
    if new_prof is None:
        new_prof = minhash_profile(new_docs, k)
    new_banded = new_prof.select(
        F.col("doc_id").alias("new_id"),
        F.posexplode(band_key_array(F.col("sig"))).alias("band", "key"),
    )
    idx_bands = spark.read.parquet(index_component_path(index_dir, "bands"))
    idx_prof = spark.read.parquet(index_component_path(index_dir, "profiles"))
    cand = (
        new_banded.join(
            idx_bands,
            (new_banded["band"] == idx_bands["band"])
            & (new_banded["key"] == idx_bands["key"]),
        )
        .select(F.col("new_id"), idx_bands["doc_id"].alias("corpus_id"))
        .distinct()
    )
    a = new_prof.select(
        F.col("doc_id").alias("new_id"), F.col("shingles").alias("sa")
    )
    b = idx_prof.select(
        F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sb")
    )
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    na, nb = F.size(F.col("sa")), F.size(F.col("sb"))
    j = common.cast("double") / (na + nb - common)
    return (
        cand.join(a, "new_id")
        .join(b, "corpus_id")
        .select(
            F.least("new_id", "corpus_id").alias("da"),
            F.greatest("new_id", "corpus_id").alias("db"),
            j.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("da", "db")
    )


def minhash_cross_pairs_sql(
    k: int = 8,
    threshold: float = 0.8,
    source: str = "documents",
    side_pred: str = "TRUE",
) -> str:
    """Replay of :func:`probe_minhash_index`: run the single-source LSH
    replay over ``source`` and keep only pairs whose two sides fall on
    OPPOSITE sides of ``side_pred`` (the corpus/increment split
    predicate over doc_id) — banding a doc yields the same keys whether
    it lives in a batch or the persisted index, so the union replay's
    cross pairs ARE the probe's output."""
    return f"""
WITH allpairs AS ({minhash_lsh_pairs_sql(k, threshold, source=source)})
SELECT da, db, jaccard FROM allpairs
WHERE ({side_pred.replace('doc_id', 'da')}) <>
      ({side_pred.replace('doc_id', 'db')})
ORDER BY da, db
"""


# ----------------------------------------------------------------------
# SimHash
#: SimHash width: 60 bits = 15 md5 hex chars. md5 (not xxhash64) is the
#: token hash ON PURPOSE: it exists with identical output in DuckDB, so
#: the entire signature -> banded pairs pipeline is SQL-replayable and
#: oracle-checked. 60 bits also stays clear of the long sign bit, so the
#: packed signature needs no two's-complement special case. MinHash-LSH
#: (hash60 above) now follows the same discipline.
SIMHASH_BITS = 60


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over distinct tokens of the normalized text:
    bit b = sign of sum over tokens of (bit b of h(token) ? +1 : -1),
    h = the low 60 bits (15 hex chars) of md5. One explode + one
    60-expression group-by (map-side partial agg)."""
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(n_parts, F.col("doc_id")).select(
        "doc_id", F.explode(F.array_distinct(tokens(normalized("text")))).alias("tok")
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    sums = [
        F.sum(
            F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    packed = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else packed + term
    return agg.select("doc_id", packed.alias("simhash"))


def pack_bits64(bits) -> tuple[int, int]:
    """Pack a 64-element boolean sequence into two 32-bit halves
    (lo = bits 0-31, hi = bits 32-63) carried as BIGINTs — the one
    packing every 64-bit fingerprint in this repo uses (image aHash,
    audio contour): no signed bit-63 edge, and XOR/bit_count stay
    native in Spark and the DuckDB replays."""
    lo = hi = 0
    for j in range(64):
        if bits[j]:
            if j < 32:
                lo |= 1 << j
            else:
                hi |= 1 << (j - 32)
    return lo, hi


def hash64_band_chunks(lo_col: str = "h_lo", hi_col: str = "h_hi") -> Column:
    """The 4 x 16-bit band keys of a packed 64-bit fingerprint — the
    single source of the banding geometry ``banded_hamming_pairs``'s
    pigeonhole exactness proof depends on (4 bands -> exact at
    Hamming <= 3)."""
    return F.array(
        F.col(lo_col).bitwiseAND(F.lit(0xFFFF)),
        F.shiftrightunsigned(lo_col, 16).bitwiseAND(F.lit(0xFFFF)),
        F.col(hi_col).bitwiseAND(F.lit(0xFFFF)),
        F.shiftrightunsigned(hi_col, 16).bitwiseAND(F.lit(0xFFFF)),
    )


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    hash_cols: list[str],
    chunks: Column,
    n_bands: int,
    max_hamming: int,
    out_a: str = "da",
    out_b: str = "db",
) -> DataFrame:
    """Shared scaffold for pigeonhole Hamming-banded near-dup pairs
    (simhash over text, aHash over images): explode the ``n_bands``
    band keys in ``chunks``, equi-join on (band, key), verify only the
    band-collision candidates with bit_count over the XOR of
    ``hash_cols``. Output: (out_a, out_b, hamming), out_a < out_b.

    Exactness requires max_hamming < n_bands — a pair differing in
    >= n_bands bits can place one differing bit in EVERY band and
    never collide; raise rather than silently lose recall (the
    brute-force oracle twins stay exact at any threshold, so a silent
    miss here would surface as a baffling oracle mismatch).
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding with {n_bands} bands is only exact for "
            f"max_hamming < {n_bands}, got {max_hamming}"
        )
    banded = sig.select(id_col, *hash_cols, F.posexplode(chunks).alias("band", "key"))
    a, b = banded.alias("a"), banded.alias("b")
    # SHUFFLE_HASH pin (r12): Catalyst estimates a posexploded frame at
    # its unexploded parent's size, so left to stats the planner
    # broadcasts one side of this corpus-sized self-join (the same
    # failure that died at sf10 in the minhash band join). Banded
    # self-joins must shuffle on the band key; per-key output is
    # bounded by near-dup family size.
    cand = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
            *[F.col(f"a.{h}").alias(f"__a{i}") for i, h in enumerate(hash_cols)],
            *[F.col(f"b.{h}").alias(f"__b{i}") for i, h in enumerate(hash_cols)],
        )
        .distinct()
    )
    hamming = None
    for i in range(len(hash_cols)):
        term = F.bit_count(F.col(f"__a{i}").bitwiseXOR(F.col(f"__b{i}")))
        hamming = term if hamming is None else hamming + term
    return (
        cand.select(out_a, out_b, hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy(out_a, out_b)
    )


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance <= max_hamming, found by banding the
    60-bit hash into 4 x 15-bit chunks (pigeonhole: any pair with <= 3
    differing bits collides on at least one chunk) then verifying with
    bit_count on the candidates."""
    sh = simhash(docs)
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), 15 * j).bitwiseAND(F.lit(0x7FFF))
            for j in range(4)
        ]
    )
    return banded_hamming_pairs(
        sh, "doc_id", ["simhash"], chunks, n_bands=4, max_hamming=max_hamming
    )


def simhash_pairs_sql(max_hamming: int = 3, bits: int = SIMHASH_BITS) -> str:
    """Exact SQL twin of ``simhash_near_dup_pairs``: the identical md5
    token hash, per-bit sign sums, packed signature, then an exhaustive
    pair join on bit_count(xor) — banding is exact at <= max_hamming
    (pigeonhole), so the banded engine output equals this brute-force
    replay."""
    vsums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    packed = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex({NORMALIZED_SQL}, '\s+')) AS tok
    FROM documents
  )
), hh AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
  FROM tok
), sums AS (
  SELECT doc_id,
         {vsums}
  FROM hh GROUP BY doc_id
), sig AS (
  SELECT doc_id, {packed} AS s FROM sums
)
SELECT a.doc_id AS da, b.doc_id AS db,
       bit_count(xor(a.s, b.s)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
ORDER BY da, db
"""


# ----------------------------------------------------------------------
# Near-dup clustering (connected components)
def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over an undirected edge list (da, db) ->
    (doc_id, component) where component = min doc_id in the component.

    Label propagation with POINTER JUMPING: each iteration every vertex
    adopts (1) the minimum label among itself and its neighbors, then
    (2) its label's label (shortcutting, L(v) <- L(L(v))). Step 1 alone
    converges in O(diameter) rounds; adding step 2 doubles the jump
    distance each round, giving O(log diameter) — a 100-node chain
    converges in ~8 iterations instead of 100, so the default budget is
    safe even for pathological near-dup chains at corpus scale. Each
    iteration is two joins + an aggregation (shuffle on doc_id/label);
    ``localCheckpoint`` truncates the lineage each round (an iterative
    plan otherwise grows exponentially in the optimizer).

    Verified two ways: against a driver-side union-find in tests, and
    against a recursive-CTE transitive-closure oracle
    (``connected_components_sql``) in the driver's correctness gate —
    closure is O(n^2) memory so the oracle exists at verification scale
    only; this pointer-jumping plan is the scale path.
    """
    # Materialize the edge list once: its lineage may be an entire LSH
    # pipeline, and every iteration's join would otherwise recompute it.
    sym = (
        edges.select(F.col("da").alias("src"), F.col("db").alias("dst"))
        .union(edges.select(F.col("db").alias("src"), F.col("da").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.src, "left"
        ).select(
            "doc_id",
            # the round's INPUT label rides along so the convergence
            # check below is a filter over the already-checkpointed
            # frame instead of a join back against the previous
            # iteration's labels (r16 optimization round, guide §2.4:
            # one join + its shuffle removed from every round's
            # critical path; the labels themselves are bit-identical)
            F.col("component").alias("__old"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: L(v) <- min(L(v), L(L(v))) — halves the
        # remaining chain depth every round (O(log diameter) total).
        jump = propagated.select(
            F.col("doc_id").alias("__l"), F.col("component").alias("__ll")
        )
        new_labels = (
            propagated.join(jump, propagated.component == F.col("__l"), "left")
            .select(
                "doc_id",
                "__old",
                F.least(
                    F.col("component"), F.coalesce(F.col("__ll"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(F.col("component") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("doc_id", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Component diameter exceeded the iteration budget: the labels are
        # NOT a correct clustering. Silent wrong answers are worse than a
        # failure at corpus scale (long near-dup chains are plausible).
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (component diameter too large); raise max_iterations"
        )
    return labels.orderBy("doc_id")


#: Frontier rounds used by the most recent greedy_mis_in_id_order call —
#: observability for the scaling suite (SCALE.md records round count vs
#: corpus size; the bound is the longest ascending dependency chain).
LAST_GREEDY_MIS_ROUNDS: int = 0


def greedy_mis_in_id_order(
    ids: DataFrame,
    pairs: DataFrame,
    pre_accepted: DataFrame | None = None,
    max_iterations: int = 1000,
) -> DataFrame:
    """Distributed replay of the sequential greedy acceptance used by
    dedup-on-ingest (``streaming.ingest.greedy_accept``): accept each
    id, in ascending order, iff no already-accepted id pairs with it —
    WITHOUT collecting ids or pairs to the driver, so the decision
    scales to arbitrarily fat micro-batches/backfills.

    Frontier iteration over a status partition {undecided, accepted,
    rejected}:

    - init: ids with a ``pre_accepted`` neighbor reject immediately
      (the immutable corpus never retracts, regardless of id order —
      the same seeding the sequential function applies);
    - each round, an undecided id REJECTS if any smaller ACCEPTED
      batch neighbor exists, and ACCEPTS once none of its smaller
      batch neighbors is still undecided (and none accepted).

    The smallest undecided id is decidable every round, so rounds are
    bounded by the longest ascending dependency chain — O(n) on a
    planted ascending path, a handful on the clique/star graphs real
    near-dup pairs form. Each round is a few semi/anti joins;
    ``localCheckpoint`` truncates the iterative lineage like
    ``connected_components``. Returns the accepted BATCH ids as a
    one-column ``doc_id`` frame. Equivalence with the sequential
    greedy is pytest- and property-tested."""
    nodes = (
        ids.select(F.col(ids.columns[0]).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    empty = nodes.limit(0)
    sym = (
        pairs.select(F.col("da").alias("v"), F.col("db").alias("u"))
        .union(pairs.select(F.col("db").alias("v"), F.col("da").alias("u")))
        .distinct()
        .join(nodes, "v", "semi")
    )
    if pre_accepted is not None:
        pre = pre_accepted.select(
            F.col(pre_accepted.columns[0]).alias("u")
        ).distinct()
        rejected = sym.join(pre, "u", "semi").select("v").distinct()
    else:
        rejected = empty
    smaller = (
        sym.join(nodes.select(F.col("v").alias("u")), "u", "semi")
        .filter(F.col("u") < F.col("v"))
        .localCheckpoint(eager=True)
    )
    # ONE (v, st) status frame instead of three disjoint id frames
    # (r16 optimization round, guide §1.2 step 1): the three-frame form
    # paid THREE eager localCheckpoint materializations plus an
    # isEmpty probe per round — four sequential job latencies on the
    # frontier's critical path; the fused frame pays one checkpoint +
    # one probe. The accepted/rejected/undecided SETS are unchanged
    # round for round (new_rej/new_acc are disjoint subsets of the
    # undecided set, so the two when() marks commute with the old
    # unions) — equivalence stays pinned by the sequential-greedy
    # property tests.
    status = (
        nodes.join(rejected.withColumn("__r", F.lit(1)), "v", "left")
        .select(
            "v",
            F.when(F.col("__r") == 1, F.lit("r"))
            .otherwise(F.lit("u"))
            .alias("st"),
        )
        .localCheckpoint(eager=True)
    )
    global LAST_GREEDY_MIS_ROUNDS
    LAST_GREEDY_MIS_ROUNDS = 0
    for _ in range(max_iterations):
        undecided = status.filter(F.col("st") == "u").select("v")
        if undecided.isEmpty():
            break
        LAST_GREEDY_MIS_ROUNDS += 1
        st = smaller.join(undecided, "v", "semi")
        acc_u = status.filter(F.col("st") == "a").select(F.col("v").alias("u"))
        und_u = undecided.select(F.col("v").alias("u"))
        new_rej = st.join(acc_u, "u", "semi").select("v").distinct()
        has_und_smaller = st.join(und_u, "u", "semi").select("v").distinct()
        new_acc = undecided.join(new_rej, "v", "anti").join(
            has_und_smaller, "v", "anti"
        )
        prev = status
        status = (
            status.join(new_rej.withColumn("__nr", F.lit(1)), "v", "left")
            .join(new_acc.withColumn("__na", F.lit(1)), "v", "left")
            .select(
                "v",
                F.when(F.col("__nr") == 1, F.lit("r"))
                .when(F.col("__na") == 1, F.lit("a"))
                .otherwise(F.col("st"))
                .alias("st"),
            )
            .localCheckpoint(eager=True)
        )
        # the eager checkpoint above is an independent RDD — release
        # the previous round's blocks instead of waiting on GC
        prev.unpersist()
    smaller.unpersist()
    nodes.unpersist()
    converged = status.filter(F.col("st") == "u").isEmpty()
    if not converged:
        raise RuntimeError(
            f"greedy MIS frontier did not converge in {max_iterations} "
            "rounds — the pair graph has an ascending dependency chain "
            "longer than the budget; raise max_iterations"
        )
    return (
        status.filter(F.col("st") == "a")
        .select(F.col("v").alias("doc_id"))
        .orderBy("doc_id")
    )


def connected_components_sql(pairs_sql: str) -> str:
    """Oracle twin for ``connected_components``: min-label per node via
    recursive transitive closure over the (da, db) pairs produced by
    ``pairs_sql``. Exact but O(reachable-pairs) — verification scale
    only; the engine path is the O(log diameter) pointer-jumping loop."""
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (SELECT da AS a, db AS b FROM pairs
          UNION SELECT db AS a, da AS b FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, MIN(b)) AS component
FROM reach GROUP BY a ORDER BY doc_id
"""


def near_dup_clusters(docs: DataFrame, k: int = 8, threshold: float = 0.8) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH pairs -> connected
    components -> (doc_id, component) with component = canonical
    (minimum) doc id. The standard corpus-dedup output: keep one doc per
    component, drop the rest."""
    pairs = minhash_near_dup_pairs(docs, k, threshold)
    return connected_components(pairs.select("da", "db"))


# ----------------------------------------------------------------------
# Bloom-filter snapshot membership (bounded-state cross-snapshot dedup)

#: Default Bloom geometry for the registered report. Deliberately TINY
#: (1024 bits, 2 hashes) so the false-positive column is non-zero on the
#: test corpus and the report actually demonstrates the size/FP
#: trade-off; production sizing is m ~ -n*ln(p)/ln(2)^2 bits for target
#: FP rate p (e.g. ~9.6 bits/key for 1%).
BLOOM_M = 1024
BLOOM_K = 2


def bloom_bit_positions(fp: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> Column:
    """array<int> of the k Bloom bit positions of a fingerprint —
    hash60(fp || ':' || j) mod m, so positions are md5-derived and
    SQL-replayable like every other hash in this module."""
    return F.array(
        *[
            F.pmod(hash60(F.concat(fp, F.lit(f":{j}"))), F.lit(m)).cast("int")
            for j in range(k)
        ]
    )


def build_bloom_bitset(prior: DataFrame, m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """The relational form of the Bloom bit array: the DISTINCT bit
    positions set by the prior snapshot's fingerprints — at most m rows
    REGARDLESS of corpus size, which is the whole point: membership
    state for a 100 TB snapshot broadcasts as <= m ints, where the
    exact fingerprint set would be a fact-sized join side."""
    fp = fingerprints(prior)
    return (
        fp.select(
            F.explode(bloom_bit_positions(F.col("fingerprint"), m, k)).alias("pos")
        )
        .distinct()
    )


def bloom_snapshot_probe(
    prior: DataFrame,
    incoming: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Probe an incoming batch against the prior snapshot's Bloom filter
    and report the outcome against exact ground truth:

    one row: (n_incoming, n_maybe_dup, n_definite_new, n_true_dup,
    n_false_positive, n_bits_set).

    A doc is maybe_dup iff ALL k of its bit positions are set — the
    Bloom contract guarantees no false negatives (every true dup is
    maybe_dup; asserted in tests), while n_false_positive measures the
    cost of the m-bit compression. The scale shape: the bitset is <= m
    rows (broadcast join), the incoming scan is one pass, and ground
    truth here is an exact fingerprint semi-join ONLY because the report
    grades the filter — a production ingest skips it and re-verifies
    just the maybe_dups (a vanishing fraction when m is sized right).
    """
    bits = build_bloom_bitset(prior, m, k)
    prior_fp = fingerprints(prior).select("fingerprint").distinct()
    inc = fingerprints(incoming)
    probes = inc.select(
        "doc_id",
        "fingerprint",
        F.explode(bloom_bit_positions(F.col("fingerprint"), m, k)).alias("pos"),
    )
    per_doc = (
        probes.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "fingerprint")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) == F.lit(k)).alias("maybe"))
    )
    # No broadcast hint here: the BITSET is bounded at m rows, but the
    # exact fingerprint set is corpus-sized — broadcast at test SF is
    # AQE's call, shuffle join at scale (and production ingest runs
    # this grading join only over the maybe-dups anyway).
    graded = per_doc.join(
        prior_fp.withColumn("is_dup", F.lit(1)), "fingerprint", "left"
    ).select(
        "maybe", F.coalesce(F.col("is_dup"), F.lit(0)).cast("boolean").alias("is_dup")
    )
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    report = graded.agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum(F.col("maybe").cast("long")).alias("n_maybe_dup"),
        F.sum((~F.col("maybe")).cast("long")).alias("n_definite_new"),
        F.sum(F.col("is_dup").cast("long")).alias("n_true_dup"),
        F.sum((F.col("maybe") & ~F.col("is_dup")).cast("long")).alias(
            "n_false_positive"
        ),
    )
    # 1-row x 1-row scalar composition (the repo's broadcast-scalar
    # pattern; see queries_tpch.py q15).
    return report.crossJoin(F.broadcast(n_bits))


def bloom_snapshot_probe_sql(m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    """DuckDB twin of ``bloom_snapshot_probe`` over the registered
    prior/incoming split (prior = doc_id % 3 <> 2, incoming =
    doc_id % 2 = 0 — overlapping on purpose so true dups, false
    positives and definite-new are all exercised)."""
    pos = [
        "CAST({h} % {m} AS INT)".format(h=hash60_sql("fp || ':%d'" % j), m=m)
        for j in range(k)
    ]
    probe_union = " UNION ALL ".join(
        f"SELECT doc_id, fp, {p} AS pos FROM inc" for p in pos
    )
    bit_union = " UNION ALL ".join(f"SELECT {p} AS pos FROM prior" for p in pos)
    return f"""
WITH prior AS (
  SELECT md5({NORMALIZED_SQL}) AS fp FROM documents WHERE doc_id % 3 <> 2
),
inc AS (
  SELECT doc_id, md5({NORMALIZED_SQL}) AS fp FROM documents WHERE doc_id % 2 = 0
),
bitset AS (SELECT DISTINCT pos FROM ({bit_union})),
probes AS ({probe_union}),
perdoc AS (
  SELECT p.doc_id, p.fp, COUNT(b.pos) = {k} AS maybe
  FROM probes p LEFT JOIN bitset b ON p.pos = b.pos
  GROUP BY p.doc_id, p.fp
),
graded AS (
  SELECT perdoc.maybe, pr.fp IS NOT NULL AS is_dup
  FROM perdoc LEFT JOIN (SELECT DISTINCT fp FROM prior) pr
    ON perdoc.fp = pr.fp
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_incoming,
       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe_dup,
       CAST(SUM(CASE WHEN maybe THEN 0 ELSE 1 END) AS BIGINT) AS n_definite_new,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
       CAST(SUM(CASE WHEN maybe AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positive,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bitset) AS n_bits_set
FROM graded
"""


# ----------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the suffix-array modality): verbatim
# >=W-char overlaps that MinHash's bag-of-shingles misses and CDC
# chunking only approximates. The distributed shape replaces the suffix
# array with content-defined anchor grams: any sufficiently long shared
# run contains, with overwhelming probability, an interior position
# whose trailing CDC window hash selects it as an anchor IN BOTH DOCS
# (the predicate depends only on local content), so grouping anchor
# grams by their md5 finds every such run with one banded shuffle — no
# all-pairs comparison, no global ordering, nothing driver-side.

#: Gram width — the minimum verbatim span the operator reports. Spans
#: must actually exceed W + ~EXSUB_ANCHOR_MOD chars to be detected
#: w.h.p. (an interior anchor must fall inside the shared run).
EXSUB_W = 48
#: Anchor selection modulus over the CDC window hash: ~1/mod of
#: eligible positions become anchors (expected anchor spacing = mod).
EXSUB_ANCHOR_MOD = 8
#: Same-diagonal anchors further apart than this start a new island.
#: P(no anchor in a gap of 64 shared positions) = (7/8)^64 ~= 2e-4.
EXSUB_MAX_GAP = 64
#: Gram families spanning more docs than this are boilerplate — dropped
#: from pairing (the Lee et al. frequent-substring guard), which bounds
#: the within-bucket self-join fan-out at scale.
EXSUB_MAX_FAMILY = 8
#: Total anchor occurrences per gram cap (same prune, second axis): a
#: gram repeating >64 times corpus-wide inside <=8 docs is degenerate
#: repetition; the cap bounds the per-bucket pair fan-out at 64^2.
EXSUB_MAX_BUCKET_ROWS = 64


def _exsub_win_hash(codes: Column, p):
    """The CDC trailing-window polynomial ``sum(code[p-j] * B^j) % M``
    (text.chunk_fingerprints' win_hash, same CDC_POWS coefficients) —
    content-defined, O(1) per position over a materialized code array."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import (
        CDC_POWS,
        ROLL_M,
    )

    acc = F.element_at(codes, p) * F.lit(CDC_POWS[0])
    for j in range(1, len(CDC_POWS)):
        acc = acc + F.element_at(codes, p - F.lit(j)) * F.lit(CDC_POWS[j])
    return acc % F.lit(ROLL_M)


def exact_substring_anchors(
    docs: DataFrame, w: int = EXSUB_W, anchor_mod: int = EXSUB_ANCHOR_MOD
) -> DataFrame:
    """(doc_id, p, gm): content-defined anchor positions (1-based, over
    the printable-ASCII projection — the same cross-engine char-code
    parity trick as text.rolling_fingerprint) and the md5 of the W-char
    gram starting at each. One corpus scan, all array ops JVM-side in
    whole-stage codegen; output is ~len/anchor_mod rows per doc, the
    banded index the pairing shuffles on."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import CDC_W

    staged = docs.select(
        "doc_id", F.regexp_replace("text", r"[^\x20-\x7E]", "").alias("__t")
    ).select(
        "doc_id",
        "__t",
        F.length("__t").alias("__n"),
        F.transform(F.split("__t", ""), lambda ch: F.ascii(ch).cast("long")).alias(
            "__codes"
        ),
    )
    codes, n = F.col("__codes"), F.col("__n")
    anchors = F.when(
        n >= F.lit(w + CDC_W - 1),
        F.filter(
            F.sequence(F.lit(CDC_W), n - F.lit(w) + 1),
            lambda p: _exsub_win_hash(codes, p) % F.lit(anchor_mod) == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    return staged.select(
        "doc_id", "__t", F.explode(anchors).alias("p")
    ).select(
        "doc_id",
        F.col("p").cast("long").alias("p"),
        F.md5(F.col("__t").substr(F.col("p"), F.lit(w))).alias("gm"),
    )


def exact_substring_spans(
    docs: DataFrame,
    w: int = EXSUB_W,
    anchor_mod: int = EXSUB_ANCHOR_MOD,
    max_gap: int = EXSUB_MAX_GAP,
    max_family: int = EXSUB_MAX_FAMILY,
    max_bucket_rows: int = EXSUB_MAX_BUCKET_ROWS,
) -> DataFrame:
    """Cross-document verbatim-overlap spans, md5-verified exact.

    Pipeline: anchor grams -> ONE shuffle on gm collapsing each gram
    family into an array (family prune inline: 2..max_family distinct
    docs, <=max_bucket_rows occurrences — drops boilerplate AND
    singletons) -> ordered pairs generated IN-ARRAY (no self-join, so
    the corpus is scanned and the grams extracted exactly once; the
    naive a JOIN a formulation rebuilt the whole anchor pipeline per
    side) -> same-diagonal (pa - pb) islands via the gaps-and-islands
    window -> per-island candidate span [min pa, max pa + w) ->
    verification joins back to the two texts: a span is reported only
    if md5 of BOTH substrings agree, so every output row is a genuine
    verbatim match of exactly span_len chars.

    Reported spans are anchor-granular: a shared run's unanchored head/
    tail (< ~anchor_mod + CDC_W chars each) is not extended, and a
    bridged island whose gap hides a real edit fails verification and
    is dropped rather than mis-reported (recall, not precision, bears
    the approximation — the Lee et al. trade, made explicit).

    Scale: anchors are ~len/anchor_mod rows/doc; the wide ops are the
    gram group-by (pair fan-out bounded by max_bucket_rows^2 per gram),
    the (da, db, diag) window, and two verification joins whose build
    side (the candidate spans) is tiny relative to the corpus — AQE
    broadcasts it against the text scan.
    Output: (da, db, a_start, b_start, span_len, n_anchors).
    """
    from pyspark.sql.window import Window

    a = exact_substring_anchors(docs, w, anchor_mod)
    # distinct-doc count derived from the collected array rather than
    # countDistinct: the latter plans a second full-anchor exchange
    # (two-phase distinct agg), the former keeps the build to ONE
    # shuffle — the array is already bounded by the bucket-rows cap.
    nd = F.size(F.array_distinct(F.transform(F.col("rows"), lambda x: x["doc_id"])))
    buckets = (
        a.groupBy("gm")
        .agg(F.collect_list(F.struct("doc_id", "p")).alias("rows"))
        .filter(
            (F.size("rows") <= max_bucket_rows)
            & (nd >= 2)
            & (nd <= max_family)
        )
    )
    rows = F.col("rows")
    pairs = F.filter(
        F.flatten(
            F.transform(
                rows,
                lambda x: F.transform(
                    rows,
                    lambda y: F.struct(
                        x["doc_id"].alias("da"),
                        y["doc_id"].alias("db"),
                        x["p"].alias("pa"),
                        y["p"].alias("pb"),
                    ),
                ),
            )
        ),
        lambda pr: pr["da"] < pr["db"],
    )
    m = buckets.select(F.explode(pairs).alias("pr")).select(
        F.col("pr.da").alias("da"),
        F.col("pr.db").alias("db"),
        F.col("pr.pa").alias("pa"),
        F.col("pr.pb").alias("pb"),
        (F.col("pr.pa") - F.col("pr.pb")).alias("diag"),
    )
    win = Window.partitionBy("da", "db", "diag").orderBy("pa")
    isl = (
        m.withColumn("gap", F.col("pa") - F.lag("pa").over(win))
        .withColumn(
            "brk",
            F.when(
                F.col("gap").isNull() | (F.col("gap") > max_gap), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "isl",
            F.sum("brk").over(win.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    spans = (
        isl.groupBy("da", "db", "diag", "isl")
        .agg(
            F.min("pa").alias("a_start"),
            (F.max("pa") - F.min("pa") + F.lit(w)).cast("long").alias("span_len"),
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
        )
        .withColumn("b_start", (F.col("a_start") - F.col("diag")).cast("long"))
    )
    texts = docs.select(
        "doc_id", F.regexp_replace("text", r"[^\x20-\x7E]", "").alias("t")
    )
    ta = texts.select(F.col("doc_id").alias("da"), F.col("t").alias("__ta"))
    tb = texts.select(F.col("doc_id").alias("db"), F.col("t").alias("__tb"))
    verified = (
        spans.join(ta, "da")
        .join(tb, "db")
        .filter(
            F.md5(F.col("__ta").substr(F.col("a_start").cast("int"), F.col("span_len").cast("int")))
            == F.md5(F.col("__tb").substr(F.col("b_start").cast("int"), F.col("span_len").cast("int")))
        )
    )
    return verified.select(
        "da",
        "db",
        F.col("a_start").cast("long").alias("a_start"),
        "b_start",
        "span_len",
        "n_anchors",
    ).orderBy("da", "db", "a_start", "b_start")


def exact_substring_sql(
    w: int = EXSUB_W,
    anchor_mod: int = EXSUB_ANCHOR_MOD,
    max_gap: int = EXSUB_MAX_GAP,
    max_family: int = EXSUB_MAX_FAMILY,
    max_bucket_rows: int = EXSUB_MAX_BUCKET_ROWS,
    source: str = "documents",
) -> str:
    """Full DuckDB replay of :func:`exact_substring_spans`: the same
    trailing-window polynomial (rendered from CDC_POWS, never
    hand-written), anchor predicate, family prune, diagonal islands and
    md5 span verification."""
    from salesforce_prefect_etl_pipeline_spark.operators.text import (
        CDC_POWS,
        CDC_W,
        ROLL_M,
    )

    poly = " + ".join(
        f"codes[p{f' - {j}' if j else ''}] * {c}" for j, c in enumerate(CDC_POWS)
    )
    return rf"""
WITH a AS (
  SELECT doc_id, regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS t
  FROM {source}
), a2 AS (
  SELECT doc_id, t,
         list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT)) AS codes
  FROM a
), anch AS (
  SELECT doc_id, t,
         unnest(CASE WHEN length(t) >= {w + CDC_W - 1} THEN
           list_filter(range({CDC_W}, length(t) - {w} + 2),
             p -> (({poly}) % {ROLL_M}) % {anchor_mod} = 0)
         ELSE [] END) AS p
  FROM a2
), g AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p, md5(substr(t, CAST(p AS INT), {w})) AS gm
  FROM anch
), fam AS (
  SELECT gm FROM g GROUP BY gm
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {max_family}
     AND COUNT(*) <= {max_bucket_rows}
), m AS (
  SELECT l.doc_id AS da, r.doc_id AS db, l.p AS pa, r.p AS pb,
         l.p - r.p AS diag
  FROM g l JOIN fam USING (gm) JOIN g r USING (gm)
  WHERE l.doc_id < r.doc_id
), isl AS (
  SELECT da, db, diag, pa,
         SUM(CASE WHEN gap IS NULL OR gap > {max_gap} THEN 1 ELSE 0 END)
           OVER (PARTITION BY da, db, diag ORDER BY pa) AS isl
  FROM (SELECT *, pa - LAG(pa) OVER (PARTITION BY da, db, diag ORDER BY pa)
               AS gap FROM m)
), spans AS (
  SELECT da, db, diag,
         MIN(pa) AS a_start,
         CAST(MAX(pa) - MIN(pa) + {w} AS BIGINT) AS span_len,
         CAST(COUNT(*) AS BIGINT) AS n_anchors
  FROM isl GROUP BY da, db, diag, isl
)
SELECT s.da, s.db,
       CAST(s.a_start AS BIGINT) AS a_start,
       CAST(s.a_start - s.diag AS BIGINT) AS b_start,
       s.span_len, s.n_anchors
FROM spans s
JOIN a ta ON ta.doc_id = s.da
JOIN a tb ON tb.doc_id = s.db
WHERE md5(substr(ta.t, CAST(s.a_start AS INT), CAST(s.span_len AS INT)))
    = md5(substr(tb.t, CAST(s.a_start - s.diag AS INT), CAST(s.span_len AS INT)))
ORDER BY da, db, a_start, b_start
"""
