"""Streaming dedup-on-ingest: the crawl-time composition of the
persisted MinHash-LSH index (operators/dedup.py) with Structured
Streaming.

Each micro-batch of incoming documents is near-dup-checked against the
ACCEPTED corpus so far (the persisted index) AND against itself, in
deterministic doc_id order; survivors are appended to the index so later
batches dedup against them too. This is the standard greedy ingest
semantics — a document is accepted iff no already-accepted document is
its near-dup — which differs deliberately from batch min-per-component
canonicalization: at ingest time the corpus must never retract an
already-accepted document, so acceptance is first-arrival-wins (made
deterministic here by ordering within a batch by doc_id).

Scale shape per batch: signing is O(batch); candidate generation is the
band-key equi-join against the index (corpus-size-independent compute).
The near-dup pairs (within the batch and against the index) are
checkpointed once; the greedy decision then picks its own path by size.
Up to :data:`ACCEPT_ON_DRIVER_MAX` batch rows and pairs it runs on the
driver over the id and pair lists — pairs are the tiny output of LSH
verification (control-plane, like the IVF centroid fetch), never the
documents. Above that it runs as a frontier MIS over DataFrames
(``operators.dedup.greedy_mis_in_id_order``), which collects nothing
and accepts the identical set (pytest-proven). Either way driver memory
stays bounded by the cap. Index appends are stamped, committed batches
of the index's two tiers (``index_store``'s lifecycle).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from salesforce_prefect_etl_pipeline_spark.operators.dedup import (
    MINHASH,
    _write_minhash_batch,
    greedy_mis_in_id_order,
    minhash_near_dup_pairs,
    minhash_profile,
    probe_minhash_index,
)
from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
    has_commits,
    retract_batch,
    write_uncommitted,
)
from salesforce_prefect_etl_pipeline_spark.streaming.windows import (
    run_available_now,
    table_link_dir,
)


def greedy_accept(
    doc_ids: list[int],
    pairs: list[tuple[int, int]],
    pre_accepted: frozenset[int] | set[int] = frozenset(),
) -> set[int]:
    """Greedy maximal-independent-set acceptance in ascending doc_id
    order: accept a doc iff no ALREADY-ACCEPTED doc pairs with it.
    ``pre_accepted`` (the immutable already-ingested corpus) is seeded
    BEFORE the loop — a batch doc that near-dups an indexed doc is
    rejected regardless of id order, because the corpus never retracts.
    Pure function — shared by the engine, tests, and (as a recursive
    CTE) the SQL oracle."""
    nbrs: dict[int, set[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    accepted: set[int] = set(pre_accepted)
    for d in sorted(doc_ids):
        if d in accepted:
            continue
        if not (nbrs.get(d, set()) & accepted):
            accepted.add(d)
    return accepted


#: Largest micro-batch, and largest near-dup pair list, whose accept
#: decision runs on the driver (``greedy_accept`` over collected ids and
#: pairs); a bigger one runs the distributed frontier MIS. Bounds the
#: driver state per batch.
ACCEPT_ON_DRIVER_MAX = 100_000


def stream_dedup_on_ingest(
    stream_docs: DataFrame,
    index_dir: str,
    accepted_dir: str,
    k: int = 8,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
) -> str:
    """Run the ingest-dedup stream with Trigger.AvailableNow: per
    micro-batch, (1) find near-dup pairs within the batch and against
    the accepted index, (2) greedily accept in doc_id order, (3) write
    accepted (doc_id, n_chars) rows to ``accepted_dir`` and append
    their signatures to the index. Returns ``accepted_dir``.

    Replay safety: the accept decision is deterministic given the index
    state, and a replayed batch's own index rows change no decision, so
    a replay re-derives the SAME accepted set. The index append is
    exactly-once under ``index_store``'s **Commit records** contract
    (``write_uncommitted`` skips an already-committed tier batch). The
    manifest is at-least-once: a replay re-appends identical rows, so
    readers dedup it by doc_id (the registered query does)."""
    spark = stream_docs.sparkSession

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.select("doc_id", "text")
        # sign the batch ONCE: the same profile feeds within-batch
        # pairing, the index probe, and the index append (signing is
        # the dominant per-batch cost — shingle regex/substr/hash).
        # ids MUST come from batch_df, not the profile: a doc shorter
        # than k shingles has NO profile row, and deriving ids from the
        # profile would silently drop it from the corpus instead of
        # accepting it (it can't near-dup anything it doesn't shingle).
        prof = minhash_profile(batch_df, k).localCheckpoint(eager=True)
        pairs_df = minhash_near_dup_pairs(
            batch_df, k, threshold, profile=prof
        ).select("da", "db")
        if all(has_commits(index_dir, t) for t in MINHASH):
            pairs_df = pairs_df.union(
                probe_minhash_index(
                    spark, index_dir, batch_df, k, threshold, new_prof=prof
                ).select("da", "db")
            )
        pairs_df = pairs_df.localCheckpoint(eager=True)
        ids_df = batch_df.select("doc_id")
        # the cap+1 limits read the checkpoint and at most cap+1 source
        # rows: a bounded proof that the batch fits the driver
        cap = ACCEPT_ON_DRIVER_MAX
        pairs = pairs_df.limit(cap + 1).collect()
        if len(pairs) <= cap and batch_df.limit(cap + 1).count() <= cap:
            ids = [r.doc_id for r in ids_df.collect()]
            pairs = [(r.da, r.db) for r in pairs]
            # endpoints that are not batch docs ARE the immutable
            # already-indexed acceptances
            accepted = greedy_accept(
                ids, pairs, pre_accepted={x for p in pairs for x in p} - set(ids)
            )
            # join against a keep-frame, not isin(): the accepted list
            # is batch-sized and an In-literal of thousands of ids
            # bloats the plan; a broadcast semi-join is the cheap form.
            # Schema comes from the batch so non-long doc_id types keep
            # working.
            id_type = batch_df.schema["doc_id"].dataType
            keep_df = F.broadcast(
                spark.createDataFrame(
                    [(d,) for d in ids if d in accepted],
                    T.StructType([T.StructField("doc_id", id_type)]),
                )
            )
        else:
            endpoints = (
                pairs_df.select(F.col("da").alias("doc_id"))
                .union(pairs_df.select(F.col("db").alias("doc_id")))
                .distinct()
            )
            keep_df = greedy_mis_in_id_order(
                ids_df, pairs_df, pre_accepted=endpoints.join(ids_df, "doc_id", "anti")
            ).localCheckpoint(eager=True)
        (
            batch_df.join(keep_df, "doc_id", "semi")
            .select(
                "doc_id",
                F.length("text").cast("long").alias("n_chars"),
                F.lit(batch_id).alias("batch_id"),
            )
            .write.mode("append")
            .parquet(accepted_dir)
        )
        kept = prof.join(keep_df, "doc_id", "semi")
        write_uncommitted(
            kept,
            index_dir,
            {
                t: partial(_write_minhash_batch, kept, index_dir, "append", t)
                for t in MINHASH
            },
        )
        # bound checkpoint storage to one batch: without the explicit
        # release, block cleanup waits on Python->JVM GC and earlier
        # batches' shingle-heavy blocks pile up across a long run
        for df in (prof, pairs_df, keep_df):
            df.unpersist()

    run_available_now(stream_docs, _batch, checkpoint_dir=checkpoint_dir)
    return accepted_dir


def stream_text_index_ingest(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str | None = None,
    analyzer: str = "raw",
    positional: bool = False,
) -> str:
    """Streaming maintenance of the BM25 inverted index (r13 verdict
    task 6 — the retrieval<->streaming loop): per micro-batch, one
    ``append_text_index``-shaped stamped append into the persisted
    index, so the lexical tier keeps up with the crawl instead of
    re-paying offline builds. Returns ``index_dir``; probes see exactly
    the union of committed batches.

    Exactly-once under ``index_store``'s **Commit records** contract:
    a batch torn before its totals row is an invisible orphan that the
    replay re-appends and commits (probes collapse the doubled rows by
    replay dedup), and a replayed ALREADY-COMMITTED batch (crash after
    totals, before the checkpoint advanced) is skipped by the replay
    guard (``index_store.write_uncommitted``). At-least-once delivery +
    content-addressed idempotent writes = exactly-once reads, pinned
    bit-for-bit (probe == monolithic build, pytest).

    ``positional=True`` additionally maintains the phrase tier per
    batch (``append_positional_index``'s write shape, its own
    ``posbatches`` commit record and guard) — the whole lexical surface
    stays stream-fresh, not just BM25."""
    from salesforce_prefect_etl_pipeline_spark.operators import retrieval

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("doc_id", "text")
        # the id is a doc_id-only aggregate (no tokenize), shared by both
        # tiers; the stamped append is _write_index_batch's single
        # tokenizing scan (r15 verdict task 7). The guard and the write
        # resolve through the version pointer (r15 layout): a compacted
        # index keeps ingesting into its live snapshot.
        args = (b, index_dir, "append", analyzer)
        writes = {retrieval.BM25: partial(retrieval._write_index_batch, *args)}
        if positional:
            writes[retrieval.POSITIONAL] = partial(
                retrieval._write_positional_batch, *args
            )
        write_uncommitted(b, index_dir, writes)

    run_available_now(stream_docs, _batch, checkpoint_dir=checkpoint_dir)
    return index_dir


def stream_ivf_index_ingest(
    stream_emb: DataFrame,
    index_dir: str,
    checkpoint_dir: str | None = None,
    centroids=None,
) -> str:
    """Streaming maintenance of the IVF ANN index (r14 verdict task 7 —
    the embedding-side twin of :func:`stream_text_index_ingest`): per
    micro-batch, one ``append_ivf_vectors``-shaped stamped append into
    the persisted inverted lists — assignment with the index's FROZEN
    centroids (loaded once, driver-side, before the stream starts), so
    the ANN tier keeps up with the embedding feed without retrains.
    Returns ``index_dir``; probes see exactly the union of committed
    batches; list skew accumulates exactly as documented on
    ``append_ivf_vectors`` — ``ivf_list_stats`` +
    ``rebalance_ivf_index`` are the maintenance loop.

    Exactly-once by the same composition as the text sink
    (``index_store``'s **Commit records** and replay guard). N
    micro-batches == one monolithic build with the same centroids,
    pytest-pinned bit-for-bit."""
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    spark = stream_emb.sparkSession
    cents = (
        centroids
        if centroids is not None
        else similarity.load_ivf_centroids(spark, index_dir)
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("vec_id", "embedding")
        append = partial(similarity._write_lists, b, index_dir, cents, "append")
        write_uncommitted(b, index_dir, {similarity.IVF: append})

    run_available_now(stream_emb, _batch, checkpoint_dir=checkpoint_dir)
    return index_dir


def stream_documents_dir(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of documents parquet files
    (schema sniffed from a batch footer read, like stream_events_dir)."""
    static = spark.read.parquet(src_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the testdata documents table (a single read-only file)
    through a one-file symlink directory, the stream_events pattern —
    the streaming file source only accepts directories."""
    return stream_documents_dir(spark, table_link_dir(sf_dir, "documents"))


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the testdata embeddings table through a one-file symlink
    directory — :func:`stream_documents` for the vector feed."""
    return stream_documents_dir(spark, table_link_dir(sf_dir, "embeddings"))


def greedy_accept_sql(pairs_sql: str, source: str = "documents") -> str:
    """DuckDB replay of the single-batch ingest decision: greedy MIS in
    doc_id order. Only pair endpoints can be rejected, so the recursive
    CTE walks just those (bounded by the pair list, not the corpus) and
    every non-endpoint doc is accepted by default."""
    return f"""
WITH RECURSIVE
pairs AS MATERIALIZED ({pairs_sql}),
endpoints AS MATERIALIZED (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS idx
  FROM (SELECT da AS doc_id FROM pairs UNION SELECT db FROM pairs)
),
walk(idx, doc_id, ok, acc) AS (
  SELECT idx, doc_id, TRUE, [doc_id] FROM endpoints WHERE idx = 1
  UNION ALL
  SELECT e.idx, e.doc_id, hit.ok,
         CASE WHEN hit.ok THEN w.acc || [e.doc_id] ELSE w.acc END
  FROM walk w
  JOIN endpoints e ON e.idx = w.idx + 1,
  LATERAL (SELECT NOT EXISTS (
             SELECT 1 FROM pairs p
             WHERE (p.da = e.doc_id AND list_contains(w.acc, p.db))
                OR (p.db = e.doc_id AND list_contains(w.acc, p.da))
           ) AS ok) hit
)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM {source}
WHERE doc_id NOT IN (SELECT doc_id FROM walk WHERE NOT ok)
ORDER BY doc_id
"""


def stream_retract_ingest(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str | None = None,
    analyzer: str = "raw",
    positional: bool = False,
) -> str:
    """Streaming TAKEDOWNS for the text tiers (r15 verdict task 5 —
    appends streamed since r13/r14 but deletes were batch-only, while
    real crawl pipelines receive takedown/robots/licensing feeds as a
    stream): per micro-batch, one ``retract_text_index``-shaped
    retraction batch lands against the persisted index — tombstone
    rows first, the negative totals row as the commit record — and
    probes stop returning the retracted documents immediately.

    Exactly-once by the ingest sinks' composition run in reverse
    (``index_store``'s **Commit records** and replay guard): a torn
    retraction is invisible until its replay commits it, and a
    replayed ALREADY-COMMITTED batch is skipped — even without the
    guard it is harmless: probes dedup totals rows by batch id and read
    tombstone doc_ids through a distinct.

    N micro-batches == one monolithic ``retract_text_index`` over the
    union (pytest-pinned; the registered ``streaming_text_retraction``
    row value-proves the result against the never-ingested-complement
    oracle). ``positional=True`` also retracts from the positional
    tier per batch under its own 'retractpos' ids + ``posbatches``
    commit records. The champion tier's stored df goes stale until
    :func:`operators.retrieval.retract_champion_lists` recuts the
    touched buckets — at streaming cadence run the recut (or
    ``compact_text_index``) on the maintenance schedule, not per
    micro-batch; probes hide dead doc_ids meanwhile."""
    from salesforce_prefect_etl_pipeline_spark.operators import retrieval

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("doc_id", "text")
        # retract_text_index takes its id from the aggregate that also
        # sums the negative totals, so the BM25 writer ignores the one
        # the guard computed
        writes = {
            retrieval.BM25: lambda _bid: retrieval.retract_text_index(
                b, index_dir, analyzer
            )
        }
        if positional:
            writes[retrieval.POSITIONAL] = partial(
                retract_batch, b, index_dir, retrieval.POSITIONAL
            )
        write_uncommitted(b, index_dir, writes, retract=True)

    run_available_now(stream_docs, _batch, checkpoint_dir=checkpoint_dir)
    return index_dir


def stream_ivf_retract_ingest(
    stream_ids: DataFrame,
    index_dir: str,
    checkpoint_dir: str | None = None,
) -> str:
    """Streaming vector takedowns — :func:`stream_retract_ingest` for
    the IVF tier: per micro-batch of vec_ids, one
    ``retract_ivf_vectors`` tombstone batch + ``vecbatches`` commit
    record. Same exactly-once composition (probes distinct tombstoned
    vec_ids, so even an unguarded replay is harmless). N micro-batches
    == one monolithic retraction (pytest-pinned); ``rebalance_ivf_index``
    remains the compaction that physically drops the tombstoned
    vectors."""
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = similarity._retraction_ids(index_dir, batch_df)
        tombstone = partial(retract_batch, ids, index_dir, similarity.IVF)
        write_uncommitted(ids, index_dir, {similarity.IVF: tombstone}, retract=True)

    run_available_now(stream_ids, _batch, checkpoint_dir=checkpoint_dir)
    return index_dir
