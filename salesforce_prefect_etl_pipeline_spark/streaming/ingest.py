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
band-key equi-join against the index (corpus-size-independent compute);
the greedy decision runs driver-side over the batch id list and the
PAIR LIST only — pairs are the tiny output of LSH verification
(control-plane, like the IVF centroid fetch), never the documents.
Driver memory is therefore O(micro-batch), NOT O(corpus) — and that
bound is ENFORCED: ``max_batch_rows`` fails a batch that exceeds the
contract (e.g. an unthrottled backfill replay) with instructions to
bound the source (maxFilesPerTrigger / maxBytesPerTrigger / rate
limit) instead of silently ballooning the driver. For batches that
genuinely must be huge, ``distributed_accept=True`` runs the greedy
decision as a frontier MIS over DataFrames
(``operators.dedup.greedy_mis_in_id_order``) — nothing is collected,
driver memory is O(1), and the accepted set is identical
(pytest-proven). Index appends are parquet appends into the
band-partitioned layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from salesforce_prefect_etl_pipeline_spark.operators.dedup import (
    band_key_array,
    minhash_near_dup_pairs,
    minhash_profile,
    probe_minhash_index,
)
from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
    batch_id_col,
    committed_batch_ids,
    index_component_path,
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


def _append_profile_to_index(prof: DataFrame, index_dir: str) -> None:
    """Append accepted docs' bands + profiles (an already-computed
    minhash_profile frame) to the persisted index — same layout as
    build_minhash_index, parquet append mode. Appends resolve the
    component through the version pointer (index_component_path) so
    they land in the CURRENT snapshot after a compaction has
    versioned the index; appends must not run concurrently WITH a
    compaction (same single-owner contract, see
    compact_minhash_index)."""
    banded = prof.select(
        "doc_id", F.posexplode(band_key_array(F.col("sig"))).alias("band", "key")
    )
    (
        banded.repartition("band")
        .sortWithinPartitions("key")
        .write.mode("append")
        .partitionBy("band")
        .parquet(index_component_path(index_dir, "bands"))
    )
    prof.select("doc_id", "shingles").write.mode("append").parquet(
        index_component_path(index_dir, "profiles")
    )


def stream_dedup_on_ingest(
    stream_docs: DataFrame,
    index_dir: str,
    accepted_dir: str,
    k: int = 8,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    max_batch_rows: int = 100_000,
    distributed_accept: bool = False,
) -> str:
    """Run the ingest-dedup stream with Trigger.AvailableNow: per
    micro-batch, (1) find near-dup pairs within the batch and against
    the accepted index, (2) greedily accept in doc_id order, (3) write
    accepted (doc_id, n_chars) rows to ``accepted_dir`` and append
    their signatures to the index. Returns ``accepted_dir``.

    Replay safety: the accept decision is deterministic given the index
    state, so a replayed batch re-derives the SAME accepted rows and
    appends duplicates of them — readers MUST dedup the manifest by
    doc_id (the registered query does), and duplicate index signatures
    are harmless for the accept decision (candidate generation applies
    distinct(), and duplicated pair rows don't change greedy
    acceptance) though they do duplicate verified-pair rows and
    inflate probe scans — ``dedup.compact_minhash_index`` reclaims
    them between rebuilds. The same at-least-once -> exactly-once
    composition as stream_upsert_snapshot, with the dedup on the read
    side."""
    spark = stream_docs.sparkSession

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.select("doc_id", "text")
        # enforce the driver-state contract BEFORE anything is
        # collected, and failing fast beats an OOM'd driver
        # mid-backfill. The cap bounds the collected id list and
        # (transitively) the pair-endpoint set. limit(cap+1) keeps the
        # guard itself cheap: a well-behaved batch scans at most cap+1
        # rows to prove it's under the cap, instead of paying a full
        # extra source pass per micro-batch to count rows it will scan
        # again anyway. The distributed_accept path never collects ids
        # or pairs, so it needs no cap — any batch size goes.
        if not distributed_accept:
            n_rows = batch_df.limit(max_batch_rows + 1).count()
            if n_rows > max_batch_rows:
                raise ValueError(
                    f"micro-batch of >{max_batch_rows} rows exceeds max_batch_rows="
                    f"{max_batch_rows}: the greedy-accept step is "
                    "driver-side over the batch id list and its near-dup "
                    "pairs, so driver memory is O(max_batch_rows). Bound "
                    "the source batch (maxFilesPerTrigger / "
                    "maxBytesPerTrigger / rate limit), raise "
                    "max_batch_rows deliberately, or switch to "
                    "distributed_accept=True."
                )
        # sign the batch ONCE: the same profile feeds within-batch
        # pairing, the index probe, and the index append (signing is
        # the dominant per-batch cost — shingle regex/substr/hash).
        # ids MUST come from batch_df, not the profile: a doc shorter
        # than k shingles has NO profile row, and deriving ids from the
        # profile would silently drop it from the corpus instead of
        # accepting it (it can't near-dup anything it doesn't shingle).
        prof = minhash_profile(batch_df, k).localCheckpoint(eager=True)
        has_index = os.path.exists(
            os.path.join(index_component_path(index_dir, "bands"), "_SUCCESS")
        )
        if distributed_accept:
            # everything stays a DataFrame: within-batch + vs-index
            # pairs feed the frontier greedy MIS (dedup.py), and the
            # accepted ids come back as a frame for the semi-joins —
            # driver memory is O(1) regardless of batch size.
            ids_df = batch_df.select("doc_id")
            pairs_df = minhash_near_dup_pairs(
                batch_df, k, threshold, profile=prof
            ).select("da", "db")
            if has_index:
                pairs_df = pairs_df.union(
                    probe_minhash_index(
                        spark, index_dir, batch_df, k, threshold, new_prof=prof
                    ).select("da", "db")
                )
            pairs_df = pairs_df.localCheckpoint(eager=True)
            # endpoints that are not batch docs ARE the immutable
            # already-indexed acceptances
            endpoints = (
                pairs_df.select(F.col("da").alias("doc_id"))
                .union(pairs_df.select(F.col("db").alias("doc_id")))
                .distinct()
            )
            indexed_df = endpoints.join(ids_df, "doc_id", "anti")
            from salesforce_prefect_etl_pipeline_spark.operators.dedup import (
                greedy_mis_in_id_order,
            )

            keep_df = greedy_mis_in_id_order(
                ids_df, pairs_df, pre_accepted=indexed_df
            ).localCheckpoint(eager=True)
            kept = batch_df.join(keep_df, "doc_id", "semi")
        else:
            ids = [r.doc_id for r in batch_df.select("doc_id").collect()]
            within = [
                (r.da, r.db)
                for r in minhash_near_dup_pairs(
                    batch_df, k, threshold, profile=prof
                ).collect()
            ]
            vs_index = []
            if has_index:
                vs_index = [
                    (r.da, r.db)
                    for r in probe_minhash_index(
                        spark, index_dir, batch_df, k, threshold, new_prof=prof
                    ).collect()
                ]
            # docs already in the index are immutable prior acceptances
            indexed = {x for p in vs_index for x in p} - set(ids)
            accepted = greedy_accept(
                ids, within + vs_index, pre_accepted=indexed
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
            kept = batch_df.join(keep_df, "doc_id", "semi")
        (
            kept.select(
                "doc_id",
                F.length("text").cast("long").alias("n_chars"),
                F.lit(batch_id).alias("batch_id"),
            )
            .write.mode("append")
            .parquet(accepted_dir)
        )
        # keep_df already carries the broadcast hint on the driver path;
        # the distributed path leaves the join strategy to AQE (the
        # accepted frame may be arbitrarily large there)
        _append_profile_to_index(
            prof.join(keep_df, "doc_id", "semi"), index_dir
        )
        # bound checkpoint storage to one batch: without the explicit
        # release, block cleanup waits on Python->JVM GC and earlier
        # batches' shingle-heavy blocks pile up across a long run
        prof.unpersist()
        if distributed_accept:
            pairs_df.unpersist()
            keep_df.unpersist()

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

    Exactly-once story, composed from the index's own invariants
    (operators/retrieval.py): each batch's id is CONTENT-derived
    (md5 of min/max doc_id + count), postings land before the totals
    commit record, and probes reconcile against committed ids — so

    - a crash BEFORE the totals write leaves an invisible orphan batch;
    - the replayed batch is detected as uncommitted (its id is absent
      from totals), re-appends its byte-identical postings, and
      commits — probes collapse the doubled rows by full-row dedup;
    - a replayed ALREADY-COMMITTED batch (crash after totals, before
      the checkpoint advanced) is skipped by the committed-id guard
      here, with batch-count-bounded driver state.

    At-least-once delivery + content-addressed idempotent writes =
    exactly-once reads, the same composition as
    ``stream_dedup_on_ingest`` — but here the torn-batch repair is
    pinned bit-for-bit (probe == monolithic build, pytest).

    ``positional=True`` additionally maintains the phrase tier per
    batch (``append_positional_index``'s write shape, its own
    ``posbatches`` commit record and committed-id guard) — the whole
    lexical surface stays stream-fresh, not just BM25."""
    from salesforce_prefect_etl_pipeline_spark.operators import retrieval

    spark = stream_docs.sparkSession

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("doc_id", "text")
        # content-derived id from a doc_id-only aggregate (no tokenize);
        # the stamped append itself is _write_index_batch's single
        # tokenizing scan (r15 verdict task 7). Resolve through the
        # version pointer (r15 layout): a compacted index keeps
        # ingesting into its live snapshot.
        bid = b.agg(batch_id_col("doc_id")).collect()[0]["batch_id"]
        tpath = index_component_path(index_dir, "totals")
        if bid not in committed_batch_ids(spark, tpath):
            retrieval._write_index_batch(b, index_dir, "append", analyzer, bid=bid)
        ppath = index_component_path(index_dir, "posbatches")
        if positional and bid not in committed_batch_ids(spark, ppath):
            # the positional tier's own stamped write + commit record;
            # guarded separately so a crash between the two tiers'
            # appends replays only the missing one
            retrieval._write_positional_batch(b, index_dir, "append", analyzer)

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

    Exactly-once story, composed from the same three invariants as the
    text sink: content-derived batch ids (md5 of the batch's vec_id
    min/max/count), lists-then-commit-record write order (a crash
    before the ``vecbatches`` row leaves an invisible orphan), and the
    committed-id guard here (a replayed ALREADY-committed batch is
    skipped with batch-count-bounded driver state); a replayed torn
    batch re-appends byte-identical rows under the same id, which
    probe-side full-row dedup collapses. N micro-batches == one
    monolithic build with the same centroids, pytest-pinned
    bit-for-bit."""
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    spark = stream_emb.sparkSession
    cents = (
        centroids
        if centroids is not None
        else similarity.load_ivf_centroids(spark, index_dir)
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("vec_id", "embedding")
        bid = b.agg(batch_id_col("vec_id", "ivf")).collect()[0]["batch_id"]
        vb = index_component_path(index_dir, "vecbatches")
        if bid in committed_batch_ids(spark, vb):
            return
        similarity.append_ivf_vectors(spark, index_dir, b, centroids=cents)

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

    Exactly-once story, the ingest sinks' composition run in reverse:

    - retraction batch ids are CONTENT-derived ('retract'-prefixed
      md5 of the batch's doc_id min/max/count), so a replayed batch
      collides with its own id;
    - a crash between tombstones and the totals row leaves the batch
      uncommitted — invisible to probes — and the replay re-appends
      byte-identical tombstone rows, then commits;
    - a replayed ALREADY-COMMITTED batch is skipped by the
      committed-id guard here (batch-count-bounded driver state), and
      even without the guard it is harmless: probes dedup totals rows
      by batch id and read tombstone doc_ids through a distinct.

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

    spark = stream_docs.sparkSession

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("doc_id", "text")
        bid = b.agg(batch_id_col("doc_id", "retract")).collect()[0]["batch_id"]
        tpath = index_component_path(index_dir, "totals")
        if bid not in committed_batch_ids(spark, tpath):
            retrieval.retract_text_index(b, index_dir, analyzer)
        if positional:
            pbid = b.agg(batch_id_col("doc_id", "retractpos")).collect()[0][
                "batch_id"
            ]
            ppath = index_component_path(index_dir, "posbatches")
            if pbid not in committed_batch_ids(spark, ppath):
                retrieval.retract_positional_index(b, index_dir, bid=pbid)

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
    record. Same exactly-once composition ('retractivf'-prefixed
    content ids, tombstones-then-commit write order, committed-id
    guard here; probes distinct tombstoned vec_ids so even an
    unguarded replay is harmless). N micro-batches == one monolithic
    retraction (pytest-pinned); ``rebalance_ivf_index`` remains the
    compaction that physically drops the tombstoned vectors."""
    from salesforce_prefect_etl_pipeline_spark.operators import similarity

    spark = stream_ids.sparkSession

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = batch_df.select(
            F.col(batch_df.columns[0]).cast("long").alias("vec_id")
        ).distinct()
        bid = ids.agg(batch_id_col("vec_id", "retractivf")).collect()[0][
            "batch_id"
        ]
        vb = index_component_path(index_dir, "vecbatches")
        if bid in committed_batch_ids(spark, vb):
            return
        similarity.retract_ivf_vectors(spark, index_dir, ids, bid=bid)

    run_available_now(stream_ids, _batch, checkpoint_dir=checkpoint_dir)
    return index_dir
