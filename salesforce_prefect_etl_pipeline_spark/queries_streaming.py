"""Query registrations for streaming + sessionization + QA profiling.

The streaming queries execute a real Structured Streaming job
(Trigger.AvailableNow -> memory sink) and return the materialized result;
because the whole file arrives as one batch, results equal the batch
window plans and share their oracles.
"""

from __future__ import annotations

from salesforce_prefect_etl_pipeline_spark.functions import exact_sum_sql
from salesforce_prefect_etl_pipeline_spark.operators.dedup import (
    minhash_lsh_pairs_sql,
)
from salesforce_prefect_etl_pipeline_spark.operators.quality import (
    key_skew_profile,
    key_skew_profile_sql,
    profile_frame,
    profile_frame_sql,
    topk_values,
    topk_values_sql,
)
from salesforce_prefect_etl_pipeline_spark.plans import load_table
from salesforce_prefect_etl_pipeline_spark.plans.compiler import TESTDATA_COLUMNS
from salesforce_prefect_etl_pipeline_spark.queries_ext import EVENTS_HOURLY_SQL
from salesforce_prefect_etl_pipeline_spark.operators.retrieval import (
    bm25_topk_sql,
    phrase_search_sql,
)
from salesforce_prefect_etl_pipeline_spark.queries_registry import register_query
from salesforce_prefect_etl_pipeline_spark.streaming.ingest import greedy_accept_sql
from salesforce_prefect_etl_pipeline_spark.streaming.windows import (
    dedup_user_type_counts,
    run_stream_to_batch,
    session_agg,
    sliding_agg,
    stream_events,
    stream_static_enriched,
    stream_stream_attribution,
    stream_stream_attribution_outer,
    tumbling_agg,
)

GAP_US = 10 * 60 * 1_000_000  # 10-minute session gap in microseconds

SESSION_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
), lagged AS (
  SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e
), marked AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR epoch_us(ts) - epoch_us(prev) >= {GAP_US}
                 THEN 1 ELSE 0 END AS new_s
  FROM lagged
), sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) + {GAP_US} AS session_end_us,
       COUNT(*) AS n_events,
       {exact_sum_sql('value')} AS sum_value
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""

SLIDING_SQL = """
WITH buckets AS (
  SELECT event_type,
         unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                 time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - INTERVAL '30 minutes']) AS bucket_ts
  FROM events
)
SELECT strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type, COUNT(*) AS records
FROM buckets GROUP BY 1, 2 ORDER BY bucket, event_type
"""


register_query(
    "events_sessionization",
    lambda spark, sf_dir: session_agg(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start_us"
    ),
    SESSION_SQL,
)
register_query(
    "events_sliding_counts",
    lambda spark, sf_dir: sliding_agg(load_table(spark, sf_dir, "events")).orderBy(
        "bucket", "event_type"
    ),
    SLIDING_SQL,
)
# Real Structured Streaming executions (AvailableNow == the reference's
# periodic-batch cadence); single-batch input => batch-equal results.
register_query(
    "streaming_events_hourly",
    lambda spark, sf_dir: run_stream_to_batch(
        tumbling_agg(stream_events(spark, sf_dir)), "stream_hourly"
    ).orderBy("bucket", "event_type"),
    EVENTS_HOURLY_SQL,
)
register_query(
    "streaming_sessionization",
    lambda spark, sf_dir: run_stream_to_batch(
        session_agg(stream_events(spark, sf_dir)), "stream_sessions"
    ).orderBy("user_id", "session_start_us"),
    SESSION_SQL,
)

# Streaming dedup (dropDuplicatesWithinWatermark, bounded state) chained
# into a streaming aggregation — two stateful operators in one query.
# Deterministic because the aggregate is survivor-insensitive.
STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""
register_query(
    "streaming_dedup_user_counts",
    lambda spark, sf_dir: run_stream_to_batch(
        dedup_user_type_counts(stream_events(spark, sf_dir)), "stream_dedup"
    ).orderBy("event_type"),
    STREAM_DEDUP_SQL,
)

# Stream-static enrichment join: streaming events broadcast-joined to
# the customer dim (derived key), hourly counts per segment. Single-batch
# AvailableNow input => equals the batch plan, which the oracle mirrors.
ENRICHED_SQL = """
WITH m AS (SELECT MAX(c_custkey) AS mk FROM customer),
e AS (
  SELECT (user_id % (SELECT mk FROM m)) + 1 AS cust_key,
         CAST(ts AS TIMESTAMP) AS ts
  FROM events
)
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       c_mktsegment, COUNT(*) AS records
FROM e JOIN customer ON c_custkey = cust_key
GROUP BY 1, 2 ORDER BY bucket, c_mktsegment
"""
register_query(
    "streaming_enriched_segment_counts",
    lambda spark, sf_dir: run_stream_to_batch(
        stream_static_enriched(
            stream_events(spark, sf_dir), load_table(spark, sf_dir, "customer")
        ),
        "stream_enriched",
    ).orderBy("bucket", "c_mktsegment"),
    ENRICHED_SQL,
)

# STREAM-STREAM interval join (click -> purchase attribution): both sides
# watermarked, join state bounded by the event-time range condition;
# append mode (rows finalize as the watermark passes). Single-batch
# AvailableNow input => equals the static range self-join the oracle runs.
ATTRIBUTION_SQL = """
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us,
       epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_ts_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
ORDER BY c.user_id, click_id, purchase_id
"""
register_query(
    "streaming_click_attribution",
    lambda spark, sf_dir: run_stream_to_batch(
        stream_stream_attribution(stream_events(spark, sf_dir)),
        "stream_attribution",
        mode="append",
    ).orderBy("user_id", "click_id", "purchase_id"),
    ATTRIBUTION_SQL,
)

# LEFT OUTER variant. The oracle encodes the WATERMARK semantics, not
# plain batch LEFT JOIN: matched pairs emit on match, but an unmatched
# click's NULL row emits only once the query watermark proves no
# in-window purchase can still arrive — i.e. click_ts + window <
# min(max click_ts, max purchase_ts) - delay. Clicks in the stream's
# final watermark horizon stay pending and produce NO row (verified
# empirically: the boundary separates emitted from withheld nulls
# exactly). This is the semantic difference between a batch outer join
# and a streaming one, stated in the oracle instead of papered over.
ATTRIBUTION_OUTER_SQL = """
WITH wm AS (
  SELECT least(
    (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'click'),
    (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'purchase')
  ) - INTERVAL 2 HOUR AS w
)
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us,
       epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_ts_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE,
wm
WHERE p.event_id IS NOT NULL
   OR CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE < wm.w
ORDER BY c.user_id, click_id, purchase_id
"""
register_query(
    "streaming_click_attribution_outer",
    lambda spark, sf_dir: run_stream_to_batch(
        stream_stream_attribution_outer(stream_events(spark, sf_dir)),
        "stream_attribution_outer",
        mode="append",
    ).orderBy("user_id", "click_id", "purchase_id"),
    ATTRIBUTION_OUTER_SQL,
)

# QA profiler core (X10) over orders.
register_query(
    "qa_profile_orders",
    lambda spark, sf_dir: profile_frame(load_table(spark, sf_dir, "orders")),
    profile_frame_sql("orders", list(TESTDATA_COLUMNS["orders"])),
)

# Profiler top-k (A11) as ONE melted pass over the low-cardinality
# columns (vs the reference's job-per-column loop).
_TOPK_COLS = ["o_orderpriority", "o_orderstatus"]
register_query(
    "qa_profile_orders_topk",
    lambda spark, sf_dir: topk_values(
        load_table(spark, sf_dir, "orders"), _TOPK_COLS, k=5
    ),
    topk_values_sql("orders", _TOPK_COLS, k=5),
)

def _streaming_dedup_ingest(spark, sf_dir):
    """Streaming dedup-on-ingest over the documents table as a
    file-source stream (AvailableNow, fresh index): per batch, probe
    the accepted-corpus LSH index + within-batch pairs, greedily accept
    in doc_id order, append survivors to the index. With the whole
    table arriving as one batch and an empty starting index, the
    accepted manifest equals the greedy maximal independent set over
    the near-dup pair graph — which the oracle replays with a
    pair-endpoint-bounded recursive CTE. Multi-batch semantics
    (earlier-batch winners beat later arrivals) are pytest-verified."""
    import tempfile as _tf

    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_dedup_on_ingest,
        stream_documents,
    )

    with _tf.TemporaryDirectory(prefix="ingest_") as tmp:
        accepted = stream_dedup_on_ingest(
            stream_documents(spark, sf_dir),
            index_dir=f"{tmp}/index",
            accepted_dir=f"{tmp}/accepted",
        )
        return (
            spark.read.parquet(accepted)
            .select("doc_id", "n_chars")
            # the replay contract (ingest.py): an at-least-once replayed
            # batch re-appends identical manifest rows; readers dedup
            .dropDuplicates(["doc_id"])
            .orderBy("doc_id")
            .localCheckpoint(eager=True)  # outlive the temp dir
        )


register_query(
    "streaming_dedup_ingest",
    _streaming_dedup_ingest,
    greedy_accept_sql(minhash_lsh_pairs_sql(k=8, threshold=0.8)),
)


def _streaming_bm25_index_ingest(spark, sf_dir):
    """The BM25 inverted index maintained by the STREAMING sink
    (streaming/ingest.stream_text_index_ingest): the documents table
    arrives as a file-source stream, each micro-batch lands as one
    stamped content-addressed index append, and the probe over the
    result must be bit-identical to the direct corpus scan — so this
    row shares the full bm25 replay oracle, value-verifying the whole
    streaming-maintenance loop (r13 verdict task 6). Multi-batch and
    torn-batch-replay semantics are pytest-pinned separately."""
    import tempfile as _tf

    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_documents,
        stream_text_index_ingest,
    )

    with _tf.TemporaryDirectory(prefix="bm25_ingest_") as tmp:
        index_dir = stream_text_index_ingest(
            stream_documents(spark, sf_dir), index_dir=f"{tmp}/index"
        )
        return retrieval.probe_text_index(spark, index_dir).localCheckpoint(
            eager=True  # outlive the temp dir
        )


register_query(
    "streaming_bm25_index_ingest",
    _streaming_bm25_index_ingest,
    bm25_topk_sql(),
)


def _streaming_phrase_index_ingest(spark, sf_dir):
    """The POSITIONAL tier maintained by the same streaming sink
    (positional=True): each micro-batch appends its stamped position
    rows under its own posbatches commit record, and the phrase probe
    over the streamed tier must equal the direct corpus scan — the
    full phrase replay value-verifies the stream-maintained phrase
    surface, completing the lexical tier's streaming story."""
    import tempfile as _tf

    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_documents,
        stream_text_index_ingest,
    )

    with _tf.TemporaryDirectory(prefix="phrase_ingest_") as tmp:
        index_dir = stream_text_index_ingest(
            stream_documents(spark, sf_dir),
            index_dir=f"{tmp}/index",
            positional=True,
        )
        return retrieval.probe_phrase_index(spark, index_dir).localCheckpoint(
            eager=True  # outlive the temp dir
        )


register_query(
    "streaming_phrase_index_ingest",
    _streaming_phrase_index_ingest,
    phrase_search_sql(),
)


def _streaming_ivf_index_ingest(spark, sf_dir):
    """The IVF ANN index maintained by the STREAMING sink (r14 verdict
    task 7, streaming/ingest.stream_ivf_index_ingest): the index is
    "opened" with panel-seeded iteration-0 centroids (the quantizer is
    fixed before the feed starts — the frozen-centroid contract of
    append_ivf_vectors), the embeddings table arrives as a file-source
    stream, each micro-batch lands as one stamped append under a
    vecbatches commit record, and the pruned probe over the result must
    be bit-identical to the monolithic panel-seeded build — so this row
    shares ann_ivf_probe_exact's full quantizer-replay oracle.
    Multi-batch and torn/replayed-batch semantics are pytest-pinned
    separately."""
    import tempfile as _tf

    from salesforce_prefect_etl_pipeline_spark.operators import similarity
    from salesforce_prefect_etl_pipeline_spark.queries_llm import (
        _panel_seed_cents,
        _query_vectors,
    )
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_embeddings,
        stream_ivf_index_ingest,
    )

    cents = _panel_seed_cents(spark, sf_dir)
    qvecs = _query_vectors(spark, sf_dir)
    with _tf.TemporaryDirectory(prefix="ivf_ingest_") as tmp:
        index_dir = f"{tmp}/index"
        # index open: persist the frozen quantizer; lists arrive by stream
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            schema="list_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
        stream_ivf_index_ingest(
            stream_embeddings(spark, sf_dir), index_dir, centroids=cents
        )
        return similarity.probe_ivf(
            spark, index_dir, qvecs, k=10, nprobe=4, centroids=cents
        ).localCheckpoint(eager=True)  # outlive the temp dir


def _streaming_ivf_oracle_sql() -> str:
    from salesforce_prefect_etl_pipeline_spark.queries_llm import (
        _ivf_probe_exact_sql,
    )

    return _ivf_probe_exact_sql()


register_query(
    "streaming_ivf_index_ingest",
    _streaming_ivf_index_ingest,
    _streaming_ivf_oracle_sql(),
)

#: Takedown split for the streaming retraction rows: documents /
#: vectors with md5 bucket >= this arrive as the takedown stream (the
#: batch retraction rows' convention — queries_train._RETRACT_PCT,
#: queries_llm._IVF_RETRACT_PCT).
_STREAM_RETRACT_PCT = 90


def _streaming_text_retraction(spark, sf_dir):
    """Streaming TAKEDOWNS against the BM25 tier (r15 verdict task 5,
    streaming/ingest.stream_retract_ingest): a fresh monolithic index
    over the full corpus, then the takedown split (10% of doc_ids)
    arrives as a stream — each micro-batch lands one content-addressed
    retraction batch (tombstones, then the negative-totals commit
    record) — and the probe over the result must equal the
    never-ingested-complement corpus exactly, sharing
    ``text_bm25_retracted``'s oracle. Multi-batch == monolithic and
    the torn/replayed matrix are pytest-pinned separately."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import (
        corpus,
        retrieval,
    )
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_documents,
        stream_retract_ingest,
    )

    with _tf.TemporaryDirectory(prefix="bm25_retract_") as tmp:
        index_dir = f"{tmp}/index"
        docs = load_table(spark, sf_dir, "documents")
        retrieval.build_text_index(docs, index_dir)
        takedowns = stream_documents(spark, sf_dir).filter(
            corpus.split_bucket(F.col("doc_id")) >= _STREAM_RETRACT_PCT
        )
        stream_retract_ingest(takedowns, index_dir)
        return retrieval.probe_text_index(spark, index_dir).localCheckpoint(
            eager=True  # outlive the temp dir
        )


def _streaming_text_retraction_sql() -> str:
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    return bm25_topk_sql(
        doc_pred=(
            f"({corpus.split_bucket_sql('doc_id')}) < {_STREAM_RETRACT_PCT}"
        )
    )


register_query(
    "streaming_text_retraction",
    _streaming_text_retraction,
    _streaming_text_retraction_sql(),
)


def _streaming_ivf_retraction(spark, sf_dir):
    """Streaming vector takedowns against the IVF tier
    (streaming/ingest.stream_ivf_retract_ingest): a fresh panel-seeded
    iters=0 index over the full corpus, the takedown split's vec_ids
    arrive as a stream — each micro-batch lands one tombstone batch +
    vecbatches commit record — and the pruned probe must equal the
    frozen-quantizer probe over the live complement, sharing
    ``ann_ivf_retracted``'s oracle."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import (
        corpus,
        similarity,
    )
    from salesforce_prefect_etl_pipeline_spark.queries_llm import (
        _SEED_NLIST,
        _emb,
        _emb_panel,
        _query_vectors,
    )
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_embeddings,
        stream_ivf_retract_ingest,
    )

    emb = _emb(spark, sf_dir)
    qvecs = _query_vectors(spark, sf_dir)
    with _tf.TemporaryDirectory(prefix="ivf_retract_") as tmp:
        index_dir = f"{tmp}/index"
        cents = similarity.build_ivf_index(
            emb,
            index_dir,
            nlist=_SEED_NLIST,
            iters=0,
            seed_emb=_emb_panel(spark, sf_dir),
        )
        takedowns = stream_embeddings(spark, sf_dir).filter(
            corpus.split_bucket(F.col("vec_id")) >= _STREAM_RETRACT_PCT
        ).select("vec_id")
        stream_ivf_retract_ingest(takedowns, index_dir)
        return similarity.probe_ivf(
            spark, index_dir, qvecs, k=10, nprobe=4, centroids=cents
        ).localCheckpoint(eager=True)  # outlive the temp dir


def _streaming_ivf_retraction_sql() -> str:
    from salesforce_prefect_etl_pipeline_spark.operators import corpus
    from salesforce_prefect_etl_pipeline_spark.queries_llm import (
        _ivf_probe_exact_sql,
    )

    return _ivf_probe_exact_sql(
        live_pred=(
            f"({corpus.split_bucket_sql('vec_id')}) < {_STREAM_RETRACT_PCT}"
        )
    )


register_query(
    "streaming_ivf_retraction",
    _streaming_ivf_retraction,
    _streaming_ivf_retraction_sql(),
)

# Join-key skew diagnostic over the biggest fact's join key: heavy
# hitters + skew ratio — the pre-join check that decides plain shuffle
# vs AQE skew-split vs salted_join.
register_query(
    "qa_key_skew_suppkey",
    lambda spark, sf_dir: key_skew_profile(
        load_table(spark, sf_dir, "lineitem"), "l_suppkey", k=10
    ),
    key_skew_profile_sql("lineitem", "l_suppkey", k=10),
)
