"""Structured Streaming tests: windowed aggregation equivalence and the
custom stateful drift operator across real micro-batches."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from salesforce_prefect_etl_pipeline_spark.operators.index_store import batch_id_col
from salesforce_prefect_etl_pipeline_spark.plans import load_table
from salesforce_prefect_etl_pipeline_spark.streaming.drift import drift_stream
from salesforce_prefect_etl_pipeline_spark.streaming.windows import (
    run_stream_to_batch,
    stream_events,
    stream_events_dir,
    tumbling_agg,
)

from tests.conftest import SF_SMALL, batch_totals


def test_streaming_tumbling_equals_batch(spark):
    streaming = run_stream_to_batch(
        tumbling_agg(stream_events(spark, SF_SMALL)), "t_stream_eq"
    )
    batch = tumbling_agg(load_table(spark, SF_SMALL, "events"))
    s = {tuple(r) for r in streaming.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


@pytest.fixture()
def two_batch_dir(spark):
    """Split the events table into two parquet files in a temp dir so the
    file source (maxFilesPerTrigger=1) delivers two real micro-batches."""
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    d = tempfile.mkdtemp(prefix="drift_batches_")
    # batch 1: full data; batch 2: roughly 40% (triggers >=50% drift)
    events.coalesce(1).write.parquet(os.path.join(d, "b1"))
    events.filter(F.col("user_id") % 5 <= 1).coalesce(1).write.parquet(
        os.path.join(d, "b2")
    )
    src = os.path.join(d, "src")
    os.makedirs(src)
    for i, sub in enumerate(["b1", "b2"]):
        part = [f for f in os.listdir(os.path.join(d, sub)) if f.endswith(".parquet")][0]
        # file source processes files in modification-time order; keep b1 first
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copy(os.path.join(d, sub, part), dst)
        os.utime(dst, (1_700_000_000 + i * 1000, 1_700_000_000 + i * 1000))
    yield src
    shutil.rmtree(d, ignore_errors=True)


def test_stateful_drift_across_microbatches(spark, two_batch_dir):
    events = stream_events_dir(spark, two_batch_dir, max_files_per_trigger=1)
    out = run_stream_to_batch(
        drift_stream(events, threshold=0.5), "drift_out", mode="append"
    )
    rows = out.collect()
    # two batches x n event_types
    types = {r.event_type for r in rows}
    first = [r for r in rows if r.prev_rows is None]
    second = [r for r in rows if r.prev_rows is not None]
    assert len(first) == len(types)  # batch 1: no previous state
    assert len(second) == len(types)  # batch 2: compared against batch 1
    for r in second:
        assert r.relative_change is not None and r.relative_change >= 0.5
        assert r.alert  # ~60% drop


def test_streaming_dedup_across_microbatches(spark, two_batch_dir):
    """Every (user_id, event_type) pair in batch 2 is a literal copy of
    a batch-1 row, so dropDuplicatesWithinWatermark state must suppress
    all of batch 2: append output == distinct pairs of batch 1. The
    watermark is set far above the data span so nothing is dropped as
    late — suppression comes from dedup state alone."""
    from salesforce_prefect_etl_pipeline_spark.streaming.windows import (
        dedup_within_watermark,
    )

    events = stream_events_dir(spark, two_batch_dir, max_files_per_trigger=1)
    deduped = dedup_within_watermark(
        events, ["user_id", "event_type"], watermark="3650 days"
    ).select("user_id", "event_type")
    out = run_stream_to_batch(deduped, "dedup_out", mode="append")
    batch1 = spark.read.parquet(os.path.join(two_batch_dir, "batch_0.parquet"))
    expected = batch1.select("user_id", "event_type").distinct().count()
    assert out.count() == expected
    assert out.distinct().count() == expected


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode window counts with a watermark. Spark's contract:
    a window is finalized (emitted + state evicted) once the watermark
    passes its end; rows for an ALREADY-FINALIZED window are dropped.
    (A late row landing in the same batch as its window's eviction still
    merges — eviction happens at batch end — so the drop needs a window
    finalized in an earlier batch.)"""
    import pandas as pd

    d = str(tmp_path / "wm_src")
    os.makedirs(d)

    def write_batch(name, rows, mtime):
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        pdf["ts"] = pdf["ts"].astype("int64")
        path = os.path.join(tmp_path, name + ".tmp")
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(path)
        part = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
        dst = os.path.join(d, name + ".parquet")
        shutil.copy(os.path.join(path, part), dst)
        os.utime(dst, (mtime, mtime))

    H = 3_600_000_000_000  # 1 hour in ns
    M = 60_000_000_000  # 1 minute in ns
    # batch 0: hour-0 event + hour-10 event (watermark will reach 9h)
    write_batch("b0", [
        (1, 0 * H, 1, "click", 1.0, "{}"),
        (2, 10 * H, 1, "click", 1.0, "{}"),
    ], 1_700_000_000)
    # batch 1: fresh event only -> hour-0 window is finalized this batch
    write_batch("b1", [(3, 10 * H + M, 1, "click", 1.0, "{}")], 1_700_001_000)
    # batch 2: a late hour-0 event AFTER finalization -> must be dropped
    write_batch("b2", [
        (4, 0 * H, 1, "click", 1.0, "{}"),
        (5, 10 * H + 2 * M, 1, "click", 1.0, "{}"),
    ], 1_700_002_000)

    from pyspark.sql import functions as F

    events = stream_events_dir(spark, d, max_files_per_trigger=1)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("records"))
        .select(F.col("w.start").cast("string").alias("bucket"), "records")
    )
    out = run_stream_to_batch(agg, "wm_out", mode="append")
    rows = out.collect()
    hour0 = [r.records for r in rows if r.bucket.startswith("1970-01-01 00")]
    # finalized once with only the on-time event; late event 4 dropped
    assert hour0 == [1], rows


def test_stream_static_enriched_matches_batch(spark):
    """Stream-static broadcast join: the streaming execution must equal
    the same plan run in batch (single AvailableNow batch)."""
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.windows import (
        run_stream_to_batch,
        stream_events,
        stream_static_enriched,
    )

    customer = load_table(spark, SF_SMALL, "customer")
    batch = stream_static_enriched(
        load_table(spark, SF_SMALL, "events"), customer
    )
    streamed = run_stream_to_batch(
        stream_static_enriched(stream_events(spark, SF_SMALL), customer),
        "t_enriched",
    )
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s and len(b) > 0


def test_stream_stream_attribution_matches_batch(spark):
    """Stream-STREAM interval join (click -> purchase attribution): the
    streaming execution (append mode, watermarked both sides) must equal
    the batch range self-join, and every pair must satisfy the
    attribution window."""
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.windows import (
        run_stream_to_batch,
        stream_events,
        stream_stream_attribution,
    )

    batch = stream_stream_attribution(load_table(spark, SF_SMALL, "events"))
    streamed = run_stream_to_batch(
        stream_stream_attribution(stream_events(spark, SF_SMALL)),
        "t_attribution",
        mode="append",
    )
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s and len(b) > 0
    for _user, _c, _p, click_us, purchase_us in b:
        assert 0 <= purchase_us - click_us <= 30 * 60 * 1_000_000


def test_stream_upsert_snapshot_converges_to_batch(spark, tmp_path):
    """foreachBatch + merge_snapshot as a streaming upsert sink: a
    multi-micro-batch run (maxFilesPerTrigger=1 over a multi-file copy
    of events) whose update-mode re-emissions fold idempotently into
    the keyed snapshot — the end state must equal the one-shot batch
    aggregate, proving the streaming half of the exactly-once
    composition (idempotent merge x replayable batches)."""
    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.windows import (
        stream_events_dir,
        stream_upsert_snapshot,
    )

    src = str(tmp_path / "events_src")
    batch_ev = load_table(spark, SF_SMALL, "events")
    batch_ev.repartition(4).write.parquet(src)

    agg = (
        stream_events_dir(spark, src, max_files_per_trigger=1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    snap = str(tmp_path / "user_counts")
    stream_upsert_snapshot(agg, snap, key="user_id", version_col="n_events")

    got = {
        (r.user_id, r.n_events)
        for r in spark.read.parquet(snap).collect()
    }
    want = {
        (r.user_id, r.n_events)
        for r in batch_ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want


def test_stream_dedup_on_ingest_multi_batch(spark, tmp_path):
    """Dedup-on-ingest across REAL multiple micro-batches: split the
    documents table into 3 id-range files, stream with
    maxFilesPerTrigger=1, and check the greedy ingest contract —
    (1) no two accepted docs are near-dups, (2) every rejected doc has
    an accepted near-dup (first-arrival-wins, corpus never retracts),
    (3) later batches defer to earlier batches' acceptances."""
    from salesforce_prefect_etl_pipeline_spark.operators import dedup
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_dedup_on_ingest,
        stream_documents_dir,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = tmp_path / "src"
    src.mkdir()
    import pyspark.sql.functions as F

    for i, (lo, hi) in enumerate(
        [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
    ):
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    # flatten: one file per batch dir into the source dir
    import shutil

    for i in range(3):
        f = next((src / f"b{i}").glob("*.parquet"))
        shutil.move(str(f), str(src / f"part-{i}.parquet"))
        shutil.rmtree(src / f"b{i}")

    accepted_dir = stream_dedup_on_ingest(
        stream_documents_dir(spark, str(src), max_files_per_trigger=1),
        index_dir=str(tmp_path / "index"),
        accepted_dir=str(tmp_path / "accepted"),
    )
    manifest = spark.read.parquet(accepted_dir).collect()
    accepted = {r.doc_id for r in manifest}
    batch_of = {r.doc_id: r.batch_id for r in manifest}
    assert len({r.batch_id for r in manifest}) >= 2, "multi-batch exercised"

    pairs = [
        (r.da, r.db)
        for r in dedup.minhash_near_dup_pairs(docs, k=8, threshold=0.8).collect()
    ]
    assert pairs, "planted near-dups required"
    # (1) accepted set is near-dup-free
    assert not [p for p in pairs if p[0] in accepted and p[1] in accepted]
    # (2) every rejected doc has an accepted near-dup partner
    rejected = set(ids) - accepted
    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    for r in rejected:
        assert nbrs.get(r, set()) & accepted, r
    # docs in no pair are always accepted
    assert all(d in accepted for d in ids if d not in nbrs)
    # (3) deterministic replay: the same greedy over the global pair
    # list in (batch arrival, doc_id) order reproduces the exact set.
    # Batch membership is the id-range split we wrote; within a batch
    # the engine accepts in doc_id order, and earlier batches are
    # immutable — so sequential greedy_accept per batch must agree.
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import greedy_accept

    batches = [
        [d for d in ids if d < cuts[0]],
        [d for d in ids if cuts[0] <= d < cuts[1]],
        [d for d in ids if d >= cuts[1]],
    ]
    acc = set()
    for b_ids in batches:
        acc = greedy_accept(b_ids, pairs, pre_accepted=acc)
    assert accepted == acc
    assert {batch_of[d] for d in accepted} == {0, 1, 2}


def test_stream_dedup_ingest_keeps_unshingleable_docs(spark, tmp_path):
    """A doc shorter than the shingle width has no minhash profile row;
    it can near-dup nothing and MUST be accepted, not silently dropped
    (regression: ids were once derived from the profile frame)."""
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_dedup_on_ingest,
        stream_documents_dir,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "hi"), (2, ""), (3, "a perfectly ordinary longer document text")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src))
    accepted_dir = stream_dedup_on_ingest(
        stream_documents_dir(spark, str(src)),
        index_dir=str(tmp_path / "idx"),
        accepted_dir=str(tmp_path / "acc"),
    )
    got = {r.doc_id for r in spark.read.parquet(accepted_dir).collect()}
    assert got == {1, 2, 3}


def test_stream_dedup_ingest_enforces_batch_row_cap(spark, tmp_path):
    """The driver-state contract is enforced, not advisory: a
    micro-batch larger than max_batch_rows must fail the stream with
    the contract message BEFORE any driver-side collection, and the
    same source passes when the cap holds (semantics unchanged)."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_dedup_on_ingest,
        stream_documents_dir,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, f"document number {i} with some ordinary text") for i in range(6)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src))
    with _pytest.raises(StreamingQueryException, match="max_batch_rows"):
        stream_dedup_on_ingest(
            stream_documents_dir(spark, str(src)),
            index_dir=str(tmp_path / "idx"),
            accepted_dir=str(tmp_path / "acc"),
            max_batch_rows=2,
        )
    accepted_dir = stream_dedup_on_ingest(
        stream_documents_dir(spark, str(src)),
        index_dir=str(tmp_path / "idx2"),
        accepted_dir=str(tmp_path / "acc2"),
        max_batch_rows=6,
    )
    got = {r.doc_id for r in spark.read.parquet(accepted_dir).collect()}
    assert got == set(range(6))


def test_stream_dedup_ingest_distributed_accept_matches_driver_path(spark, tmp_path):
    """distributed_accept=True must accept the IDENTICAL doc set as the
    default driver-side greedy, with no driver collection and no batch
    cap — same source, fresh indexes for each."""
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_dedup_on_ingest,
        stream_documents_dir,
    )
    from tests.conftest import SF_SMALL

    src = tmp_path / "src"
    load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "text"
    ).coalesce(1).write.parquet(str(src))

    a_dir = stream_dedup_on_ingest(
        stream_documents_dir(spark, str(src)),
        index_dir=str(tmp_path / "idx_driver"),
        accepted_dir=str(tmp_path / "acc_driver"),
    )
    b_dir = stream_dedup_on_ingest(
        stream_documents_dir(spark, str(src)),
        index_dir=str(tmp_path / "idx_dist"),
        accepted_dir=str(tmp_path / "acc_dist"),
        distributed_accept=True,
        max_batch_rows=1,  # must be ignored on the distributed path
    )
    a = {r.doc_id for r in spark.read.parquet(a_dir).collect()}
    b = {r.doc_id for r in spark.read.parquet(b_dir).collect()}
    assert a == b and a


def test_stream_text_index_ingest_multi_batch_equals_monolithic(spark, tmp_path):
    """r13 verdict task 6: the BM25 index maintained by the streaming
    sink across 3 REAL micro-batches (maxFilesPerTrigger=1) must probe
    bit-identically to a monolithic offline build over the same
    corpus — the retrieval<->streaming loop closed and value-pinned."""
    import shutil

    import pyspark.sql.functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_documents_dir,
        stream_text_index_ingest,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
    ):
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    for i in range(3):
        f = next((src / f"b{i}").glob("*.parquet"))
        shutil.move(str(f), str(src / f"part-{i}.parquet"))
        shutil.rmtree(src / f"b{i}")

    streamed = stream_text_index_ingest(
        stream_documents_dir(spark, str(src), max_files_per_trigger=1),
        index_dir=str(tmp_path / "stream_index"),
    )
    # 3 committed batches prove the multi-batch path ran
    n_batches = (
        spark.read.parquet(f"{streamed}/totals").select("batch_id").distinct().count()
    )
    assert n_batches == 3

    mono_dir = str(tmp_path / "mono")
    retrieval.build_text_index(docs, mono_dir)
    got = [tuple(r) for r in retrieval.probe_text_index(spark, streamed).collect()]
    want = [tuple(r) for r in retrieval.probe_text_index(spark, mono_dir).collect()]
    assert got == want and got


def test_stream_text_index_torn_batch_replay_is_exactly_once(spark, tmp_path):
    """The crash-replay matrix the sink documents: (a) a batch torn
    after its postings write is invisible; (b) replaying it re-appends
    byte-identical postings and commits — probes collapse the doubled
    rows, so the final index still equals the monolithic build; (c) a
    replayed already-committed batch is a no-op."""
    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    head = docs.filter(F.col("doc_id") % 2 == 0)
    tail = docs.filter(F.col("doc_id") % 2 == 1)
    index_dir = str(tmp_path / "idx")
    retrieval.build_text_index(head, index_dir)

    # (a) tear: postings land, totals commit record does not
    tot = batch_totals(tail).collect()[0]
    retrieval._postings(tail).withColumn(
        "batch_id", F.lit(tot["batch_id"])
    ).write.mode("append").partitionBy("bucket").parquet(f"{index_dir}/postings")
    head_only = [
        tuple(r) for r in retrieval.probe_text_index(spark, index_dir).collect()
    ]
    mono_head = str(tmp_path / "mono_head")
    retrieval.build_text_index(head, mono_head)
    assert head_only == [
        tuple(r) for r in retrieval.probe_text_index(spark, mono_head).collect()
    ]

    # (b) replay: the full append runs again (postings duplicated under
    # the same content-derived id, then the commit record lands)
    retrieval.append_text_index(tail, index_dir)
    mono_all = str(tmp_path / "mono_all")
    retrieval.build_text_index(docs, mono_all)
    got = [tuple(r) for r in retrieval.probe_text_index(spark, index_dir).collect()]
    want = [tuple(r) for r in retrieval.probe_text_index(spark, mono_all).collect()]
    assert got == want and got

    # (c) an already-committed batch replayed through the sink guard is
    # a no-op: the totals file still has exactly 2 committed ids
    n = (
        spark.read.parquet(f"{index_dir}/totals")
        .select("batch_id")
        .distinct()
        .count()
    )
    assert n == 2


def test_stream_positional_ingest_multi_batch_equals_monolithic(spark, tmp_path):
    """positional=True: the phrase tier maintained across 3 real
    micro-batches must probe bit-identically to the monolithic
    positional build — and each tier carries its own commit records
    (3 in totals, 3 in posbatches)."""
    import shutil

    import pyspark.sql.functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_documents_dir,
        stream_text_index_ingest,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
    ):
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    for i in range(3):
        f = next((src / f"b{i}").glob("*.parquet"))
        shutil.move(str(f), str(src / f"part-{i}.parquet"))
        shutil.rmtree(src / f"b{i}")

    streamed = stream_text_index_ingest(
        stream_documents_dir(spark, str(src), max_files_per_trigger=1),
        index_dir=str(tmp_path / "stream_index"),
        positional=True,
    )
    for record in ("totals", "posbatches"):
        n = (
            spark.read.parquet(f"{streamed}/{record}")
            .select("batch_id")
            .distinct()
            .count()
        )
        assert n == 3, record

    mono_dir = str(tmp_path / "mono")
    retrieval.build_positional_index(docs, mono_dir)
    got = [
        tuple(r) for r in retrieval.probe_phrase_index(spark, streamed).collect()
    ]
    want = [
        tuple(r) for r in retrieval.probe_phrase_index(spark, mono_dir).collect()
    ]
    assert got == want and got
    # ... and the BM25 tier was maintained alongside by the same sink
    bm_mono = str(tmp_path / "bm_mono")
    retrieval.build_text_index(docs, bm_mono)
    assert [
        tuple(r) for r in retrieval.probe_text_index(spark, streamed).collect()
    ] == [tuple(r) for r in retrieval.probe_text_index(spark, bm_mono).collect()]


def test_stream_ivf_index_ingest_multi_batch_equals_monolithic(spark, tmp_path):
    """r14 verdict task 7: the IVF index maintained by the streaming
    sink across 3 REAL micro-batches (maxFilesPerTrigger=1, frozen
    centroids fixed at index open) must probe bit-identically to a
    monolithic build with the same centroids — the embedding-side
    streaming loop closed and value-pinned. Also pins the torn/replay
    matrix: an appended-but-uncommitted batch is invisible; replaying
    it converges; a replayed committed batch is a no-op."""
    import shutil

    import pyspark.sql.functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import similarity
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_documents_dir,
        stream_ivf_index_ingest,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cents = similarity.train_ivf_centroids(emb, nlist=16, iters=0)
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
    ):
        part = emb
        if lo is not None:
            part = part.filter(F.col("vec_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("vec_id") < hi)
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    for i in range(3):
        f = next((src / f"b{i}").glob("*.parquet"))
        shutil.move(str(f), str(src / f"part-{i}.parquet"))
        shutil.rmtree(src / f"b{i}")

    index_dir = str(tmp_path / "stream_index")
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        schema="list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    stream_ivf_index_ingest(
        stream_documents_dir(spark, str(src), max_files_per_trigger=1),
        index_dir,
        centroids=cents,
    )
    n_batches = (
        spark.read.parquet(f"{index_dir}/vecbatches")
        .select("batch_id")
        .distinct()
        .count()
    )
    assert n_batches == 3

    mono_dir = str(tmp_path / "mono")
    similarity.build_ivf_index(emb, mono_dir, nlist=16, iters=0)
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    got = similarity.probe_ivf(
        spark, index_dir, qvecs, k=10, nprobe=4, centroids=cents
    ).collect()
    want = similarity.probe_ivf(
        spark, mono_dir, qvecs, k=10, nprobe=4, centroids=cents
    ).collect()
    assert got == want and len(got) == 30

    # torn batch: stamped list rows land, no vecbatches record -> the
    # probe is unchanged
    tear = emb.filter(F.col("vec_id").isin([1, 7]))
    bid = tear.agg(batch_id_col("vec_id", "ivf")).collect()[0]["batch_id"]
    similarity.ivf_assign(tear, cents).withColumn(
        "batch_id", F.lit("torn-" + bid)
    ).write.mode("append").partitionBy("list_id").parquet(f"{index_dir}/lists")
    still = similarity.probe_ivf(
        spark, index_dir, qvecs, k=10, nprobe=4, centroids=cents
    ).collect()
    assert still == want

    # replayed committed batch through the sink guard: no-op (still 3)
    stream_ivf_index_ingest(
        stream_documents_dir(spark, str(src), max_files_per_trigger=1),
        index_dir,
        centroids=cents,
    )
    n_after = (
        spark.read.parquet(f"{index_dir}/vecbatches")
        .select("batch_id")
        .distinct()
        .count()
    )
    assert n_after == 3
    assert (
        similarity.probe_ivf(
            spark, index_dir, qvecs, k=10, nprobe=4, centroids=cents
        ).collect()
        == want
    )


def test_stream_retract_ingest_multi_batch_equals_monolithic(spark, tmp_path):
    """r15 verdict task 5: takedowns arriving as 3 REAL micro-batches
    (maxFilesPerTrigger=1) through stream_retract_ingest must leave the
    index probing bit-identically to one monolithic retract_text_index
    over the union — at both the BM25 and positional tiers — and land
    3 committed retraction batches per tier."""
    import shutil

    import pyspark.sql.functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_documents_dir,
        stream_retract_ingest,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    dead = docs.filter(F.col("doc_id") % 5 == 0)
    dead_ids = sorted(r.doc_id for r in dead.select("doc_id").collect())
    cuts = [dead_ids[len(dead_ids) // 3], dead_ids[2 * len(dead_ids) // 3]]
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
    ):
        part = dead
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    for i in range(3):
        f = next((src / f"b{i}").glob("*.parquet"))
        shutil.move(str(f), str(src / f"part-{i}.parquet"))
        shutil.rmtree(src / f"b{i}")

    streamed = str(tmp_path / "stream_idx")
    retrieval.build_text_index(docs, streamed)
    retrieval.build_positional_index(docs, streamed)
    stream_retract_ingest(
        stream_documents_dir(spark, str(src), max_files_per_trigger=1),
        streamed,
        positional=True,
    )
    # 3 committed retraction batches per tier (plus the build batch)
    assert (
        spark.read.parquet(f"{streamed}/totals")
        .filter("origin = 'retract'")
        .count()
        == 3
    )
    assert (
        spark.read.parquet(f"{streamed}/posbatches")
        .filter("origin = 'retract'")
        .count()
        == 3
    )

    mono = str(tmp_path / "mono_idx")
    retrieval.build_text_index(docs, mono)
    retrieval.build_positional_index(docs, mono)
    retrieval.retract_text_index(dead, mono)
    retrieval.retract_positional_index(dead, mono)
    for probe in (retrieval.probe_text_index, retrieval.probe_phrase_index):
        got = [tuple(r) for r in probe(spark, streamed).collect()]
        want = [tuple(r) for r in probe(spark, mono).collect()]
        assert got == want


def test_stream_retract_torn_and_replayed_batches_are_exactly_once(
    spark, tmp_path
):
    """The retraction sinks' crash matrix: (a) a retraction torn after
    its tombstone write is invisible; (b) the replay re-appends
    byte-identical tombstones and commits — probes read tombstoned ids
    through a distinct, so the double rows are harmless; (c) replaying
    an ALREADY-committed retraction (the sink guard skips it, and even
    a forced re-run only adds a duplicate totals row probes dedup by
    batch id)."""
    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    dead = docs.filter(F.col("doc_id") % 7 == 0)
    idx = str(tmp_path / "idx")
    retrieval.build_text_index(docs, idx)
    full = [tuple(r) for r in retrieval.probe_text_index(spark, idx).collect()]

    # (a) tear: tombstones land, the negative totals row does not
    bid = dead.agg(batch_id_col("doc_id", "retract")).collect()[0]["batch_id"]
    dead.select("doc_id").distinct().withColumn(
        "batch_id", F.lit(bid)
    ).write.mode("append").parquet(f"{idx}/tombstones")
    assert [
        tuple(r) for r in retrieval.probe_text_index(spark, idx).collect()
    ] == full

    # (b) replay: the full retraction runs again (tombstones doubled
    # under the same content-derived id, then the commit record lands)
    retrieval.retract_text_index(dead, idx)
    mono = str(tmp_path / "mono")
    retrieval.build_text_index(docs, mono)
    retrieval.retract_text_index(dead, mono)
    got = [tuple(r) for r in retrieval.probe_text_index(spark, idx).collect()]
    want = [tuple(r) for r in retrieval.probe_text_index(spark, mono).collect()]
    assert got == want

    # (c) a forced second commit of the same batch id: probes dedup
    # totals rows by batch id, so N/total_len are not double-subtracted
    retrieval.retract_text_index(dead, idx)
    assert [
        tuple(r) for r in retrieval.probe_text_index(spark, idx).collect()
    ] == want


def test_stream_ivf_retract_multi_batch_equals_monolithic(spark, tmp_path):
    """Vector takedowns across 3 real micro-batches == one monolithic
    retract_ivf_vectors: same probe results, tombstoned vectors gone
    from candidates, frozen quantizer untouched."""
    import shutil

    import pyspark.sql.functions as F

    from salesforce_prefect_etl_pipeline_spark.operators import similarity
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
        stream_documents_dir,
        stream_ivf_retract_ingest,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )
    dead = emb.filter(F.col("vec_id") % 6 == 0).select("vec_id")
    dead_ids = sorted(r.vec_id for r in dead.collect())
    cuts = [dead_ids[len(dead_ids) // 3], dead_ids[2 * len(dead_ids) // 3]]
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
    ):
        part = dead
        if lo is not None:
            part = part.filter(F.col("vec_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("vec_id") < hi)
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    for i in range(3):
        f = next((src / f"b{i}").glob("*.parquet"))
        shutil.move(str(f), str(src / f"part-{i}.parquet"))
        shutil.rmtree(src / f"b{i}")

    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    streamed = str(tmp_path / "stream_ivf")
    cents = similarity.build_ivf_index(emb, streamed, nlist=8, iters=0)
    stream_ivf_retract_ingest(
        stream_documents_dir(spark, str(src), max_files_per_trigger=1),
        streamed,
    )
    mono = str(tmp_path / "mono_ivf")
    similarity.build_ivf_index(emb, mono, nlist=8, iters=0)
    similarity.retract_ivf_vectors(spark, mono, dead)
    got = [
        tuple(r)
        for r in similarity.probe_ivf(
            spark, streamed, qvecs, k=10, nprobe=8, centroids=cents
        ).collect()
    ]
    want = [
        tuple(r)
        for r in similarity.probe_ivf(
            spark, mono, qvecs, k=10, nprobe=8, centroids=cents
        ).collect()
    ]
    assert got == want and got
    dead_set = set(dead_ids)
    assert not any(r[1] in dead_set for r in got)
