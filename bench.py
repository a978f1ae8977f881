"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (medians only — the driver's tail capture
has a bounded buffer, and round 9's spread-laden line overflowed it):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}
Per-query [min, max] spreads + runs_per_query go to the BENCH_SPREAD.json
sidecar (repo root) and stderr.

With query names as arguments (``python bench.py q1_pricing_summary
corpus_e2e_curation``) it is the focused A/B tool instead: after the
same warm-up it times only those rows, $SPARK_GRAFT_BENCH_RUNS times
each, writes no sidecar, and prints one JSON line
  {"queries": {name: median}, "spread": {name: [sec, ...]},
   "runs": N, "sf_dir": "..."}
Run it from the checkout whose code you want to measure — it imports
__spark_entry__ from its own directory.

Headline set: one representative per operator family, weighted toward
what dominates at 100 TB (big-fact scan+agg, multi-join, window, LSH
dedup, ANN, sessionization). The quadratic exact verifiers
(jaccard_pairs, emb near-dup brute force) are deliberately excluded —
their scale path (minhash/SRP) is what's benchmarked.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "spec_orders_by_status",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "join_revenue_by_region",
    "window_top3_orders_per_customer",
    "agg_distinct_suppliers_per_flag",
    "events_sessionization",
    "events_json_extract",
    "text_quality_score",
    # The LSH pairs frame is shared by dedup_minhash_lsh and
    # dedup_near_dup_clusters (one persisted table feeding both reports at
    # corpus scale). Its materialization is timed as its own labeled step
    # below so each consumer reports MARGINAL cost and a regression in
    # either is attributable.
    "dedup_minhash_pairs_build",
    "dedup_minhash_lsh",
    "dedup_near_dup_clusters",
    "ann_cosine_topk",
    "ann_ivf_probe",
    "join_asof_clicks_to_purchases",
    "streaming_events_hourly",
    "q7_volume_shipping",
    "q18_large_orders",
    # The heaviest shuffle plans in the repo: q21's double lineitem
    # semi/anti self-join, q9's three-way fact join with part filter,
    # and the funnel's three chained user-keyed aggregations.
    "q21_suppliers_kept_waiting",
    "q9_product_profit",
    "events_funnel",
    # Packer throughput: full FFD packing (applyInPandas over md5 groups)
    # plus the per-group fill-ratio aggregation.
    "corpus_pack_stats",
    # Round-6 heavies: per-character window polynomial over full text
    # (CDC chunking), 5 chained join+agg iterations (PageRank), and the
    # stream-stream interval join (bounded-state click attribution) —
    # the slowest single query in the repo, previously unbenched.
    "text_chunk_fingerprints",
    "graph_nation_pagerank",
    "streaming_click_attribution",
    # Round-7 rows: PQ encoding (Arrow map over the whole corpus),
    # incremental probe against the persisted LSH index (increment
    # signing + band join; index build is warmed untimed like IVF),
    # bounded-state exact percentiles (bin window), and the cross-doc
    # boilerplate n-gram count (explode + gram-keyed shuffle).
    "emb_pq_codes",
    "dedup_incremental_probe",
    "agg_binned_percentiles",
    "text_common_ngrams",
    # Late round-7 additions: within-cluster SemDeDup pairwise prune
    # (the heaviest of the three — sum(|cluster|^2) cosine folds),
    # Bloom snapshot probe (bitset build + broadcast membership join),
    # and perceptual-hash image near-dup (real BMP decode + banded
    # Hamming join).
    "emb_semdedup_prune",
    "dedup_bloom_snapshot",
    "media_phash_near_dup",
    # Family-collapsed twin of the above: linear output where
    # identical-image families are unbounded (see SCALE.md "Measured
    # scaling") — benched next to the pair form so both shapes stay
    # visible.
    "media_phash_families",
    "media_audio_near_dup",
    "media_video_near_dup",
    # Round-10 rows: the family-collapsed audio/video forms (the shapes
    # their pair ops' family-size guards steer to) — benched beside the
    # pair forms so both stay visible, like the image twins above.
    "media_audio_families",
    "media_video_families",
    # Round-8 rows. First, families previously invisible to the perf
    # gate (a regression there never showed in BENCH): analytic-window
    # percentiles, rollup, and the nearest-direction as-of join.
    "window_percentile_ranks",
    "rollup_lineitem",
    "join_asof_nearest",
    # New this round: the one-sided containment LSH scale path
    # (argmin-signature probe join + exact verification of survivors).
    "dedup_containment_lsh",
    # Round-9 row: the distributed frontier-MIS greedy accept (the
    # decision engine streaming dedup-on-ingest runs above its driver
    # cap) — benched so its round count / shuffle
    # growth gets a measured exponent in the sf1 scaling suite. Shares
    # the memoized LSH pairs frame, so the row is the MIS marginal.
    "dedup_greedy_accept_distributed",
    # corpus_e2e_curation DOES recompose stages benched above (minhash
    # signing/pairs + CC + packing), but it is the flagship end-to-end
    # pipeline a user actually runs, so its wall-clock belongs in the
    # gate; round-over-round totals stay attributable via the
    # shared-subset comparison the driver performs.
    "corpus_e2e_curation",
    # streaming_dedup_ingest (~11 s warm) and corpus_multimodal_gate
    # remain out: each recomposes benched stages (signing + index
    # probe + micro-batch overhead; video/audio synthesis +
    # fingerprint joins) without being a headline user pipeline.
    # Round-13 rows: exact-substring dedup (per-position window
    # polynomial + gram-keyed shuffle + span verification joins — a
    # new heavy text shape), and the embedding panel twins — fixed-size
    # by construction, benched so the ladder records their ~flat
    # exponents where the full forms are designed SeedReplayError
    # skips (sf10).
    "dedup_exact_substring",
    "emb_pq_codes_panel",
    "emb_semdedup_prune_panel",
    # Round-13 training/retrieval rows: BM25 top-k (one corpus explode
    # restricted by a broadcast query-term join), 4-merge BPE training
    # (one corpus scan + 4 vocabulary-sized iterations), and the
    # 3-epoch batch perceptron (sparse hashed features x broadcast
    # weight vector per epoch).
    "text_bm25_topk",
    "text_bpe_train_merges",
    "text_perceptron_quality",
    # ... and the persisted-index probe beside the direct scan form
    # (build warmed untimed like the IVF/minhash indexes — the probe's
    # bucket-pruned read is the 100 TB row). text_bpe_encode stays out:
    # it recomposes the benched training loop plus one corpus join;
    # text_bm25_appended too (same probe as indexed over a
    # differently-built index).
    "text_bm25_indexed",
    # The bounded approximate tier (champion build warmed untimed) and
    # the single-shuffle exact-phrase search.
    "text_bm25_champion",
    "text_phrase_search",
    # Round-14 rows: hybrid RRF (both retrieval legs + integer fusion —
    # the flagship hybrid pipeline) and the 16-merge BPE run (4x the
    # iteration count of the 4-merge row, benched beside it so the
    # per-merge cost gets its own measured exponent). The other r14
    # rows recompose benched shapes: analyzed BM25 is bm25_topk plus a
    # per-scan regexp, the *_appended probes are the indexed probes
    # over differently-built indexes, and streaming_bm25_index_ingest
    # is append_text_index plus micro-batch overhead (the
    # streaming_dedup_ingest exclusion rationale).
    "text_hybrid_rrf_topk",
    "text_bpe_train_merges16",
    # Round-15 rows: the tombstone-reconciled BM25 probe (the indexed
    # probe plus the committed-tombstone anti-join — the delete path's
    # marginal read cost) and the IVF per-list skew report (a new
    # column-pruned full-lists aggregation). The other r15 rows
    # recompose benched shapes: *_compacted/champion_retracted/
    # phrase_retracted are the same probes over differently-maintained
    # indexes, unicode BM25 is bm25_topk plus a per-scan regexp,
    # weighted RRF re-runs three benched legs, ann_ivf_rebalanced is
    # build+assign, and streaming_ivf_index_ingest is
    # append_ivf_vectors plus micro-batch overhead.
    "text_bm25_retracted",
    "ann_ivf_list_stats",
    # Round-16 rows: the IVFADC probe (a NEW serving shape — codes-only
    # partition-pruned scan + integer ADC lookups + shortlist re-rank
    # against the source table) and the text-tier maintenance
    # instrument (a new column-pruned full-postings aggregation, the
    # lexical twin of ann_ivf_list_stats). The other r16 rows
    # recompose benched shapes: stemmed BM25 is bm25_topk plus a
    # per-token regexp chain (the unicode-row rationale), and the
    # streaming retractions are the retraction writes plus micro-batch
    # overhead (the streaming_dedup_ingest exclusion rationale).
    "ann_ivfpq_topk",
    "text_index_stats",
    # The late-r16 rows stay out of HEADLINE (added after the r16
    # ladder was recorded; HEADLINE changes mid-round would desync
    # BENCH_SCALING_r16): ann_ivfpq_residual_topk is the ivfpq row's
    # serving shape with per-list LUTs (same pruned codes scan), and
    # dedup_minhash_index_stats recomposes the signature build cost
    # dedup_minhash_pairs_build already times plus a two-level rollup.
]


def _calibration_probe(spark) -> float:
    """Box-speed calibration (r13 verdict task 7): a fixed synthetic
    shuffle+agg over spark.range whose code NEVER changes round to
    round, timed with the same protocol as the suite. Because the probe
    is code-version-invariant by construction, its round-over-round
    ratio measures the BOX (thermal/VM/scheduling decay — r13 measured
    identical code drifting 37.5 -> 49.7 s), not the repo: dividing
    suite walls by the calibration ratio separates code regressions
    from environment drift without re-running old commits. Recorded
    pre- and post-suite so within-run decay is visible too."""
    from pyspark.sql import functions as F

    t0 = time.time()
    n = (
        spark.range(0, 20_000_000, 1, 32)
        .select(
            (F.col("id") % 9973).alias("k"),
            (F.col("id") * 2654435761 % 104729).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .count()
    )
    assert n == 9973
    return time.time() - t0


#: The driver records the LAST stdout line of a bench run with a
#: bounded tail buffer; round 9's line carried the per-query spread
#: dict, outgrew it, and the round's perf record was lost. Keep the
#: final line comfortably under this bound (a pytest asserts it for a
#: full-registry worst case).
MAX_FINAL_LINE_BYTES = 4096


def compact_line(timings: dict[str, float], sf: str, calib: float | None = None) -> str:
    """The ONE stdout JSON line: metric/value/queries medians/sf only.
    Spreads and run counts belong in the sidecar, never here.

    Fits under MAX_FINAL_LINE_BYTES BY CONSTRUCTION: compact JSON
    separators first, and if the per-query dict still overflows the cap
    (registry growth), the CHEAPEST-timed entries are dropped — their
    medians survive in the sidecar — with a ``queries_dropped`` count so
    the truncation is visible in the record. ``value`` stays the FULL
    suite total either way. A pytest tripwire separately asserts the
    current HEADLINE emits with zero drops, so growth is a review
    decision, not a silent degradation."""
    total = round(sum(timings.values()), 3)

    def render(kept: dict[str, float], dropped: int) -> str:
        rec = {
            "metric": "headline_suite_wall_seconds",
            "value": total,
            "unit": "sec",
            "queries": kept,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
        if calib is not None:
            rec["calib_sec"] = calib
        if dropped:
            rec["queries_dropped"] = dropped
        return json.dumps(rec, separators=(",", ":"))

    # Cheapest-first drop order (ties: name desc so the kept set is
    # deterministic); expensive rows are the cross-round signal.
    order = sorted(timings, key=lambda n: (timings[n], n), reverse=True)
    for n_drop in range(len(timings) + 1):
        kept = {n: timings[n] for n in timings if n in set(order[: len(order) - n_drop])}
        line = render(kept, n_drop)
        if len(line.encode()) <= MAX_FINAL_LINE_BYTES:
            return line
    return render({}, len(timings))


def warm(spark, sf_dir: str, queries) -> None:
    """Untimed warm-up before either mode: the JVM, each big table's
    first scan, and every persisted index the timed rows probe."""
    from salesforce_prefect_etl_pipeline_spark.queries_llm import (
        _ensure_ivfpq_codes,
        ensure_ivf_index,
        ensure_minhash_index,
    )
    from salesforce_prefect_etl_pipeline_spark.queries_train import (
        ensure_champion_lists,
        ensure_text_index_retracted,
    )

    # Warm the JVM/code paths AND each big table's first scan (not
    # timed): the flagship covers orders, but the first documents/events
    # query in suite order was otherwise paying the cold file scan —
    # corpus_pack_stats benched ~2x its warm cost purely from ordering.
    queries["spec_orders_by_status"](spark, sf_dir).collect()
    queries["corpus_split_counts"](spark, sf_dir).collect()
    queries["events_hourly_by_type"](spark, sf_dir).collect()
    queries["q6_forecast_revenue"](spark, sf_dir).collect()
    # Offline index build (not timed): ann_ivf_probe measures PROBE cost —
    # at 100 TB the index is built once and amortized across query batches.
    ensure_ivf_index(spark, sf_dir)
    # the iters=0 index too: ann_ivf_list_stats reports over it, and
    # ann_ivfpq_topk probes its derived PQ-codes component (the codes
    # encode is index-publish maintenance, warmed untimed like every
    # other build)
    _ensure_ivfpq_codes(spark, sf_dir, ensure_ivf_index(spark, sf_dir, iters=0))
    # Same offline/online split for the LSH index: the probe row
    # measures PROBE cost, the one-time corpus signing is not timed.
    ensure_minhash_index(spark, sf_dir)
    # ... and for the BM25 inverted index (text_bm25_indexed probes it)
    # plus its derived champion tier (text_bm25_champion).
    ensure_champion_lists(spark, sf_dir)
    # ... and the retracted index (text_bm25_retracted measures the
    # tombstone-reconciled PROBE, not the build+retract maintenance)
    ensure_text_index_retracted(spark, sf_dir)


def time_query(spark, sf_dir: str, queries, name: str, runs: int) -> tuple[list[float], int]:
    """``runs`` wall times of one row, sorted, and its row count (-1 for
    a streaming frame)."""
    from salesforce_prefect_etl_pipeline_spark.queries_llm import _minhash_pairs_cached

    times, n = [], -1
    for _ in range(runs):
        t0 = time.time()
        if name == "dedup_minhash_pairs_build":
            n = _minhash_pairs_cached(spark, sf_dir, refresh=True).count()
        else:
            df = queries[name](spark, sf_dir)
            n = df.count() if not df.isStreaming else -1
        times.append(time.time() - t0)
    return sorted(times), n


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod
    from salesforce_prefect_etl_pipeline_spark.session import (
        get_spark,
        graft_conf_overrides,
    )

    spark = get_spark("bench")
    queries = entrymod.queries()

    warm(spark, sf_dir, queries)
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    names = sys.argv[1:]
    if names:
        timings, spread = {}, {}
        for name in names:
            times, _ = time_query(spark, sf_dir, queries, name, runs_per_query)
            timings[name] = round(statistics.median(times), 3)
            spread[name] = [round(t, 3) for t in times]
            print(f"# {name}: median {timings[name]}s of {spread[name]}", file=sys.stderr)
        print(
            json.dumps(
                {"queries": timings, "spread": spread, "runs": runs_per_query, "sf_dir": sf_dir}
            )
        )
        return

    # median-of-3 per query, spread reported: single-shot timings on this
    # box swing ~1.5x with VM noise (measured 38.7 s vs 57.0 s total for
    # identical code, and a round-8 audit burned time proving a 0.4 s
    # query's apparent 1.5x "regression" was scheduling noise). The
    # median is the attributable round-over-round number; the per-query
    # [min, max] spread distinguishes a real shift (spreads separate)
    # from noise (spreads overlap) without re-running.
    from salesforce_prefect_etl_pipeline_spark.operators.multimodal import (
        FamilySizeError,
    )
    from salesforce_prefect_etl_pipeline_spark.operators.similarity import (
        SeedReplayError,
    )

    # pre-suite calibration: median-of-3 of the fixed box-speed probe
    # (first run discarded as codegen warmup)
    _calibration_probe(spark)
    calib_pre = round(
        statistics.median(sorted(_calibration_probe(spark) for _ in range(3))), 3
    )
    print(f"# calibration probe (pre): {calib_pre}s", file=sys.stderr)
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        try:
            times, n = time_query(spark, sf_dir, queries, name, runs_per_query)
        except (FamilySizeError, SeedReplayError) as exc:
            # Designed guards, not failures: the quadratic-output pair
            # form refuses family-heavy corpora (the linear *_families
            # row is the representative there), and the SQL-replayable
            # iters=0 seed quantizer/codebook refuses corpora above its
            # full-seed cap (the iters>0 Lloyd's path is the scale
            # form). Omit the row rather than bench the refusal.
            print(f"# {name}: SKIPPED ({exc})", file=sys.stderr)
            continue
        timings[name] = round(statistics.median(times), 3)
        spread[name] = [round(times[0], 3), round(times[-1], 3)]
        print(
            f"# {name}: {timings[name]}s median of {times} ({n} rows)",
            file=sys.stderr,
        )

    # The [min, max] spreads + run count go to a SIDECAR file and stderr,
    # NOT the final stdout line (see MAX_FINAL_LINE_BYTES);
    # tools/bench_compare.py reads the sidecar for spread-aware noise
    # separation.
    calib_post = round(
        statistics.median(sorted(_calibration_probe(spark) for _ in range(3))), 3
    )
    print(f"# calibration probe (post): {calib_post}s", file=sys.stderr)
    sidecar = {
        "spread": spread,
        "runs_per_query": runs_per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calib_sec": {"pre": calib_pre, "post": calib_post},
    }
    # r17 advice: a $SPARK_GRAFT_CONF session override silently changes
    # what a recorded run measured — stamp the pairs get_spark applied
    # into the run's metadata so affected records are identifiable (no
    # key = clean defaults).
    overrides = graft_conf_overrides()
    if overrides:
        sidecar["graft_conf"] = ";".join(f"{k}={v}" for k, v in overrides.items())
    repo = os.path.dirname(os.path.abspath(__file__))
    # The unstamped repo-root sidecar is the ROUND RECORD too (r15
    # advice: a RUNS=1 ladder point or an A/B rep at another sf was
    # silently clobbering it) — only driver-shaped sf0.1 runs may write
    # it; everything else writes the .local suffix, which is
    # gitignored scratch.
    driver_shaped_sidecar = (
        sf == "0.1"
        and (runs_per_query > 1 or os.environ.get("SPARK_GRAFT_BENCH_ROUND"))
    )
    sidecar_path = os.path.join(
        repo,
        "BENCH_SPREAD.json" if driver_shaped_sidecar else "BENCH_SPREAD.local.json",
    )
    with open(sidecar_path, "w") as f:
        json.dump(sidecar, f, indent=1)
    # ... and a round-stamped archive copy (r11 verdict task 5): the
    # un-stamped file is overwritten each round, so spread-aware
    # comparison of two past rounds needed git archaeology. The round
    # stamp comes from SPARK_GRAFT_BENCH_ROUND when set; otherwise it
    # is inferred from BOTH round artifacts (r12 advice — the naive
    # max(CORRECTNESS)+1 mislabeled the driver's own end-of-round bench,
    # which runs AFTER its CORRECTNESS_rN lands): if CORRECTNESS_rN
    # exists but BENCH_rN does not, round N is still being recorded and
    # the stamp is N; once both exist, round N is closed and the stamp
    # is N+1.
    import glob as _glob

    rounds = [
        int(os.path.basename(p).split("_r")[1].split(".")[0])
        for p in _glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    ]
    env_round = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    # Only the driver-shaped run is archived: sf0.1 AND the full
    # median-of-N protocol. A RUNS=1 ladder point at sf0.1 must not
    # clobber the round's stamped record (it did in r14) unless the
    # round is named explicitly.
    driver_shaped = runs_per_query > 1 or env_round
    if (rounds or env_round) and sf == "0.1" and driver_shaped:
        if env_round:
            n = int(env_round)
        else:
            n = max(rounds)
            if os.path.exists(os.path.join(repo, f"BENCH_r{n}.json")):
                n += 1
        stamped = os.path.join(repo, f"BENCH_SPREAD_r{n:02d}.json")
        with open(stamped, "w") as f:
            json.dump(sidecar, f, indent=1)
        print(f"# round-stamped spread sidecar: {stamped}", file=sys.stderr)
    print(f"# spread sidecar written to {sidecar_path}", file=sys.stderr)
    print(f"# {json.dumps(sidecar)}", file=sys.stderr)
    # compact_line fits the cap by construction (cheapest entries drop
    # to the sidecar if the registry outgrows it, flagged in-record via
    # queries_dropped).
    line = compact_line(timings, sf, calib=calib_pre)
    if '"queries_dropped"' in line:
        print(
            f"# final line truncated to fit {MAX_FINAL_LINE_BYTES}B cap; "
            f"dropped medians survive in {sidecar_path}",
            file=sys.stderr,
        )
    print(line)


if __name__ == "__main__":
    main()
