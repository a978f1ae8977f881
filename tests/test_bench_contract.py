"""The bench reporting channel's contract with the driver: ONE compact
final stdout line that fits the driver's bounded tail capture. Round
9's line carried the per-query spread dict, outgrew the buffer, and
the round's official perf record was lost (BENCH_r09 parsed: null) —
this pins the line shape so that class of loss cannot recur."""

from __future__ import annotations

import json

import bench


def test_final_line_is_compact_for_a_full_registry_worst_case():
    # worst case: every headline query present with a wide median value
    timings = {name: 9999.999 for name in bench.HEADLINE}
    line = bench.compact_line(timings, "0.1")
    assert len(line.encode()) <= bench.MAX_FINAL_LINE_BYTES
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_suite_wall_seconds"
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert "spread" not in parsed and "runs_per_query" not in parsed
    assert parsed["sf"] == 0.1
    assert parsed["value"] == round(sum(timings.values()), 3)


def test_current_headline_emits_with_zero_drops():
    # The cap-by-construction truncation must be DORMANT at the current
    # registry size even with every name at the real longest width and
    # wide medians — HEADLINE growth that would start dropping entries
    # should hit this assert in review, not silently thin the record.
    width = max(len(n) for n in bench.HEADLINE)
    timings = {
        f"q{i:03d}".ljust(width, "x"): 9999.999
        for i in range(len(bench.HEADLINE))
    }
    parsed = json.loads(bench.compact_line(timings, "1"))
    assert "queries_dropped" not in parsed
    assert len(parsed["queries"]) == len(bench.HEADLINE)


def test_oversized_registry_truncates_cheapest_first_never_overflows():
    # 5x growth: the line still fits the cap by construction, the FULL
    # suite total survives, the kept entries are the most expensive
    # ones, and the drop is flagged in-record.
    timings = {f"q{i:04d}_{'x' * 30}": float(i) for i in range(5 * len(bench.HEADLINE))}
    line = bench.compact_line(timings, "1")
    assert len(line.encode()) <= bench.MAX_FINAL_LINE_BYTES
    parsed = json.loads(line)
    assert parsed["queries_dropped"] > 0
    assert parsed["queries_dropped"] + len(parsed["queries"]) == len(timings)
    assert parsed["value"] == round(sum(timings.values()), 3)
    kept_min = min(parsed["queries"].values())
    dropped_max = max(v for n, v in timings.items() if n not in parsed["queries"])
    assert kept_min >= dropped_max


def test_jvm_log_routing_is_set_before_the_gateway_launches(spark):
    """r13: the spark.driver.extraJavaOptions route (r12 fix) is inert
    in local mode — the gateway JVM is already up when the builder
    applies confs — and a shutdown-time GCLocker warning landed on
    stdout AFTER bench's final JSON line at sf10, stealing the driver's
    last-line capture. The working hook is JAVA_TOOL_OPTIONS set in
    get_spark BEFORE any py4j touch; this pins both the env hook and
    its -Xlog routing."""
    import inspect
    import os

    from salesforce_prefect_etl_pipeline_spark import session

    src = inspect.getsource(session.get_spark)
    assert "JAVA_TOOL_OPTIONS" in src
    assert "-Xlog:all=warning:stderr" in src
    # the session fixture called get_spark: the hook must have landed
    # in the live environment too
    assert "-Xlog" in os.environ.get("JAVA_TOOL_OPTIONS", "")


def test_designed_guards_are_bench_skips_not_crashes():
    """Both designed-refusal guards must be subclasses of the exception
    pair bench.main() catches per-row (r12: the sf10 ladder CRASHED on
    the iters=0 seed guard because it raised a bare ValueError the
    skip handler didn't cover — a guard firing by design must cost one
    row, never the whole suite's record)."""
    import inspect

    from salesforce_prefect_etl_pipeline_spark.operators.multimodal import (
        FamilySizeError,
    )
    from salesforce_prefect_etl_pipeline_spark.operators.similarity import (
        SeedReplayError,
    )

    src = inspect.getsource(bench.main)
    handler = "except (FamilySizeError, SeedReplayError)"
    assert handler in src, "bench lost its designed-guard skip handler"
    # both stay ValueErrors so non-bench callers' existing handling holds
    assert issubclass(FamilySizeError, ValueError)
    assert issubclass(SeedReplayError, ValueError)


def test_graft_conf_overrides_parse_only_applied_pairs(monkeypatch):
    """get_spark applies, and bench.py stamps, the same parsed pairs:
    entries without ``=`` or with an empty key are dropped by both."""
    from salesforce_prefect_etl_pipeline_spark.session import graft_conf_overrides

    monkeypatch.setenv("SPARK_GRAFT_CONF", " a.b = 1 ;junk;=x; c=d=e;")
    assert graft_conf_overrides() == {"a.b": "1", "c": "d=e"}
    monkeypatch.setenv("SPARK_GRAFT_CONF", "no pairs here")
    assert graft_conf_overrides() == {}
    monkeypatch.delenv("SPARK_GRAFT_CONF")
    assert graft_conf_overrides() == {}
