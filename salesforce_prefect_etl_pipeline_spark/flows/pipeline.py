"""Pipeline orchestration (SURVEY.md §2.10, §3.1).

Reproduces the reference orchestrator DAG
(flows/sf_etl_orchestrator_flow.py:94-152):

    extract (blocking)
      ├─ ETL branch:  aggregate(spec) ── JSON records sink
      └─ QA branch:   schema gate ─┬─ dedup-by-key  ── CSV
                      nonempty gate┼─ column profile ── JSON
                                   └─ parquet snapshot
    drift check (consumes nonempty rowcount)
    run-metadata record

Differences by design (§7.0): one lazy Spark DAG with a single ``cache()``
materialization at the fan-out point instead of CSV round-trips between
stages. Each output is evaluated once: the aggregate is cached for its
two sinks, and the dedup and summary row counts ride along their writes.

Per-stage posture (flows/stages.py): each stage carries the reference's
exact retry config — extract 3x/10s with a 2h input-hash cache
(tasks/extract.py:59-65), process/load 2x/5s, QA 2x/5s — and the QA
branch fans out CONCURRENTLY on a ``LocalTaskRunner`` (the
``ConcurrentTaskRunner(max_workers=8)`` analog) with the reference's
``wait_for`` gating: dedup/profile/snapshot start only after BOTH
prechecks pass (flow:145-152).

The run record's ``timings`` holds each stage's wall seconds
(``<stage>_s``, ``time.perf_counter`` in this process) next to
``total_s``.

Failure semantics preserved: ETL-branch errors always raise; QA-branch
errors raise only when ``fail_on_qa_error`` (flow:50-65,162-171), with
per-task status recorded either way.

Prefect integration: when Prefect is installed, ``build_prefect_flow()``
maps each stage to a real @task with the same per-stage posture under
``ConcurrentTaskRunner(max_workers=8)`` — Spark actions become
Prefect-observable tasks ("Spark job orchestrated by Prefect"). Without
Prefect the plain function is the orchestrator.
"""

from __future__ import annotations

import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from salesforce_prefect_etl_pipeline_spark.metadata import (
    RunMetadataStore,
    make_run_record,
)
from salesforce_prefect_etl_pipeline_spark.operators.dedup import dedup_keep_first
from salesforce_prefect_etl_pipeline_spark.operators.quality import (
    nonempty_gate,
    observed_qa,
    profile_columns,
    rowcount_drift_check,
    schema_gate,
)
from salesforce_prefect_etl_pipeline_spark.plans.compiler import (
    build_agg_exprs,
    prepare_input,
)
from salesforce_prefect_etl_pipeline_spark.flows.stages import (
    EXTRACT_CACHE_EXPIRATION_S,
    EXTRACT_POLICY,
    PROCESS_POLICY,
    QA_MAX_WORKERS,
    QA_POLICY,
    LocalTaskRunner,
    Stage,
)
from salesforce_prefect_etl_pipeline_spark.sources import io as sio
from salesforce_prefect_etl_pipeline_spark.specs import TableSpec

try:  # optional orchestrator (not installed in this container)
    from prefect import flow, task  # type: ignore

    HAVE_PREFECT = True
except ImportError:  # pragma: no cover
    HAVE_PREFECT = False


@dataclass
class PipelineResult:
    run_id: str
    artifacts: dict = field(default_factory=dict)
    row_counts: dict = field(default_factory=dict)
    qa: dict = field(default_factory=dict)
    states: dict = field(default_factory=dict)
    timings: dict = field(default_factory=dict)
    drift: dict | None = None


def aggregate_spec(df: DataFrame, spec: TableSpec) -> DataFrame:
    """The ETL-branch transform (process_object_data port) on an
    already-loaded frame."""
    from pyspark.sql import functions as F

    prepared = prepare_input(df, spec)
    keys = list(spec.group_by)
    aggs = build_agg_exprs(spec)
    if keys:
        return prepared.groupBy(*keys).agg(*aggs).orderBy(F.asc_nulls_first(keys[0]))
    return prepared.agg(*aggs)


def run_pipeline(
    spark: SparkSession,
    spec: TableSpec,
    source_df: DataFrame,
    out_dir: str,
    *,
    dedup_key: str = "Id",
    fail_on_qa_error: bool = False,
    metadata_store: RunMetadataStore | None = None,
    qa_max_workers: int = QA_MAX_WORKERS,
    retry_sleep=time.sleep,
) -> PipelineResult:
    """Full orchestrated run over an extracted frame."""
    run_id = uuid.uuid4().hex[:8]
    res = PipelineResult(run_id=run_id)
    t0 = time.perf_counter()
    _lock = threading.Lock()

    def _timed(name, fn):
        start = time.perf_counter()
        try:
            return fn()
        finally:
            with _lock:
                res.timings[f"{name}_s"] = time.perf_counter() - start

    # X2: extract-once fan-out -> cache at the branch point.
    raw = source_df.cache()
    raw_rows = _timed("cache", raw.count)  # materializes the cache
    res.row_counts["raw"] = raw_rows

    def _qa(name, fn, policy=QA_POLICY):
        stage = Stage(fn, name=name, policy=policy, sleep=retry_sleep)
        try:
            out = _timed(name, stage)
            with _lock:
                res.states[name] = "ok"
            return out
        except Exception as e:
            with _lock:
                res.states[name] = f"error: {e}"
            if fail_on_qa_error:
                raise
            return None

    # --- QA branch: concurrent fan-out (flow:81-84,145-152) — both
    # prechecks run in parallel; the three workers gate on BOTH via
    # wait_for; the ETL branch proceeds on the main thread meanwhile.
    # Spark actions block in py4j and release the GIL, so the branches
    # genuinely overlap (on a cluster: concurrent jobs under fair pools).
    runner = LocalTaskRunner(max_workers=qa_max_workers)
    try:
        schema_f = runner.submit(
            _qa, "schema_gate", lambda: schema_gate(raw, list(spec.required_cols))
        )
        nonempty_f = runner.submit(_qa, "nonempty_gate", lambda: nonempty_gate(raw))

        def _gated(fn):
            # advisory mode records a failed gate as None: workers skip
            if schema_f.result() is None or nonempty_f.result() is None:
                return None
            return fn()

        def _dedup():
            # the row count rides along the write instead of re-running
            # the window sort in a second action
            deduped, obs = observed_qa(
                dedup_keep_first(raw, dedup_key), [], name=f"dedup_{run_id}"
            )
            path = f"{out_dir}/{spec.name}_dedup.csv"
            sio.write_csv_single(deduped, path)
            with _lock:
                res.artifacts["dedup_csv"] = path
                res.row_counts["dedup"] = obs.get["rows"]
            return path

        def _profile():
            prof = profile_columns(raw)
            with _lock:
                res.qa["profile"] = prof
            return prof

        def _snapshot():
            path = f"{out_dir}/{spec.name}_snapshot.parquet"
            sio.snapshot_parquet(raw, path)
            with _lock:
                res.artifacts["snapshot_parquet"] = path
            return path

        dedup_f = runner.submit(
            _gated, lambda: _qa("dedup", _dedup), wait_for=(schema_f, nonempty_f)
        )
        prof_f = runner.submit(
            _gated, lambda: _qa("profile", _profile), wait_for=(schema_f, nonempty_f)
        )
        snap_f = runner.submit(
            _gated, lambda: _qa("snapshot", _snapshot), wait_for=(schema_f, nonempty_f)
        )

        # --- ETL branch (strict; overlaps the QA branch) ---------------
        def _process_and_load():
            # one evaluation of the aggregate feeds both sinks; the JSON
            # sink's record count rides along its collect
            agg = aggregate_spec(raw, spec).cache()
            try:
                processed_csv = f"{out_dir}/{spec.name}_summary.csv"
                sio.write_csv_single(agg, processed_csv)
                out_json = f"{out_dir}/{spec.name}_summary.json"
                records, obs = observed_qa(agg, [], name=f"processed_{run_id}")
                sio.write_json_records(records, out_json)
            finally:
                agg.unpersist()
            with _lock:
                res.artifacts["processed_csv"] = processed_csv
                res.artifacts["output_json"] = out_json
                res.row_counts["processed"] = obs.get["rows"]
            return processed_csv

        _timed(
            "process",
            Stage(
                _process_and_load, name="process", policy=PROCESS_POLICY, sleep=retry_sleep
            ),
        )
        res.states["process"] = res.states["load"] = "ok"

        # join the QA branch (propagates strict-mode failures)
        for f in (schema_f, nonempty_f, dedup_f, prof_f, snap_f):
            f.result()
    finally:
        runner.shutdown()
        raw.unpersist()

    # --- drift (consumes the nonempty rowcount, flow:155-157) -----------
    res.drift = _timed(
        "drift",
        lambda: rowcount_drift_check(spark, spec.name, raw_rows, f"{out_dir}/qc_state"),
    )

    # --- metadata record (flow:221-246) ---------------------------------
    res.timings["total_s"] = time.perf_counter() - t0
    record = make_run_record(
        spec.name,
        run_id=run_id,
        states=res.states,
        artifacts=res.artifacts,
        row_counts=res.row_counts,
        timings=res.timings,
        extra={"drift": res.drift},
    )
    store = metadata_store or RunMetadataStore(f"{out_dir}/metadata")
    store.append(record)
    store.write_latest(record, spec.name)
    return res


def make_extract_stage(spark: SparkSession, fetch, retry_sleep=time.sleep) -> Stage:
    """Cached, retried extract stage with the reference's exact posture
    (tasks/extract.py:59-65): retries=3, retry_delay_seconds=10,
    input-hash result cache with 2h expiration — keyed on the SOQL plan
    string, so a repeated extract within the window returns the cached
    frame without touching the source."""
    from salesforce_prefect_etl_pipeline_spark.sources.salesforce import records_to_df

    def _extract(soql_plan: str) -> DataFrame:
        return records_to_df(spark, fetch(soql_plan), soql_plan)

    return Stage(
        _extract,
        name="extract_salesforce",
        policy=EXTRACT_POLICY,
        cache_expiration_s=EXTRACT_CACHE_EXPIRATION_S,
        sleep=retry_sleep,
    )


def build_prefect_flow():  # pragma: no cover - requires prefect
    """Map the pipeline onto real Prefect per-stage tasks with the
    reference's exact posture: extract 3x/10s + 2h input-hash cache,
    process/load 2x/5s, QA tasks 2x/5s fanned out concurrently under
    ConcurrentTaskRunner(max_workers=8) with wait_for gates
    (flows/sf_etl_orchestrator_flow.py:81-84,145-152)."""
    if not HAVE_PREFECT:
        raise ImportError("prefect is not installed")
    from datetime import timedelta

    from prefect.task_runners import ConcurrentTaskRunner  # type: ignore
    from prefect.tasks import task_input_hash as _pf_input_hash  # type: ignore

    from salesforce_prefect_etl_pipeline_spark.sources.salesforce import (
        build_soql,
        records_to_df,
    )

    @task(
        name="extract_salesforce",
        retries=EXTRACT_POLICY.retries,
        retry_delay_seconds=EXTRACT_POLICY.retry_delay_seconds,
        cache_key_fn=_pf_input_hash,
        cache_expiration=timedelta(seconds=EXTRACT_CACHE_EXPIRATION_S),
    )
    def _extract(spark, fetch, soql):
        return records_to_df(spark, fetch(soql), soql)

    @task(
        name="process_object_data",
        retries=PROCESS_POLICY.retries,
        retry_delay_seconds=PROCESS_POLICY.retry_delay_seconds,
    )
    def _process(spark, spec, raw, out_dir):
        agg = aggregate_spec(raw, spec)
        path = f"{out_dir}/{spec.name}_summary.csv"
        sio.write_csv_single(agg, path)
        return path

    @task(
        name="load_csv_to_json",
        retries=PROCESS_POLICY.retries,
        retry_delay_seconds=PROCESS_POLICY.retry_delay_seconds,
    )
    def _load(spark, spec, raw, out_dir):
        agg = aggregate_spec(raw, spec)
        path = f"{out_dir}/{spec.name}_summary.json"
        sio.write_json_records(agg, path)
        return path

    def _qa_task(name, fn):
        return task(
            name=name,
            retries=QA_POLICY.retries,
            retry_delay_seconds=QA_POLICY.retry_delay_seconds,
        )(fn)

    _schema = _qa_task("precheck_schema", lambda raw, cols: schema_gate(raw, cols))
    _nonempty = _qa_task("precheck_nonempty", lambda raw: nonempty_gate(raw))
    _dedup = _qa_task(
        "deduplicate_by_id",
        lambda raw, key, out: sio.write_csv_single(dedup_keep_first(raw, key), out),
    )
    _profile = _qa_task("profile_columns", lambda raw: profile_columns(raw))
    _snapshot = _qa_task(
        "snapshot_parquet", lambda raw, out: sio.snapshot_parquet(raw, out)
    )

    @flow(
        name="sf-etl-orchestrator",
        task_runner=ConcurrentTaskRunner(max_workers=QA_MAX_WORKERS),
    )
    def orchestrate(spark, spec, fetch, out_dir, soql=None, limit=100):
        plan = soql or build_soql(spec, limit)
        raw = _extract(spark, fetch, plan)
        processed_f = _process.submit(spark, spec, raw, out_dir)
        json_f = _load.submit(spark, spec, raw, out_dir, wait_for=[processed_f])
        schema_f = _schema.submit(raw, list(spec.required_cols))
        nonempty_f = _nonempty.submit(raw)
        dedup_f = _dedup.submit(
            raw, "Id", f"{out_dir}/{spec.name}_dedup.csv",
            wait_for=[schema_f, nonempty_f],
        )
        prof_f = _profile.submit(raw, wait_for=[schema_f, nonempty_f])
        snap_f = _snapshot.submit(
            raw, f"{out_dir}/{spec.name}_snapshot.parquet",
            wait_for=[schema_f, nonempty_f],
        )
        return {
            "processed": processed_f.result(),
            "json": json_f.result(),
            "qa": [f.result() for f in (dedup_f, prof_f, snap_f)],
        }

    return orchestrate
