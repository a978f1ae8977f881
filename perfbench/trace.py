"""Per-layer tracing from outside the program.

The traced run wraps each layer's public functions with span recorders
that live here, in the benchmark's own files; the program is not edited.
A function is wrapped at every place the package binds it: a module
that did ``from ..operators.quality import profile_columns`` calls its
own binding, so that binding is the one replaced.

Each span records a name, start, end, parent and thread, and sets its
own Spark job group on the calling thread for its duration. After an
operation the benchmark reads the new jobs from Spark's status store
(``sc._jsc.sc().statusStore()``) and gives each job to the span whose
group it carries. Streaming micro-batches run on the query's own thread
under a job group equal to the query's run id; a
``StreamingQueryListener`` maps that run id to the streaming span that
started the query and records each batch's ``durationMs`` phases.

Spans are kept in memory and summarized when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "salesforce_prefect_etl_pipeline_spark"

#: Layers reported as ``<layer>.<metric>``, in report order. ``spark``
#: (engine-wide, per operation) is reported separately.
LAYERS = (
    "session",
    "flows",
    "sources",
    "plans",
    "operators.quality",
    "operators.dedup",
    "operators.corpus",
    "operators.retrieval",
    "streaming",
    "metadata",
)

#: Layers whose jobs can shuffle or spill; only these report
#: ``.shuffle_bytes`` and ``.spill_bytes``.
SHUFFLING_LAYERS = (
    "flows",
    "sources",
    "operators.quality",
    "operators.dedup",
    "operators.corpus",
    "operators.retrieval",
    "streaming",
)

#: layer -> (module, function) pairs wrapped wherever the package binds
#: them. Functions that return lazy frames the workload materializes
#: itself (``e2e_curation``, ``probe_text_index``) are not listed: the
#: workload opens their layer's span around the call and the action.
FUNCTIONS = {
    "session": [("session", "get_spark")],
    "flows": [("flows.pipeline", "run_pipeline")],
    "sources": [
        ("sources.io", n)
        for n in (
            "read_csv",
            "write_csv_single",
            "write_json_records",
            "write_jsonl",
            "snapshot_parquet",
            "write_partitioned",
        )
    ],
    "plans": [
        ("plans.compiler", n)
        for n in ("load_table", "prepare_input", "build_agg_exprs", "compile_spec")
    ],
    "operators.quality": [
        ("operators.quality", n)
        for n in ("schema_gate", "nonempty_gate", "profile_columns", "rowcount_drift_check")
    ],
    "operators.dedup": [
        ("operators.dedup", n)
        for n in ("dedup_keep_first", "minhash_near_dup_pairs", "connected_components")
    ],
    "operators.retrieval": [
        ("operators.retrieval", n)
        for n in ("build_text_index", "append_text_index", "_write_index_batch")
    ],
    "streaming": [
        ("streaming.ingest", n) for n in ("stream_text_index_ingest", "stream_documents_dir")
    ],
    "metadata": [("metadata", "make_run_record")],
}

#: layer -> (module, class, method) wrapped on the class.
METHODS = {
    "flows": [("flows.stages", "Stage", "__call__")],
    "metadata": [
        ("metadata", "RunMetadataStore", "append"),
        ("metadata", "RunMetadataStore", "write_latest"),
    ],
}

#: Spans that hand work to other threads (the QA pool, the streaming
#: query's foreachBatch callbacks): a span opened on a thread with no
#: open span of its own takes the innermost open one of these as parent.
ADOPTING = {"run_pipeline", "stream_text_index_ingest"}

#: sources functions whose second argument is the path they write.
WRITERS = {
    "write_csv_single",
    "write_json_records",
    "write_jsonl",
    "snapshot_parquet",
    "write_partitioned",
}


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    op: int
    t0: float
    t1: float = 0.0
    extra: dict = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    complete: float
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    sched_delay_s: float = 0.0


def path_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path`` — a file or a directory tree."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def covered(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    return union_length([(max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1])


class Tracer:
    """Span recorder; install() before a traced operation, uninstall()
    after, so untraced operations run the unmodified program."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.jobs: dict[int, list[Job]] = {}  # op -> jobs submitted during it
        self.progress: list[tuple[str, dict, int]] = []  # (run id, durationMs, rows)
        self.run_spans: dict[str, int] = {}  # stream run id -> span id
        self.op = -1
        self._lock = threading.Lock()
        self._local = threading.local()
        self._adopt: list[Span] = []
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None
        self._last_job = -1

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str):
        from pyspark import SparkContext

        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (self._adopt[-1] if self._adopt else None)
            sp = Span(self._next, layer, name, parent.sid if parent else None, self.op, time.time())
            self._next += 1
            self.spans.append(sp)
            if name in ADOPTING:
                self._adopt.append(sp)
        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setLocalProperty("spark.jobGroup.id", f"pb-{sp.sid}")
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            sp.t1 = time.time()
            if name in ADOPTING:
                with self._lock:
                    self._adopt.remove(sp)

    def _wrap_function(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name) as sp:
                out = fn(*args, **kwargs)
            if name in WRITERS:
                sp.extra["files"], sp.extra["bytes"] = path_size(args[1])
            return out

        return traced

    def _wrap_method(self, fn, layer: str, cls: str, method: str):
        @functools.wraps(fn)
        def traced(obj, *args, **kwargs):
            label = f"stage:{obj.name}" if cls == "Stage" else f"{cls}.{method}"
            before = getattr(obj, "attempts", 0)
            with self.span(layer, label) as sp:
                try:
                    return fn(obj, *args, **kwargs)
                finally:
                    if cls == "Stage":
                        sp.extra["retries"] = max(0, obj.attempts - before - 1)

        return traced

    # -- install / uninstall -------------------------------------------
    def install(self) -> None:
        """Replace every package binding of the traced functions."""
        for targets in FUNCTIONS.values():
            for mod, _ in targets:
                importlib.import_module(f"{PACKAGE}.{mod}")
        modules = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
        for layer, targets in FUNCTIONS.items():
            for mod, attr in targets:
                orig = getattr(sys.modules[f"{PACKAGE}.{mod}"], attr)
                wrapped = self._wrap_function(orig, layer, attr)
                for m in modules:
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._patches.append((m, k, orig))
                            setattr(m, k, wrapped)
        for layer, targets in METHODS.items():
            for mod, cls_name, method in targets:
                cls = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), cls_name)
                orig = cls.__dict__[method]
                self._patches.append((cls, method, orig))
                setattr(cls, method, self._wrap_method(orig, layer, cls_name, method))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._patches):
            setattr(target, attr, orig)
        self._patches.clear()

    # -- streaming listener ----------------------------------------------
    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            # onQueryStarted runs synchronously inside start(), while the
            # streaming span that started the query is still open.
            def onQueryStarted(self, event):
                with tracer._lock:
                    if tracer._adopt:
                        tracer.run_spans[str(event.runId)] = tracer._adopt[-1].sid

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append((str(p.runId), dict(p.durationMs), int(p.numInputRows)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    # -- operations ------------------------------------------------------
    @contextmanager
    def operation(self, spark, op: int):
        """Trace one operation: wrappers installed, a root span, and the
        operation's jobs read from the status store afterwards."""
        self.op = op
        self.install()
        try:
            with self.span("op", "op"):
                yield
        finally:
            self.uninstall()
            self.op = -1
            self.jobs[op] = self.read_new_jobs(spark)

    def skip_jobs(self, spark) -> None:
        """Advance past the jobs of an untraced operation."""
        self.read_new_jobs(spark, details=False)

    def read_new_jobs(self, spark, details: bool = True) -> list[Job]:
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            if details:
                out.append(self._job(store, j))
        if jobs.size():
            self._last_job = max(self._last_job, jobs.apply(0).jobId())
        return out

    @staticmethod
    def _job(store, j) -> Job:
        from py4j.protocol import Py4JJavaError

        g = j.jobGroup()
        submit = j.submissionTime().get().getTime() / 1000.0
        done = j.completionTime()
        job = Job(
            j.jobId(),
            g.get() if g.isDefined() else None,
            submit,
            done.get().getTime() / 1000.0 if done.isDefined() else submit,
        )
        first = None
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Py4JJavaError:  # evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            job.tasks += st.numTasks()
            job.run_s += st.executorRunTime() / 1e3
            job.cpu_s += st.executorCpuTime() / 1e9
            job.gc_s += st.jvmGcTime() / 1e3
            job.input_bytes += st.inputBytes()
            job.shuffle_bytes += st.shuffleWriteBytes()
            job.spill_bytes += st.diskBytesSpilled()
            launched = st.firstTaskLaunchedTime()
            if launched.isDefined():
                t = launched.get().getTime() / 1000.0
                first = t if first is None else min(first, t)
        if first is not None:
            job.sched_delay_s = max(0.0, first - submit)
        return job

    def close(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    # -- attribution -------------------------------------------------------
    def owner(self, job: Job) -> int | None:
        """Span id a job belongs to, or None when no span claimed it."""
        if job.group is None:
            return None
        if job.group.startswith("pb-"):
            return int(job.group[3:])
        return self.run_spans.get(job.group)


# ----------------------------------------------------------------------
# Per-layer report


def _top_in_layer(span: Span, by_id: dict[int, Span]) -> bool:
    """True when no ancestor of ``span`` belongs to the same layer."""
    p = span.parent
    while p is not None:
        if by_id[p].layer == span.layer:
            return False
        p = by_id[p].parent
    return True


def _peak_concurrency(intervals: list[tuple[float, float]]) -> int:
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals])
    peak = cur = 0
    for _, d in events:
        cur += d
        peak = max(peak, cur)
    return peak


def layer_metrics(
    tracer: Tracer,
    traced: list[tuple[int, float]],
    untraced: list[float],
    setup_reps: int,
    cores: int,
    facts: dict[int, dict],
    end_facts: dict,
) -> dict[str, float]:
    """Every per-layer metric. ``traced`` holds (op index, seconds) of
    the traced operations; layer figures are per traced operation,
    except ``session.*``, which is per set-up (the session starts only
    there). Job figures of a layer count the jobs its spans started
    themselves (a child span's jobs are the child's)."""
    import statistics

    n = max(1, len(traced))
    ops = {i for i, _ in traced}
    by_id = {s.sid: s for s in tracer.spans}
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    owned: dict[int, list[Job]] = {}
    unattributed = 0
    for i in ops:
        for job in tracer.jobs.get(i, []):
            sid = tracer.owner(job)
            if sid is None or sid not in by_id:
                unattributed += 1
            else:
                owned.setdefault(sid, []).append(job)

    m: dict[str, float] = {}
    for layer in LAYERS:
        if layer == "session":
            sel = [s for s in tracer.spans if s.layer == layer and s.op == -1]
            norm = max(1, setup_reps)
        else:
            sel = [s for s in tracer.spans if s.layer == layer and s.op in ops]
            norm = n
        jobs = [j for s in sel for j in owned.get(s.sid, [])]
        wall = self_s = driver = 0.0
        for s in sel:
            kids = [(c.t0, c.t1) for c in children.get(s.sid, [])]
            busy = [(j.submit, j.complete) for j in owned.get(s.sid, [])]
            self_s += (s.t1 - s.t0) - covered(s.t0, s.t1, kids)
            driver += (s.t1 - s.t0) - covered(s.t0, s.t1, kids + busy)
            if _top_in_layer(s, by_id):
                wall += s.t1 - s.t0
        m[f"{layer}.calls"] = len(sel) / norm
        m[f"{layer}.wall_s"] = wall / norm
        m[f"{layer}.self_s"] = self_s / norm
        m[f"{layer}.jobs"] = len(jobs) / norm
        m[f"{layer}.tasks"] = sum(j.tasks for j in jobs) / norm
        m[f"{layer}.exec_run_s"] = sum(j.run_s for j in jobs) / norm
        m[f"{layer}.exec_cpu_s"] = sum(j.cpu_s for j in jobs) / norm
        m[f"{layer}.driver_s"] = driver / norm
        if layer in SHUFFLING_LAYERS:
            m[f"{layer}.shuffle_bytes"] = sum(j.shuffle_bytes for j in jobs) / norm
            m[f"{layer}.spill_bytes"] = sum(j.spill_bytes for j in jobs) / norm

    # Engine-wide, per operation.
    roots = {s.op: s for s in tracer.spans if s.layer == "op" and s.op in ops}
    all_jobs = [j for i in ops for j in tracer.jobs.get(i, [])]
    op_wall = sum(r.t1 - r.t0 for r in roots.values())
    m["spark.jobs_per_op"] = len(all_jobs) / n
    m["spark.driver_s"] = (
        sum(
            (r.t1 - r.t0) - covered(r.t0, r.t1, [(j.submit, j.complete) for j in tracer.jobs.get(i, [])])
            for i, r in roots.items()
        )
        / n
    )
    m["spark.sched_delay_s"] = sum(j.sched_delay_s for j in all_jobs) / n
    m["spark.core_busy_ratio"] = sum(j.run_s for j in all_jobs) / max(1e-9, op_wall * cores)
    m["spark.gc_s"] = sum(j.gc_s for j in all_jobs) / n
    m["spark.exec_run_s"] = sum(j.run_s for j in all_jobs) / n
    m["spark.exec_cpu_s"] = sum(j.cpu_s for j in all_jobs) / n
    m["spark.shuffle_bytes"] = sum(j.shuffle_bytes for j in all_jobs) / n
    m["spark.spill_bytes"] = sum(j.spill_bytes for j in all_jobs) / n
    m["spark.unattributed_jobs"] = unattributed

    traced_spans = [s for s in tracer.spans if s.op in ops]

    def named(name):
        return [s for s in traced_spans if s.name == name]

    writes = [s for s in traced_spans if s.layer == "sources" and s.name in WRITERS]
    m["sources.write_s"] = sum(s.t1 - s.t0 for s in writes) / n
    m["sources.bytes_written"] = sum(s.extra.get("bytes", 0) for s in writes) / n
    m["sources.files_written"] = sum(s.extra.get("files", 0) for s in writes) / n

    qa = [
        s
        for s in traced_spans
        if s.layer == "flows" and s.name.startswith("stage:") and s.name != "stage:process"
    ]
    m["flows.qa_overlap"] = (
        sum(_peak_concurrency([(s.t0, s.t1) for s in qa if s.op == i]) for i in ops) / n
    )
    m["flows.retries"] = sum(s.extra.get("retries", 0) for s in traced_spans) / n

    def ratio(num: str, den: str) -> float:
        d = sum(facts[i].get(den, 0) for i in ops)
        return sum(facts[i].get(num, 0) for i in ops) / d if d else 0.0

    m["operators.dedup.rows_out_ratio"] = ratio("dedup_rows", "raw_rows")
    corpus_jobs = [j for s in traced_spans if s.layer == "operators.corpus" for j in owned.get(s.sid, [])]
    m["operators.corpus.python_gap_s"] = sum(j.run_s - j.cpu_s for j in corpus_jobs) / n
    m["operators.corpus.survivor_ratio"] = ratio("survivors", "batch_docs")

    probes = named("probe_text_index")
    probe_jobs = [j for s in probes for j in owned.get(s.sid, [])]
    m["operators.retrieval.probe_input_bytes"] = sum(j.input_bytes for j in probe_jobs) / max(1, len(probes))
    m["operators.retrieval.index_files"] = end_facts.get("index_files", 0)
    m["operators.retrieval.index_bytes_per_doc"] = end_facts.get("index_bytes_per_doc", 0.0)
    m["operators.retrieval.append_write_s"] = sum(s.t1 - s.t0 for s in named("_write_index_batch")) / n

    runs = {run for run, sid in tracer.run_spans.items() if by_id[sid].op in ops}
    batches = [d for run, d, _ in tracer.progress if run in runs]
    m["streaming.batches"] = len(batches) / n
    for key, metric in (
        ("triggerExecution", "trigger_s"),
        ("addBatch", "add_batch_s"),
        ("queryPlanning", "planning_s"),
        ("walCommit", "wal_commit_s"),
    ):
        m[f"streaming.{metric}"] = sum(d.get(key, 0) for d in batches) / 1e3 / n

    appends = named("RunMetadataStore.append") + named("RunMetadataStore.write_latest")
    m["metadata.append_s"] = sum(s.t1 - s.t0 for s in appends) / n
    runs_recorded = end_facts.get("metadata_runs", 0)
    m["metadata.bytes"] = end_facts.get("metadata_bytes", 0) / runs_recorded if runs_recorded else 0.0

    traced_p50 = statistics.median(d for _, d in traced) if traced else 0.0
    untraced_p50 = statistics.median(untraced) if untraced else traced_p50
    m["trace.overhead_s"] = traced_p50 - untraced_p50
    m["trace.overhead_ratio"] = (traced_p50 - untraced_p50) / untraced_p50 if untraced_p50 else 0.0
    return m
