"""Benchmark command.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload (see ``perfbench/README.md``) from the root of a
checkout: session start and input generation three times (the last
set-up's inputs are measured), the program-side preparation once,
warm-up operations, then operations back to back for ``--seconds``
(and at least the workload's ``min_ops``).
``setup_s`` is the median session start and input generation plus the
preparation and the warm-up. Every operation's output is checked after the window.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it stamps the
environment and the inputs.

Everything the run writes lives under ``.perfbench_scratch/`` in the
checkout and is deleted at the end. Exits non-zero, printing no result,
when the package under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "salesforce_prefect_etl_pipeline_spark"
SETUP_REPS = 3

#: name -> unit, as in BENCHMARK.json.
END_TO_END = {"setup_s": "s", "op_p50_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    from perfbench.trace import LAYERS, SHUFFLING_LAYERS

    units: dict[str, str] = {}
    for layer in LAYERS:
        units.update(
            {
                f"{layer}.calls": "count",
                f"{layer}.wall_s": "s",
                f"{layer}.self_s": "s",
                f"{layer}.jobs": "count",
                f"{layer}.tasks": "count",
                f"{layer}.exec_run_s": "s",
                f"{layer}.exec_cpu_s": "s",
                f"{layer}.driver_s": "s",
            }
        )
        if layer in SHUFFLING_LAYERS:
            units[f"{layer}.shuffle_bytes"] = "bytes"
            units[f"{layer}.spill_bytes"] = "bytes"
    units.update(
        {
            "spark.jobs_per_op": "count",
            "spark.driver_s": "s",
            "spark.sched_delay_s": "s",
            "spark.core_busy_ratio": "ratio",
            "spark.gc_s": "s",
            "spark.exec_run_s": "s",
            "spark.exec_cpu_s": "s",
            "spark.shuffle_bytes": "bytes",
            "spark.spill_bytes": "bytes",
            "spark.unattributed_jobs": "count",
            "sources.write_s": "s",
            "sources.bytes_written": "bytes",
            "sources.files_written": "count",
            "flows.qa_overlap": "count",
            "flows.retries": "count",
            "operators.dedup.rows_out_ratio": "ratio",
            "operators.corpus.python_gap_s": "s",
            "operators.corpus.survivor_ratio": "ratio",
            "operators.retrieval.probe_input_bytes": "bytes",
            "operators.retrieval.index_files": "count",
            "operators.retrieval.index_bytes_per_doc": "bytes",
            "operators.retrieval.append_write_s": "s",
            "streaming.batches": "count",
            "streaming.trigger_s": "s",
            "streaming.add_batch_s": "s",
            "streaming.planning_s": "s",
            "streaming.wal_commit_s": "s",
            "metadata.append_s": "s",
            "metadata.bytes": "bytes",
            "trace.overhead_s": "s",
            "trace.overhead_ratio": "ratio",
        }
    )
    return units


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(scratch: Path) -> None:
    """Run Spark as local[nproc] and keep every file the run writes
    (temp files, Spark local dirs, JVM temp) inside ``scratch``. Must
    run before pyspark starts the JVM."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(
            None,
            [
                os.environ.get("JAVA_TOOL_OPTIONS", ""),
                "-Xlog:all=warning:stderr -XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}",
            ],
        )
    )


def steal_s() -> float | None:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (None where /proc/stat is missing). A
    window with much of it ran on a contended host."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def is_traced(i: int) -> bool:
    """Traced operations in a traced run: 2, 4, 6, ... Operation 0 still
    carries part of the JVM's warm-up and is neither traced nor a
    baseline. From operation 1 on, every traced operation has an
    untraced one on either side, so a trend over the run (a growing
    index, a warming JVM) cancels out of the tracing overhead, which
    compares the medians of the two kinds."""
    return i > 0 and i % 2 == 0


def tail(values: list[float]) -> dict:
    """Median and the highest of p90/p75 with at least ten samples
    beyond it (None when there are fewer than 40 samples)."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None, "tail": None}
    s = sorted(values)
    for q in (0.90, 0.75):
        k = int(q * len(s))
        if len(s) - k - 1 >= 10:
            out["tail"] = {"q": q, "value": s[k]}
            break
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, scratch: str, small: bool = False):
    """Set up, measure and check one workload; returns (result, stamp info)."""
    from perfbench.trace import Tracer, layer_metrics
    from perfbench.workloads import WORKLOADS, no_span

    wl = WORKLOADS[workload](seed, scratch, small)
    tracer = Tracer() if trace else None
    try:
        setup_s = []
        for rep in range(SETUP_REPS):
            if tracer:
                tracer.install()
            t0 = time.perf_counter()
            try:
                wl.setup(rep)
            finally:
                setup_s.append(time.perf_counter() - t0)
                if tracer:
                    tracer.uninstall()
        if tracer:
            tracer.install()
        t0 = time.perf_counter()
        try:
            wl.prepare()
        finally:
            prepare_s = time.perf_counter() - t0
            if tracer:
                tracer.uninstall()
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        if tracer:
            tracer.listen(wl.spark)
            tracer.skip_jobs(wl.spark)

        done: list[int] = []
        durations: dict[int, float] = {}
        facts: dict[int, dict] = {}
        errors: dict[int, str] = {}
        steal0 = steal_s()
        deadline = time.perf_counter() + seconds
        i = 0
        min_ops = max(wl.min_ops, 4) if trace else wl.min_ops
        while (time.perf_counter() < deadline or i < min_ops) and wl.has_next(i):
            traced = tracer is not None and is_traced(i)
            ctx = tracer.operation(wl.spark, i) if traced else nullcontext()
            try:
                with ctx:
                    t0 = time.perf_counter()
                    out = wl.op(i, tracer.span if traced else no_span)
                    durations[i] = time.perf_counter() - t0
                if tracer and not traced:
                    tracer.skip_jobs(wl.spark)
                facts[i] = wl.record(i, out)
                done.append(i)
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                errors[i] = traceback.format_exc()
            i += 1

        steal1 = steal_s()
        t0 = time.perf_counter()
        bad = wl.check(done) if done else {}
        check_s = time.perf_counter() - t0
        bad.update({k: v.strip().splitlines()[-1] for k, v in errors.items()})
        for k, v in sorted(bad.items()):
            print(f"# op {k} failed: {v}", file=sys.stderr)
        for v in errors.values():
            print(v, file=sys.stderr)

        ok_durations = [durations[k] for k in done]
        if trace:
            metrics = layer_metrics(
                tracer,
                [(k, durations[k]) for k in done if is_traced(k)],
                [durations[k] for k in done if k > 0 and not is_traced(k)],
                SETUP_REPS,
                cpus(),
                facts,
                wl.end_facts() if done else {},
            )
            units = per_layer_units()
            correct = not bad and not (workload == "etl_pipeline" and metrics["spark.unattributed_jobs"])
        else:
            metrics = {
                "setup_s": statistics.median(setup_s) + prepare_s + warm_s,
                "op_p50_s": statistics.median(ok_durations) if ok_durations else 0.0,
            }
            units = END_TO_END
            correct = not bad
        result = {
            "correct": bool(correct and done),
            "attempted": max(1, i),
            "failed": len(bad) if done else max(1, i),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        info = {
            "setup_reps_s": setup_s,
            "prepare_s": prepare_s,
            "warm_s": warm_s,
            "check_s": check_s,
            "window_steal_s": None if steal0 is None else steal1 - steal0,
            "op_s": tail(ok_durations),
            "ops": [{"s": durations[k], **{f: v for f, v in facts[k].items() if f.endswith("_s")}} for k in done],
            "inputs": wl.describe(),
        }
        return result, info
    finally:
        if tracer and wl.spark is not None:
            tracer.close(wl.spark)
        wl.stop_session()


def shutdown_jvm() -> None:
    """Stop the JVM gateway PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to killing it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl_pipeline", "corpus_index"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    missing = [m for m in (PACKAGE, "pyspark", "duckdb", "pyarrow") if not _importable(m)]
    if missing:
        print(f"perfbench: cannot import {', '.join(missing)} from {ROOT}", file=sys.stderr)
        return 2

    scratch_root = ROOT / ".perfbench_scratch"
    scratch = scratch_root / f"{args.workload}-{os.getpid()}"
    pin_environment(scratch)
    try:
        result, info = run(args.workload, args.seed, args.seconds, bool(args.trace), str(scratch))
        line = {"perfbench": {**stamp_fields(args), **info}}
    finally:
        shutdown_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
        if scratch_root.exists() and not any(scratch_root.iterdir()):
            scratch_root.rmdir()
    print(json.dumps(line, default=str))
    print(json.dumps(result))
    return 0


def stamp_fields(args) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus(),
        "master": f"local[{cpus()}]",
        "pyspark": pyspark.__version__,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "spark_graft_conf": os.environ.get("SPARK_GRAFT_CONF", ""),
    }


def _importable(name: str) -> bool:
    import importlib.util

    return importlib.util.find_spec(name) is not None


if __name__ == "__main__":
    sys.exit(main())
