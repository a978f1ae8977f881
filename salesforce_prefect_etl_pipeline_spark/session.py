"""SparkSession factory.

One place to encode the engine's execution-model defaults so every entry
point (driver harness, tests, bench, flows) gets the same tuned session.

Scale notes (100 TB design target; tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast selection replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  real cluster set it ~2-3x total cores and let AQE coalesce.
- Arrow on: every pandas_udf / applyInPandas boundary is vectorized.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  correctness oracle and are stable across environments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def graft_conf_overrides() -> dict[str, str]:
    """The session overrides ``get_spark`` applies from
    ``$SPARK_GRAFT_CONF``: semicolon-separated ``key=value`` pairs,
    stripped; an entry without ``=`` or with an empty key is ignored."""
    out = {}
    for pair in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        k, eq, v = pair.partition("=")
        if eq and k.strip():
            out[k.strip()] = v.strip()
    return out


def get_spark(
    app_name: str = "salesforce-prefect-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured; on a real cluster pass ``None`` with
    ``spark.master`` set externally and it is left untouched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    is_local = True
    if master is not None:
        builder = builder.master(master)
        is_local = master.startswith("local")
    elif "SPARK_MASTER" in os.environ:
        # Externally-configured master: inspect its VALUE — a
        # SPARK_MASTER=local[N] session must still get the local-mode
        # tunings (16 MB scan splits), not silently keep cluster
        # defaults just because the env var exists.
        is_local = os.environ["SPARK_MASTER"].startswith("local")
    elif os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        is_local = False
    else:
        builder = builder.master(f"local[{cpus}]")

    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Parquet scan batching: keep the vectorized reader fed.
        "spark.sql.parquet.enableVectorizedReader": "true",
        # Parquet TIMESTAMP(NANOS) (e.g. events.ts) is not a Spark type;
        # read as long and convert at the scan edge (plans.compiler.load_table).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Scan split size. The fixtures are ONE file per table (driver
        # layout), so at the 128 MB cluster default even sf1's 113 MB
        # lineitem scans as a single partition — one core decodes the
        # whole file while 31 idle. Local mode therefore splits at
        # 16 MB (the files carry ~16 row groups each since
        # tools/rechunk_scaledata.py, so the splits land on real row
        # groups); a real cluster keeps the 128 MB default — its data
        # arrives as thousands of files and smaller splits would only
        # multiply scheduling overhead.
        "spark.sql.files.maxPartitionBytes": (
            "16m" if is_local else "134217728"
        ),
        # Auto-broadcast small dims (region/nation/customer at test SF);
        # at 100 TB only genuinely small sides stay under this.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # JVM unified logging defaults to STDOUT; under memory pressure
        # the [gc,alloc] GCLocker warnings interleave with bench.py's
        # one-line JSON contract (observed at sf10) and can corrupt the
        # driver's last-line capture. Logs belong on stderr. Kept for
        # cluster submit paths; in LOCAL mode this conf is inert (the
        # gateway JVM is already running when the builder applies it) —
        # the env hook below is what actually routes it.
        "spark.driver.extraJavaOptions": "-Xlog:all=warning:stderr",
    }
    # The conf above cannot reach a local-mode driver JVM (r13: a
    # shutdown-time GCLocker warning still landed on stdout AFTER the
    # bench's final JSON line at sf10, stealing the driver's last-line
    # capture). JAVA_TOOL_OPTIONS is read by the JVM itself at launch,
    # so set it BEFORE the first py4j touch starts the gateway; the
    # "Picked up JAVA_TOOL_OPTIONS" notice goes to stderr. No-op when
    # the JVM is already up or the operator set their own value.
    if "-Xlog" not in os.environ.get("JAVA_TOOL_OPTIONS", ""):
        os.environ["JAVA_TOOL_OPTIONS"] = (
            os.environ.get("JAVA_TOOL_OPTIONS", "")
            + " -Xlog:all=warning:stderr"
        ).strip()
    # Spread floors for the small-fixture compute spreads
    # (queries_llm._spread_scan, multimodal._spread_ids): pinned in ONE
    # place so cluster deployments tune via env without code edits. A
    # value of 0 means "derive from sc.defaultParallelism at call time"
    # (the cluster default — executor count isn't known at build time);
    # local mode pins explicit values so plans are deterministic under
    # test. Both helpers never shrink existing partitioning, so any
    # floor is a no-op on a production many-file scan.
    try:
        _cores = int(cpus)
    except ValueError:
        _cores = 32
    conf.update(
        {
            "spark.salesforceEtl.spread.scanFloor": os.environ.get(
                "SPARK_GRAFT_SPREAD_SCAN_FLOOR",
                str(max(4, _cores // 4)) if is_local else "0",
            ),
            "spark.salesforceEtl.spread.idsFloor": os.environ.get(
                "SPARK_GRAFT_SPREAD_IDS_FLOOR", "4"
            ),
            "spark.salesforceEtl.spread.idsFloorHeavy": os.environ.get(
                "SPARK_GRAFT_SPREAD_IDS_FLOOR_HEAVY",
                str(max(8, _cores // 4)) if is_local else "0",
            ),
        }
    )
    if extra_conf:
        conf.update(extra_conf)
    # Operator escape hatch (r16 optimization round): semicolon-separated
    # `key=value` pairs in $SPARK_GRAFT_CONF override any default above —
    # cluster deployments (and paired config A/B experiments) tune the
    # session without code edits. Applied LAST: an explicit operator
    # override beats both the local-mode defaults and caller extra_conf.
    overrides = graft_conf_overrides()
    conf.update(overrides)
    if overrides:
        # Visible in every run's stderr (r17 advice): a forgotten env
        # override silently contaminating a recorded bench/correctness
        # run must be identifiable from the run's own output.
        import sys as _sys

        print(
            "# SPARK_GRAFT_CONF overrides applied: "
            + "; ".join(f"{k}={v}" for k, v in overrides.items()),
            file=_sys.stderr,
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
