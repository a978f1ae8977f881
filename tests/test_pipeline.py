"""End-to-end pipeline + IO + metadata + QA tests (reference artifact
contracts, FIXTURES.md §B degenerate inputs)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from salesforce_prefect_etl_pipeline_spark.flows.pipeline import run_pipeline
from salesforce_prefect_etl_pipeline_spark.metadata import RunMetadataStore, make_run_record
from salesforce_prefect_etl_pipeline_spark.operators.quality import (
    EmptyInputError,
    SchemaGateError,
    nonempty_gate,
    profile_columns,
    rowcount_drift_check,
    schema_gate,
)
from salesforce_prefect_etl_pipeline_spark.sources import io as sio
from salesforce_prefect_etl_pipeline_spark.sources.salesforce import (
    build_soql,
    extract_object,
    parse_select_fields,
    records_to_df,
)
from salesforce_prefect_etl_pipeline_spark.specs import TableSpec

OPP_SPEC = TableSpec(
    name="opportunity_by_stage",
    table="Opportunity",
    fields=("Id", "StageName", "Amount", "CloseDate"),
    group_by=("StageName",),
    metrics={"Amount": ("sum", "mean", "count")},
    required_cols=("Id", "StageName", "Amount"),
)

RECORDS = [
    {"attributes": {"type": "Opportunity"}, "Id": "1", "StageName": "Won",
     "Amount": "100.5", "CloseDate": "2024-01-05"},
    {"attributes": {"type": "Opportunity"}, "Id": "2", "StageName": "Won",
     "Amount": "N/A", "CloseDate": "bogus"},
    {"attributes": {"type": "Opportunity"}, "Id": "2", "StageName": "Lost",
     "Amount": None, "CloseDate": None},
]


def test_soql_building_and_parsing():
    soql = build_soql(OPP_SPEC, limit=50)
    assert soql == "SELECT Id, StageName, Amount, CloseDate FROM Opportunity LIMIT 50"
    assert parse_select_fields("SELECT a, b AS c FROM x") == ["a", "c"]
    spec = TableSpec(name="w", table="T", fields=("Id",), where="X > 1")
    assert build_soql(spec, limit=None) == "SELECT Id FROM T WHERE X > 1"


def test_records_to_df_contracts(spark):
    df, plan = extract_object(spark, OPP_SPEC, lambda soql: RECORDS)
    assert "attributes" not in df.columns  # P4 drop
    dt = dict(df.dtypes)
    assert dt["Amount"] == "double" and dt["CloseDate"] == "date"  # P8 casts
    rows = {r.Id: r for r in df.collect()}
    assert rows["1"].Amount == 100.5
    # empty extract -> headers-only string frame from the SELECT list (S5)
    empty, plan = extract_object(spark, OPP_SPEC, lambda soql: [])
    assert empty.count() == 0
    assert empty.columns == ["Id", "StageName", "Amount", "CloseDate"]


def test_qa_gates(spark):
    df = spark.createDataFrame([("1", "Won")], ["Id", "StageName"])
    assert schema_gate(df, ["Id"])["ok"]
    with pytest.raises(SchemaGateError):
        schema_gate(df, ["Id", "Amount"])
    assert nonempty_gate(df)["rows"] == 1
    with pytest.raises(EmptyInputError):
        nonempty_gate(df.filter("Id = 'nope'"))


def test_profile_shape(spark):
    df = spark.createDataFrame(
        [("1", "Won", None), ("2", "Won", 5.0), ("3", None, 6.0)],
        ["Id", "Stage", "Amount"],
    )
    prof = profile_columns(df, topk=2)
    assert prof["n_rows"] == 3
    st = prof["columns"]["Stage"]
    assert st["null_count"] == 1 and st["n_unique"] == 1
    assert st["top_values"][0] == {"value": "Won", "count": 2}


def test_drift_check(spark, tmp_path):
    state = str(tmp_path / "qc")
    first = rowcount_drift_check(spark, "obj", 100, state)
    assert first["previous_rows"] is None and not first["alert"]
    second = rowcount_drift_check(spark, "obj", 100, state)
    assert second["previous_rows"] == 100 and not second["alert"]
    third = rowcount_drift_check(spark, "obj", 10, state)
    assert third["alert"] and third["relative_change"] == 0.9


def test_io_contracts(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1.5, "2024-01-01 10:00:00")],
        T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("v", T.DoubleType()),
                T.StructField("ts", T.StringType()),
            ]
        ),
    ).withColumn("ts", __import__("pyspark").sql.functions.to_timestamp("ts"))
    out_csv = str(tmp_path / "out.csv")
    sio.write_csv_single(df, out_csv)
    content = open(out_csv).read().splitlines()
    assert content[0] == "k,v,ts" and len(content) == 2
    # empty frame still emits headers (S5)
    sio.empty_csv_with_headers(spark, ["x", "y"], str(tmp_path / "e.csv"))
    assert open(tmp_path / "e.csv").read().splitlines() == ["x,y"]
    # JSON records array with stringified temporals (S6)
    out_json = str(tmp_path / "out.json")
    sio.write_json_records(df, out_json)
    data = json.load(open(out_json))
    assert isinstance(data, list) and data[0]["k"] == "a"
    assert isinstance(data[0]["ts"], str) and data[0]["ts"].startswith("2024-01-01")
    # parquet snapshot round-trip (S7)
    snap = str(tmp_path / "snap.parquet")
    sio.snapshot_parquet(df, snap)
    assert spark.read.parquet(snap).count() == 1


def test_metadata_store(tmp_path):
    # max_bytes sized so the first three appends stay in one file (dedup
    # is per current file, like the reference) but 20 appends rotate.
    store = RunMetadataStore(str(tmp_path / "md"), max_bytes=2000, backups=2)
    r1 = make_run_record("obj", run_id="r1")
    store.append(r1)
    store.append(make_run_record("obj", run_id="r1"))  # duplicate run_id
    store.append(make_run_record("obj", run_id="r2"))
    runs = store.read_runs("obj")
    assert {r["run_id"] for r in runs} == {"r1", "r2"}  # dedup keep-last
    # rotation: push past max_bytes
    for i in range(20):
        store.append(make_run_record("obj", run_id=f"x{i}"))
    obj_dir = tmp_path / "md" / "obj"
    assert (obj_dir / "runs.jsonl.1").exists()
    # normalization of legacy files
    (obj_dir / "runs.josnl").write_text(
        json.dumps(make_run_record("obj", run_id="legacy")) + "\n"
    )
    n = store.normalize("obj")
    assert any(r["run_id"] == "legacy" for r in store.read_runs("obj"))
    store.write_latest(r1, "obj")
    assert json.load(open(obj_dir / "latest_run.json"))["run_id"] == "r1"


def test_pipeline_end_to_end(spark, tmp_path):
    df, _ = extract_object(spark, OPP_SPEC, lambda soql: RECORDS)
    out = str(tmp_path / "run1")
    res = run_pipeline(spark, OPP_SPEC, df, out)
    assert res.row_counts["raw"] == 3
    assert res.row_counts["dedup"] == 2  # duplicate Id collapsed
    assert res.states["schema_gate"] == "ok"
    assert os.path.exists(res.artifacts["output_json"])
    summary = json.load(open(res.artifacts["output_json"]))
    by_stage = {r["StageName"]: r for r in summary}
    assert by_stage["Won"]["records"] == 2
    assert by_stage["Won"]["sum_amount"] == 100.5
    assert by_stage["Lost"]["sum_amount"] == 0.0  # all-null Polars parity
    # drift state persisted; second run sees previous rows
    res2 = run_pipeline(spark, OPP_SPEC, df, out)
    assert res2.drift["previous_rows"] == 3 and not res2.drift["alert"]


def test_pipeline_qa_advisory_vs_strict(spark, tmp_path):
    bad_spec = TableSpec(
        name="bad",
        table="Opportunity",
        group_by=("StageName",),
        metrics={"Amount": ("sum",)},
        required_cols=("NotThere",),
    )
    df, _ = extract_object(spark, OPP_SPEC, lambda soql: RECORDS)
    res = run_pipeline(spark, bad_spec, df, str(tmp_path / "adv"), retry_sleep=lambda s: None)
    assert res.states["schema_gate"].startswith("error")  # advisory
    assert res.states["process"] == "ok"  # ETL branch unaffected
    with pytest.raises(SchemaGateError):
        run_pipeline(
            spark, bad_spec, df, str(tmp_path / "strict"), fail_on_qa_error=True,
            retry_sleep=lambda s: None,
        )


def test_partitioned_write_prunes(spark, tmp_path):
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    out = str(tmp_path / "orders_part")
    sio.write_partitioned(orders, out, ["o_orderstatus"])
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    filtered = back.filter("o_orderstatus = 'F'")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # partition pruning shows up as a PartitionFilters entry on the scan
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    assert filtered.count() == orders.filter("o_orderstatus = 'F'").count()


def test_topk_values_single_pass_job_count(spark):
    """The melted top-k must not scale job count with column count (the
    old loop ran one Spark job per column)."""
    from salesforce_prefect_etl_pipeline_spark.operators.quality import topk_values

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

    def jobs_for(columns, group):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        topk_values(df, columns, k=3).collect()
        sc.setJobGroup("", "")
        tracker = sc.statusTracker()
        return len(tracker.getJobIdsForGroup(group))

    narrow = jobs_for(["o_orderstatus"], "topk_narrow")
    wide = jobs_for(
        ["o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey"],
        "topk_wide",
    )
    assert wide == narrow, f"job count grew with width: {narrow} -> {wide}"


def test_profile_wide_table_uses_approx_distinct(spark):
    from salesforce_prefect_etl_pipeline_spark.operators.quality import profile_columns

    df = spark.range(100).selectExpr(*[f"id + {i} AS c{i}" for i in range(6)])
    prof = profile_columns(df, approx_distinct_at_width=5)
    assert prof["distinct_estimated"] is True
    # HLL estimate should be close at this cardinality
    assert abs(prof["columns"]["c0"]["n_unique"] - 100) <= 5
    exact = profile_columns(df, approx_distinct_at_width=50)
    assert exact["distinct_estimated"] is False
    assert exact["columns"]["c0"]["n_unique"] == 100


def test_paged_extract_partition_parallel_and_contract(spark):
    """The mapInPandas paged reader must (a) fetch pages on DIFFERENT
    partitions, (b) compose the range predicate correctly, and (c)
    produce the identical frame contract as the driver-side path."""
    from salesforce_prefect_etl_pipeline_spark.sources.salesforce import (
        extract_object_paged,
        records_to_df,
        soql_with_id_range,
    )

    # range predicate composition
    assert (
        soql_with_id_range("SELECT Id FROM Account", "a", "b")
        == "SELECT Id FROM Account WHERE Id >= 'a' AND Id < 'b'"
    )
    assert (
        soql_with_id_range("SELECT Id FROM a WHERE X = 1 LIMIT 5", "a", "b")
        == "SELECT Id FROM a WHERE (X = 1) AND Id >= 'a' AND Id < 'b' LIMIT 5"
    )
    # structural clause detection: lowercase keywords, keyword-lookalike
    # text inside string literals, and subquery WHERE/LIMIT must not
    # confuse the composer
    # (the composer re-emits the LIMIT keyword in canonical uppercase)
    assert (
        soql_with_id_range("select Id from a where X = 1 limit 5", "a", "b")
        == "select Id from a where (X = 1) AND Id >= 'a' AND Id < 'b' LIMIT 5"
    )
    assert (
        soql_with_id_range("SELECT Id FROM a WHERE Name = 'see where it goes'", "a", "b")
        == "SELECT Id FROM a WHERE (Name = 'see where it goes') AND Id >= 'a' AND Id < 'b'"
    )
    assert (
        soql_with_id_range(
            "SELECT Id FROM a WHERE Id IN (SELECT Id FROM b WHERE Y = 2 LIMIT 3)",
            "a",
            "b",
        )
        == "SELECT Id FROM a WHERE (Id IN (SELECT Id FROM b WHERE Y = 2 LIMIT 3))"
        " AND Id >= 'a' AND Id < 'b'"
    )

    all_records = [
        {"Id": f"{i:03d}", "StageName": "Won" if i % 2 else "Lost",
         "Amount": str(100 + i), "attributes": {"type": "Opportunity"}}
        for i in range(40)
    ]

    def fake_page_fetch(page_soql):
        # parse the range back out of the SOQL the kernel composed
        from pyspark import TaskContext
        import re

        lo, hi = re.search(r"Id >= '(\w+)' AND Id < '(\w+)'", page_soql).groups()
        part = TaskContext.get().partitionId()
        return [
            {**r, "WorkerPart": str(part)}
            for r in all_records
            if lo <= r["Id"] < hi
        ]

    ranges = [("000", "010"), ("010", "020"), ("020", "030"), ("030", "040")]
    df, plan = extract_object_paged(
        spark, OPP_SPEC,
        fake_page_fetch, ranges,
        soql="SELECT Id, StageName, Amount, WorkerPart FROM Opportunity",
    )
    rows = df.collect()
    assert len(rows) == 40
    # fetched on multiple partitions (genuinely parallel, not a driver loop)
    assert len({r.WorkerPart for r in rows}) > 1
    # identical contract to the driver-side reader (minus the worker tag)
    driver_df = records_to_df(
        spark, all_records, "SELECT Id, StageName, Amount FROM Opportunity"
    )
    paged = sorted((r.Id, r.StageName, r.Amount) for r in rows)
    direct = sorted((r.Id, r.StageName, r.Amount) for r in driver_df.collect())
    assert paged == direct
    assert dict(df.drop("WorkerPart").dtypes) == dict(driver_df.dtypes)
    # empty ranges -> 0-row frame with the SELECT-list schema
    empty, _ = extract_object_paged(
        spark, OPP_SPEC, lambda s: [], [("900", "999")],
        soql="SELECT Id, Amount FROM Opportunity",
    )
    assert empty.count() == 0 and empty.columns == ["Id", "Amount"]


def test_incremental_extract_watermark_flow(spark, tmp_path):
    """Watermark lifecycle with commit-after-durable-write: the extractor
    returns the candidate watermark but never persists it; the caller
    commits only after the load lands. A crash ANYWHERE before that
    commit — fetch failure or a load failure after a successful fetch —
    leaves the store untouched, so the next run re-fetches the same
    window (at-least-once, never silent skip)."""
    from salesforce_prefect_etl_pipeline_spark.metadata import RunMetadataStore
    from salesforce_prefect_etl_pipeline_spark.sources.salesforce import (
        extract_object_incremental,
    )
    from salesforce_prefect_etl_pipeline_spark.specs import TableSpec

    spec = TableSpec(name="opportunity", table="Opportunity",
                     fields=("Id", "Amount", "SystemModstamp"))
    store = RunMetadataStore(str(tmp_path / "meta"))
    data = [
        {"Id": "a", "Amount": "1", "SystemModstamp": "2024-01-01T00:00:00Z"},
        {"Id": "b", "Amount": "2", "SystemModstamp": "2024-01-02T00:00:00Z"},
    ]
    issued = []

    def fetch(soql):
        issued.append(soql)
        if "SystemModstamp >" in soql:
            wm = soql.split("SystemModstamp > ")[1].rstrip(")")
            return [r for r in data if r["SystemModstamp"] > wm]
        return list(data)

    df1, soql1, wm1 = extract_object_incremental(spark, spec, fetch, store)
    assert df1.count() == 2 and wm1 == "2024-01-02T00:00:00Z"
    assert "SystemModstamp >" not in soql1
    # extractor must NOT have committed anything on its own
    assert store.get_watermark("opportunity") is None
    store.set_watermark(spec.name, wm1)  # caller commits after the write

    # nothing new -> empty frame, watermark unchanged, predicate present
    df2, soql2, wm2 = extract_object_incremental(spark, spec, fetch, store)
    assert df2.count() == 0 and wm2 == wm1
    assert "SystemModstamp > 2024-01-02T00:00:00Z" in soql2

    # crash BETWEEN fetch and load: a newer record is fetched, but the
    # caller dies before committing -> watermark still wm1, and the next
    # run RE-FETCHES the same record instead of skipping it
    data.append({"Id": "c", "Amount": "3", "SystemModstamp": "2024-01-03T00:00:00Z"})
    df3, _soql3, wm3 = extract_object_incremental(spark, spec, fetch, store)
    assert [r.Id for r in df3.collect()] == ["c"]
    assert wm3 == "2024-01-03T00:00:00Z"
    # (no commit here — simulated load failure)
    assert store.get_watermark("opportunity") == wm1
    df3b, _soql3b, wm3b = extract_object_incremental(spark, spec, fetch, store)
    assert [r.Id for r in df3b.collect()] == ["c"] and wm3b == wm3
    store.set_watermark(spec.name, wm3b)
    assert store.get_watermark("opportunity") == wm3

    # failed fetch propagates and leaves the watermark untouched
    def boom(soql):
        raise ConnectionError("api down")

    import pytest as _pytest

    with _pytest.raises(ConnectionError):
        extract_object_incremental(spark, spec, boom, store)
    assert store.get_watermark("opportunity") == wm3


def test_merge_snapshot_idempotent_incremental_load(spark, tmp_path):
    """The load half of the incremental story: merge keeps the highest
    version per key, replaying the SAME batch changes nothing (the
    exactly-once end state the at-least-once extractor composes to),
    and a crash before the swap leaves the old snapshot readable."""
    from salesforce_prefect_etl_pipeline_spark.sources.io import merge_snapshot

    snap = str(tmp_path / "opportunity_snapshot")

    def rows(df):
        return sorted((r.Id, r.Amount, r.SystemModstamp) for r in df.collect())

    b1 = spark.createDataFrame(
        [("a", 1.0, "2024-01-01"), ("b", 2.0, "2024-01-02")],
        "Id string, Amount double, SystemModstamp string",
    )
    merge_snapshot(spark, snap, b1, key="Id", version_col="SystemModstamp")
    assert rows(spark.read.parquet(snap)) == [
        ("a", 1.0, "2024-01-01"), ("b", 2.0, "2024-01-02"),
    ]

    # batch 2: update "b", insert "c"
    b2 = spark.createDataFrame(
        [("b", 20.0, "2024-01-05"), ("c", 3.0, "2024-01-04")],
        "Id string, Amount double, SystemModstamp string",
    )
    merge_snapshot(spark, snap, b2, key="Id", version_col="SystemModstamp")
    after2 = rows(spark.read.parquet(snap))
    assert after2 == [
        ("a", 1.0, "2024-01-01"), ("b", 20.0, "2024-01-05"), ("c", 3.0, "2024-01-04"),
    ]

    # replay batch 2 (crash-retry of fetch+load) -> identical end state
    merge_snapshot(spark, snap, b2, key="Id", version_col="SystemModstamp")
    assert rows(spark.read.parquet(snap)) == after2

    # stale replay (older version of "b") must NOT regress the row
    stale = spark.createDataFrame(
        [("b", 2.0, "2024-01-02")], "Id string, Amount double, SystemModstamp string"
    )
    merge_snapshot(spark, snap, stale, key="Id", version_col="SystemModstamp")
    assert rows(spark.read.parquet(snap)) == after2


def test_merge_snapshot_recovers_from_interrupted_swap(spark, tmp_path):
    """A crash BETWEEN the two swap renames (snapshot -> __merge_old__
    done, tmp -> snapshot not) leaves no snapshot but a live
    __merge_old__. The next merge must recover that state — not treat
    the batch as an initial load and silently discard the prior
    snapshot."""
    import os

    from salesforce_prefect_etl_pipeline_spark.sources.io import merge_snapshot

    snap = str(tmp_path / "account_snapshot")

    def rows(df):
        return sorted((r.Id, r.Amount, r.SystemModstamp) for r in df.collect())

    b1 = spark.createDataFrame(
        [("a", 1.0, "2024-01-01"), ("b", 2.0, "2024-01-02")],
        "Id string, Amount double, SystemModstamp string",
    )
    merge_snapshot(spark, snap, b1, key="Id", version_col="SystemModstamp")

    # Simulate the torn swap: first rename happened, second did not.
    os.rename(snap, snap + ".__merge_old__")
    assert not os.path.exists(snap)

    # Incremental batch touching only "b"; "a" lives only in __merge_old__.
    b2 = spark.createDataFrame(
        [("b", 20.0, "2024-01-05")],
        "Id string, Amount double, SystemModstamp string",
    )
    merge_snapshot(spark, snap, b2, key="Id", version_col="SystemModstamp")
    assert rows(spark.read.parquet(snap)) == [
        ("a", 1.0, "2024-01-01"),  # recovered, NOT discarded
        ("b", 20.0, "2024-01-05"),
    ]
    assert not os.path.exists(snap + ".__merge_old__")


def test_observed_qa_rides_along_without_second_scan(spark, tmp_path):
    """observe() metrics collected during the ONE write action must
    match a separate profile pass — QA without re-scanning."""
    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.operators.quality import observed_qa
    from salesforce_prefect_etl_pipeline_spark.plans import load_table
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    observed, obs = observed_qa(orders, ["o_custkey", "o_orderpriority"])
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["rows"] == orders.count()
    for c in ("o_custkey", "o_orderpriority"):
        assert got[f"nulls_{c}"] == orders.filter(F.col(c).isNull()).count()


def test_compact_parquet_reduces_files_preserving_data(spark, tmp_path):
    """Compaction: a directory accreted as 16 tiny files rewrites to
    the byte-derived target count with identical data, via the same
    torn-swap-safe commit as merge_snapshot."""
    from salesforce_prefect_etl_pipeline_spark.sources.io import compact_parquet

    path = str(tmp_path / "accreted")
    spark.range(10_000).repartition(16).write.parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    report = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert report["files_before"] == 16
    assert report["files_after"] == 1
    after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert after == before
    # target smaller than total bytes -> multiple right-sized files
    report2 = compact_parquet(spark, path, target_file_bytes=10_000)
    assert report2["files_after"] > 1


def test_read_parquet_evolving_schema_epochs(spark, tmp_path):
    """Files written before a column existed must still read: mergeSchema
    unions the epochs, required_cols fills/casts the contract columns."""
    from salesforce_prefect_etl_pipeline_spark.sources.io import (
        read_parquet_evolving,
    )

    old_dir, new_dir = str(tmp_path / "e1"), str(tmp_path / "e2")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(old_dir)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(new_dir)
    df = read_parquet_evolving(
        spark,
        [old_dir, new_dir],
        {"id": "bigint", "name": "string", "score": "double", "channel": "string"},
    )
    rows = {r.id: (r.name, r.score, r.channel) for r in df.collect()}
    assert rows[1] == ("a", None, None)  # pre-epoch file: typed nulls
    assert rows[2] == ("b", 9.5, None)
    assert dict(df.dtypes)["score"] == "double"


def test_salesforce_python_datasource(spark):
    """Spark 4 Python DataSource connector: executor-side page reads,
    one partition per id-range page, deterministic arrival data, and
    the tolerant ingest casts compose downstream exactly as with the
    driver-side extract."""
    from salesforce_prefect_etl_pipeline_spark.sources.sf_datasource import (
        SalesforceSimDataSource,
        _simulated_page,
    )
    from salesforce_prefect_etl_pipeline_spark.sources.salesforce import (
        apply_ingest_casts,
    )

    spark.dataSource.register(SalesforceSimDataSource)
    df = (
        spark.read.format("salesforce_sim")
        .option("object", "Opportunity")
        .option("rows", "1000")
        .option("page_size", "250")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # one per page
    rows = df.collect()
    assert len(rows) == 1000
    assert dict(df.dtypes) == {
        "Id": "string", "StageName": "string",
        "Amount": "string", "CloseDate": "string",
    }
    # distributed read == the simulator run directly (determinism + no
    # row loss across partitions)
    direct = list(_simulated_page("Opportunity", 0, 1000))
    assert sorted(tuple(r) for r in rows) == sorted(direct)
    # the arrival contract feeds the same tolerant casts (garbage -> NULL)
    cast = apply_ingest_casts(df)
    assert dict(cast.dtypes)["Amount"] == "double"
    n_garbage = sum(1 for r in direct if r[2] == "not-a-number")
    n_null_amount = cast.filter(cast.Amount.isNull()).count()
    assert n_garbage > 0
    assert n_null_amount == n_garbage + sum(1 for r in direct if r[2] is None)


def test_cdc_tombstones_survive_replay(spark, tmp_path):
    """Delete + at-least-once replay must converge: the tombstone row
    stays in the snapshot and outranks a replayed earlier upsert, so
    the deleted key never resurrects; a genuinely newer upsert does
    bring it back."""
    from salesforce_prefect_etl_pipeline_spark.sources.io import (
        merge_snapshot,
        read_live_snapshot,
    )

    snap = str(tmp_path / "snap")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v long, ver long, deleted boolean")

    up1 = [("a", 1, 1, False), ("b", 2, 1, False)]
    merge_snapshot(spark, snap, batch(up1), "k", "ver")
    merge_snapshot(spark, snap, batch([("a", 0, 3, True)]), "k", "ver")  # delete a
    live = {r.k: r.v for r in read_live_snapshot(spark, snap, "deleted").collect()}
    assert live == {"b": 2}
    # replayed ORIGINAL upsert of a (ver 1) must not resurrect it
    merge_snapshot(spark, snap, batch(up1), "k", "ver")
    live = {r.k: r.v for r in read_live_snapshot(spark, snap, "deleted").collect()}
    assert live == {"b": 2}
    # tombstone is still physically present (the replay protection)
    raw = {r.k for r in spark.read.parquet(snap).collect()}
    assert raw == {"a", "b"}
    # a NEWER upsert revives the key
    merge_snapshot(spark, snap, batch([("a", 9, 4, False)]), "k", "ver")
    live = {r.k: r.v for r in read_live_snapshot(spark, snap, "deleted").collect()}
    assert live == {"a": 9, "b": 2}


def test_paged_extract_mid_stream_page_failure_then_clean_rerun(spark, tmp_path):
    """Fault injection on the paged scale path: one page's fetch dies
    mid-extract (transient API failure ON THE EXECUTOR). The job must
    fail as a whole — no partial snapshot commit — and because the
    merge commits only after a durable write, a clean re-run composes
    to the exact exactly-once end state. The failure flag lives on
    disk because the fetcher closure is pickled to worker processes."""
    from salesforce_prefect_etl_pipeline_spark.sources.io import merge_snapshot
    from salesforce_prefect_etl_pipeline_spark.sources.salesforce import (
        extract_object_paged,
    )

    all_records = [
        {"Id": f"{i:03d}", "StageName": "Won", "Amount": str(100 + i),
         "SystemModstamp": f"2024-01-{i + 1:02d}T00:00:00Z"}
        for i in range(30)
    ]
    flag = tmp_path / "page2_failed_once"
    snap = str(tmp_path / "snap")

    def flaky_fetch(page_soql):
        import re

        lo, hi = re.search(r"Id >= '(\w+)' AND Id < '(\w+)'", page_soql).groups()
        if lo == "010" and not flag.exists():
            flag.write_text("tripped")
            raise ConnectionError("simulated mid-stream page failure")
        return [r for r in all_records if lo <= r["Id"] < hi]

    ranges = [("000", "010"), ("010", "020"), ("020", "030")]
    soql = "SELECT Id, StageName, Amount, SystemModstamp FROM Opportunity"

    df, _ = extract_object_paged(spark, OPP_SPEC, flaky_fetch, ranges, soql=soql)
    with pytest.raises(Exception, match="mid-stream page failure"):
        merge_snapshot(spark, snap, df, key="Id", version_col="SystemModstamp")
    assert flag.exists()
    # nothing committed: the snapshot path must not exist at all
    import os

    assert not os.path.exists(snap)

    # clean re-run (pipeline retry posture X4): full window re-fetched
    df2, _ = extract_object_paged(spark, OPP_SPEC, flaky_fetch, ranges, soql=soql)
    merge_snapshot(spark, snap, df2, key="Id", version_col="SystemModstamp")
    got = sorted(r.Id for r in spark.read.parquet(snap).collect())
    assert got == sorted(r["Id"] for r in all_records)


def test_paged_extract_duplicated_page_composes_to_exactly_once(spark, tmp_path):
    """Fault injection: a DUPLICATED page (queryMore replay / retried
    range) delivers some records twice, one copy stale. At-least-once
    arrival + keep-latest merge_snapshot must compose to exactly-once:
    one row per Id, highest SystemModstamp wins, and replaying the
    whole merged batch again changes nothing."""
    from salesforce_prefect_etl_pipeline_spark.sources.io import merge_snapshot
    from salesforce_prefect_etl_pipeline_spark.sources.salesforce import (
        extract_object_paged,
    )

    def dup_fetch(page_soql):
        import re

        lo, hi = re.search(r"Id >= '(\w+)' AND Id < '(\w+)'", page_soql).groups()
        fresh = [
            {"Id": f"{i:03d}", "Amount": str(100 + i),
             "SystemModstamp": "2024-02-01T00:00:00Z"}
            for i in range(20)
        ]
        stale = [
            {"Id": f"{i:03d}", "Amount": str(i),
             "SystemModstamp": "2024-01-01T00:00:00Z"}
            for i in range(5, 15)
        ]
        return [r for r in fresh + stale if lo <= r["Id"] < hi]

    ranges = [("000", "010"), ("005", "015"), ("010", "020")]  # overlapping
    soql = "SELECT Id, Amount, SystemModstamp FROM Opportunity"
    df, _ = extract_object_paged(spark, OPP_SPEC, dup_fetch, ranges, soql=soql)
    n_raw = df.count()
    assert n_raw > 20, "duplicates must actually arrive"

    snap = str(tmp_path / "snap")
    merge_snapshot(spark, snap, df, key="Id", version_col="SystemModstamp")
    rows = {r.Id: (r.Amount, r.SystemModstamp)
            for r in spark.read.parquet(snap).collect()}
    assert len(rows) == 20
    for i in range(20):
        assert rows[f"{i:03d}"] == (100.0 + i, "2024-02-01T00:00:00Z")

    # replay the identical batch (crash-retry of the whole load)
    merge_snapshot(spark, snap, df, key="Id", version_col="SystemModstamp")
    again = {r.Id: (r.Amount, r.SystemModstamp)
             for r in spark.read.parquet(snap).collect()}
    assert again == rows


def test_tpch_style_refresh_stream_maintains_aggregates(spark, tmp_path):
    """TPC-H's refresh-stream shape (RF1 insert batch / RF2 delete
    batch) over the merge-load machinery: after each refresh, an
    aggregate over the LIVE snapshot must equal recomputing it from
    the logically-current row set — inserts land, deletes hide, and a
    replayed refresh changes nothing."""
    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.sources.io import (
        merge_snapshot,
        read_live_snapshot,
    )

    snap = str(tmp_path / "orders_snap")
    schema = (
        "o_orderkey long, o_totalprice double, o_version string,"
        " o_deleted boolean"
    )

    def agg(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
        ).collect()[0]
        return row.n, row.s

    base = spark.createDataFrame(
        [(i, 100.0 + i, "v1", False) for i in range(20)], schema
    )
    merge_snapshot(spark, snap, base, key="o_orderkey", version_col="o_version")
    assert agg(read_live_snapshot(spark, snap, "o_deleted")) == agg(base)

    # RF1: insert 5 new orders
    rf1 = spark.createDataFrame(
        [(100 + i, 500.0, "v2", False) for i in range(5)], schema
    )
    merge_snapshot(spark, snap, rf1, key="o_orderkey", version_col="o_version")
    live = read_live_snapshot(spark, snap, "o_deleted")
    assert agg(live) == (25, sum(100.0 + i for i in range(20)) + 5 * 500.0)

    # RF2: delete the 5 oldest via tombstones
    rf2 = spark.createDataFrame(
        [(i, 0.0, "v3", True) for i in range(5)], schema
    )
    merge_snapshot(spark, snap, rf2, key="o_orderkey", version_col="o_version")
    live = read_live_snapshot(spark, snap, "o_deleted")
    assert agg(live) == (20, sum(100.0 + i for i in range(5, 20)) + 5 * 500.0)

    # replayed RF2 (at-least-once) changes nothing, and a replayed
    # STALE RF1 row cannot resurrect a deleted key
    merge_snapshot(spark, snap, rf2, key="o_orderkey", version_col="o_version")
    stale_insert = spark.createDataFrame([(3, 103.0, "v1", False)], schema)
    merge_snapshot(
        spark, snap, stale_insert, key="o_orderkey", version_col="o_version"
    )
    live = read_live_snapshot(spark, snap, "o_deleted")
    assert agg(live) == (20, sum(100.0 + i for i in range(5, 20)) + 5 * 500.0)


# ----------------------------------------------------------------------
# One evaluation per output: outputs pinned byte for byte, a job budget,
# and the one-pass profile against the two-pass definition it replaced.

RICH_RECORDS = [
    {"attributes": {"type": "Opportunity"}, "Id": f"006{i % 9:03d}",
     "StageName": ("Won", "Lost", "Open", None)[i % 4],
     "Amount": (None, "N/A", "0", "-0.0", "12.5", "1e3", "7")[i % 7],
     "CloseDate": (None, "2024-02-29", "bogus", "2023-12-31")[i % 4]}
    for i in range(14)
]

EXPECTED_SUMMARY_CSV = (
    "StageName,records,sum_amount,avg_amount\n"
    ",3,12.5,6.25\n"
    "Lost,4,1007.0,335.6666666666667\n"
    "Open,3,7.0,2.3333333333333335\n"
    "Won,4,1012.5,506.25\n"
)

EXPECTED_SUMMARY_JSON = (
    '[\n  {\n    "StageName": null,\n    "records": 3,\n    "sum_amount": 12.5,\n'
    '    "avg_amount": 6.25\n  },\n  {\n    "StageName": "Lost",\n    "records": 4,\n'
    '    "sum_amount": 1007.0,\n    "avg_amount": 335.6666666666667\n  },\n  {\n'
    '    "StageName": "Open",\n    "records": 3,\n    "sum_amount": 7.0,\n'
    '    "avg_amount": 2.3333333333333335\n  },\n  {\n    "StageName": "Won",\n'
    '    "records": 4,\n    "sum_amount": 1012.5,\n    "avg_amount": 506.25\n  }\n]'
)

EXPECTED_DEDUP_CSV = (
    "Id,StageName,Amount,CloseDate\n"
    "006000,Lost,0.0,2024-02-29\n"
    "006001,Lost,,2024-02-29\n"
    "006002,,12.5,2023-12-31\n"
    "006003,,-0.0,2023-12-31\n"
    "006004,Lost,7.0,2024-02-29\n"
    "006005,Lost,1000.0,2024-02-29\n"
    "006006,Open,7.0,\n"
    "006007,,,2023-12-31\n"
    "006008,Won,,\n"
)

#: Spark jobs one ``run_pipeline`` call may start (32 when the
#: aggregate ran three times, the dedup output was counted after its
#: write and the profile took a wide distinct aggregation plus a sorted
#: top-k pass; 20 since).
PIPELINE_JOB_BUDGET = 22


def _last_job_id(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_pipeline_outputs_are_pinned_byte_for_byte(spark, tmp_path):
    df, _ = extract_object(spark, OPP_SPEC, lambda soql: RICH_RECORDS)
    res = run_pipeline(spark, OPP_SPEC, df, str(tmp_path / "out"))
    assert open(res.artifacts["processed_csv"]).read() == EXPECTED_SUMMARY_CSV
    assert open(res.artifacts["output_json"]).read() == EXPECTED_SUMMARY_JSON
    assert open(res.artifacts["dedup_csv"]).read() == EXPECTED_DEDUP_CSV
    assert res.row_counts == {"raw": 14, "dedup": 9, "processed": 4}
    assert set(res.states.values()) == {"ok"}
    snap = spark.read.parquet(res.artifacts["snapshot_parquet"])
    assert sorted(map(tuple, snap.collect()), key=repr) == sorted(
        map(tuple, df.collect()), key=repr
    )


def test_pipeline_job_budget_and_released_caches(spark, tmp_path):
    """Counted as the status store's job-id delta: the QA pool threads
    do not carry the caller's job group."""
    df, _ = extract_object(spark, OPP_SPEC, lambda soql: RICH_RECORDS)
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    before = _last_job_id(spark)
    res = run_pipeline(spark, OPP_SPEC, df, str(tmp_path / "out"))
    jobs = _last_job_id(spark) - before
    assert jobs <= PIPELINE_JOB_BUDGET, f"{jobs} jobs for one run"
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == persisted
    assert df.storageLevel.useMemory is False
    # every stage carries its own wall time into the run record
    stages = {"cache", "schema_gate", "nonempty_gate", "dedup", "profile",
              "snapshot", "process", "drift", "total"}
    assert set(res.timings) == {f"{s}_s" for s in stages}
    assert all(v >= 0 for v in res.timings.values())
    latest = json.load(
        open(tmp_path / "out" / "metadata" / OPP_SPEC.name / "latest_run.json")
    )
    assert latest["timings"] == res.timings


def test_pipeline_row_counts_on_empty_extract(spark, tmp_path):
    """The counts observed during the writes arrive for 0-row outputs
    too: the ETL branch still runs when the advisory non-empty gate
    fails."""
    df, _ = extract_object(spark, OPP_SPEC, lambda soql: [])
    res = run_pipeline(spark, OPP_SPEC, df, str(tmp_path / "out"), retry_sleep=lambda s: None)
    assert res.row_counts == {"raw": 0, "processed": 0}
    assert res.states["nonempty_gate"].startswith("error")
    assert res.states["process"] == "ok"
    assert open(res.artifacts["processed_csv"]).read() == (
        "StageName,records,sum_amount,avg_amount\n"
    )


def _two_pass_profile(df, topk=5, topk_max_distinct=5000):
    """The profile's previous definition: one wide exact-distinct
    aggregation, then the ordered melted top-k of the eligible columns."""
    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.operators.quality import topk_values

    def q(c):
        return F.col("`" + c.replace("`", "``") + "`")

    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(df.columns):
        aggs += [F.count_if(q(c).isNull()).alias(f"z{i}"), F.countDistinct(q(c)).alias(f"u{i}")]
    row = df.agg(*aggs).collect()[0]
    dtypes = dict(df.dtypes)
    cols = {
        c: {"dtype": dtypes[c], "null_count": row[f"z{i}"], "n_unique": row[f"u{i}"]}
        for i, c in enumerate(df.columns)
    }
    eligible = [c for c in df.columns if cols[c]["n_unique"] <= topk_max_distinct]
    for r in topk_values(df, eligible, k=topk).collect():
        cols[r.column_name].setdefault("top_values", []).append(
            {"value": r.value, "count": r.cnt}
        )
    return {"n_rows": row["n"], "distinct_estimated": False, "columns": cols}


def test_profile_columns_equals_two_pass_definition(spark):
    import datetime

    schema = T.StructType([
        T.StructField("all_null", T.StringType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("it's `odd`", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    nan = float("nan")
    d, t = datetime.date, datetime.datetime
    rows = [
        (None, -0.0, -0.0, d(2024, 1, 1), t(2024, 1, 1, 10), "a", 1),
        (None, 0.0, 0.0, d(2024, 1, 1), t(2024, 1, 1, 10), "a", 1),
        (None, nan, nan, None, None, None, 2),
        (None, nan, 1.5, d(1, 1, 1), t(2024, 3, 1), "b", 3),
        (None, None, None, d(9999, 12, 31), t(2024, 3, 1), "'", 4),
        (None, 1.0, 1.0, d(2024, 1, 2), t(2024, 3, 1, 0, 0, 0, 1), "`", 5),
        (None, -0.0, None, d(2024, 1, 2), t(2024, 3, 1, 0, 0, 0, 1), "a", None),
    ]
    df = spark.createDataFrame(rows, schema)
    got = profile_columns(df, topk=3)
    assert got == _two_pass_profile(df, topk=3)
    assert got["columns"]["x"]["n_unique"] == 3  # -0.0 == 0.0, NaN == NaN
    # the distinct-count guard still bounds which columns get a top-k
    capped = profile_columns(df, topk=2, topk_max_distinct=3)
    assert capped == _two_pass_profile(df, topk=2, topk_max_distinct=3)
    assert "top_values" not in capped["columns"]["n"]
    # empty input: zero counts, no top values
    empty = df.limit(0)
    assert profile_columns(empty) == _two_pass_profile(empty)
