"""The benchmark's workloads: closed loop, one client, one process.

Each workload builds its inputs from the seed during set-up, runs one
operation at a time through the package's public entry points, keeps
what it needs to check each operation's output (outside the timed
region), and checks every operation against an expected result computed
independently of the engine (DuckDB replays of the package's own oracle
SQL) once the measured window is over.

Operations call the package through module attributes
(``pipeline.run_pipeline``, not a local binding), so the traced run's
wrappers see every call.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext
from unittest import mock

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen

SPEC_NAME = "Opportunity"


def no_span(layer: str, name: str):
    return nullcontext()


def start_session(scratch: str):
    """A fresh session with the engine's defaults; only the benchmark's
    own directories are redirected into its scratch space."""
    from salesforce_prefect_etl_pipeline_spark import session

    spark = session.get_spark(
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def duck(scratch: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(scratch, 'duckdb')}'")
    return con


def norm_value(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    return f"{float(v):.12g}"


def norm_rows(rows, columns: list[str]) -> list[tuple]:
    """Order-insensitive, type-tolerant form of a result: columns in
    name order, numbers as 12 significant digits, rows sorted."""
    cols = sorted(columns)
    return sorted(
        (tuple(norm_value(r[c]) for c in cols) for r in rows),
        key=repr,
    )


class Workload:
    name = ""
    #: Operations measured even when they outlast ``--seconds``.
    min_ops = 1

    def __init__(self, seed: int, scratch: str, small: bool = False) -> None:
        self.seed = seed
        self.scratch = scratch
        self.small = small
        self.spark = None
        self.records: dict[int, dict] = {}

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def rep_dir(self, rep: int) -> str:
        """Fresh per-set-up directory; earlier ones are removed."""
        for old in range(rep):
            shutil.rmtree(os.path.join(self.scratch, f"setup{old}"), ignore_errors=True)
        d = os.path.join(self.scratch, f"setup{rep}")
        os.makedirs(d)
        return d

    def has_next(self, i: int) -> bool:
        return True


# ----------------------------------------------------------------------
class EtlPipeline(Workload):
    """The paper's flow, repeated: ``run_pipeline`` with the reference's
    Opportunity spec over one extract, sharing one metadata store and
    one drift state across runs (the ``run_multiple_times`` cadence)."""

    name = "etl_pipeline"
    min_ops = 3

    def setup(self, rep: int) -> None:
        self.stop_session()
        d = self.rep_dir(rep)
        self.spark = start_session(self.scratch)
        self.table = gen.opportunity_extract(self.seed, 2_000 if self.small else 60_000)
        self.extract = gen.write_parquet(self.table, os.path.join(d, "extract.parquet"))
        self.out_dir = os.path.join(d, "out")

    def _run(self, out_dir: str, store=None):
        from salesforce_prefect_etl_pipeline_spark.flows import pipeline
        from salesforce_prefect_etl_pipeline_spark.reference_specs import REFERENCE_SPECS

        df = self.spark.read.parquet(self.extract)
        return pipeline.run_pipeline(
            self.spark, REFERENCE_SPECS[SPEC_NAME], df, out_dir, metadata_store=store
        )

    def prepare(self) -> None:
        pass

    def warm(self) -> None:
        # The JIT keeps speeding pipeline runs up for several runs after
        # a JVM starts; two warm-up runs take the steepest part of that
        # trend out of the measured window.
        for k in range(2):
            self._run(os.path.join(self.scratch, f"warm{k}"))
        from salesforce_prefect_etl_pipeline_spark.metadata import RunMetadataStore

        self.store = RunMetadataStore(os.path.join(self.out_dir, "metadata"))

    def op(self, i: int, span=no_span):
        return self._run(self.out_dir, self.store)

    def record(self, i: int, res) -> dict:
        with open(res.artifacts["output_json"]) as f:
            summary = json.load(f)
        self.records[i] = {
            "states": dict(res.states),
            "row_counts": dict(res.row_counts),
            "drift": dict(res.drift),
            "summary": summary,
        }
        return {"raw_rows": res.row_counts["raw"], "dedup_rows": res.row_counts["dedup"]}

    def expected(self) -> dict:
        from salesforce_prefect_etl_pipeline_spark.plans import compiler
        from salesforce_prefect_etl_pipeline_spark.reference_specs import REFERENCE_SPECS

        spec = REFERENCE_SPECS[SPEC_NAME]
        # spec_oracle_sql looks up the table's physical columns; the
        # generated extract is not one of the package's testdata tables.
        with mock.patch.dict(
            compiler.TESTDATA_COLUMNS, {spec.table: tuple(self.table.column_names)}
        ):
            sql = compiler.spec_oracle_sql(spec)
        con = duck(self.scratch)
        con.register(spec.table, self.table)
        summary = con.execute(sql).fetch_arrow_table().to_pylist()
        distinct = len(pc.unique(self.table["Id"]))
        con.close()
        return {"summary": summary, "distinct_ids": distinct}

    def check(self, ops: list[int]) -> dict[int, str]:
        exp = self.expected()
        want = norm_rows(exp["summary"], list(exp["summary"][0]))
        stages = {"schema_gate", "nonempty_gate", "dedup", "profile", "snapshot", "process", "load"}
        bad = {}
        for n, i in enumerate(ops):
            r = self.records[i]
            errs = []
            if set(r["states"]) != stages or set(r["states"].values()) != {"ok"}:
                errs.append(f"states {r['states']}")
            if norm_rows(r["summary"], list(exp["summary"][0])) != want:
                errs.append("summary differs from the DuckDB replay")
            if r["row_counts"].get("dedup") != exp["distinct_ids"]:
                errs.append(f"dedup rows {r['row_counts'].get('dedup')} != {exp['distinct_ids']}")
            if r["row_counts"].get("processed") != len(want):
                errs.append("processed row count")
            prev = r["drift"]["previous_rows"]
            if n == 0:
                ok_drift = prev is None
            else:
                ok_drift = prev == self.table.num_rows and not r["drift"]["alert"]
            if not ok_drift:
                errs.append(f"drift {r['drift']}")
            if errs:
                bad[i] = "; ".join(errs)
        return bad

    def end_facts(self) -> dict:
        from perfbench.trace import path_size

        meta = os.path.join(self.out_dir, "metadata")
        return {"metadata_bytes": path_size(meta)[1], "metadata_runs": len(self.records)}

    def describe(self) -> dict:
        return {"extract_rows": self.table.num_rows, "extract_sha256": gen.table_digest(self.table)}


# ----------------------------------------------------------------------
class CorpusIndex(Workload):
    """The LLM-data path: each cycle curates one crawl batch, appends
    the survivors to the persisted BM25 index through the streaming
    ingest, and probes the index, so index writes sit beside reads and
    the index accumulates files as real ingest does."""

    name = "corpus_index"
    K = 10

    def setup(self, rep: int) -> None:
        self.stop_session()
        d = self.rep_dir(rep)
        self.spark = start_session(self.scratch)
        shape = gen.CorpusShape(base_docs=200, batches=6) if self.small else gen.CorpusShape(
            base_docs=600, batches=24
        )
        self.corpus = gen.crawl_corpus(self.seed, shape)
        self.batch_paths = []
        os.makedirs(os.path.join(d, "batches"))
        for b, t in enumerate(self.corpus.batches):
            self.batch_paths.append(
                gen.write_parquet(t, os.path.join(d, "batches", f"batch_{b:05d}.parquet"))
            )
        self.base = gen.write_parquet(self.corpus.base, os.path.join(d, "base.parquet"))
        self.index = os.path.join(d, "index")
        self.stream_src = os.path.join(d, "stream_src")
        self.checkpoint = os.path.join(d, "checkpoint")
        os.makedirs(self.stream_src)

    def prepare(self) -> None:
        from salesforce_prefect_etl_pipeline_spark.operators import retrieval

        retrieval.build_text_index(self.spark.read.parquet(self.base), self.index)

    def has_next(self, i: int) -> bool:
        return i + 1 < len(self.batch_paths)

    def _cycle(self, b: int, span=no_span) -> dict:
        """Curate crawl batch ``b``, append its survivors, probe."""
        from salesforce_prefect_etl_pipeline_spark.operators import corpus, retrieval
        from salesforce_prefect_etl_pipeline_spark.streaming import ingest

        t0 = time.perf_counter()
        batch = self.spark.read.parquet(self.batch_paths[b])
        with span("operators.corpus", "e2e_curation"):
            manifest = [r.asDict() for r in corpus.e2e_curation(batch).collect()]
        keep = pa.array(sorted(r["doc_id"] for r in manifest), pa.int64())
        survivors = self.corpus.batches[b].filter(pc.is_in(self.corpus.batches[b]["doc_id"], keep))
        t1 = time.perf_counter()
        pq.write_table(survivors, os.path.join(self.stream_src, f"batch_{b:05d}.parquet"))
        ingest.stream_text_index_ingest(
            ingest.stream_documents_dir(self.spark, self.stream_src),
            self.index,
            checkpoint_dir=self.checkpoint,
        )
        t2 = time.perf_counter()
        with span("operators.retrieval", "probe_text_index"):
            probe = [
                r.asDict()
                for r in retrieval.probe_text_index(
                    self.spark, self.index, self.corpus.queries[b], k=self.K
                ).collect()
            ]
        phases = {"curate_s": t1 - t0, "append_s": t2 - t1, "probe_s": time.perf_counter() - t2}
        return {"batch": b, "manifest": manifest, "survivors": survivors, "probe": probe, "phases": phases}

    def warm(self) -> None:
        # The first cycle in a JVM takes about twice as long as later
        # ones (code generation, JIT, Python workers, the first
        # streaming query), so a whole cycle on batch 0 runs before the
        # window. The next cycle is still 10-20% slower than the steady
        # state; a second warm-up cycle does not fit the run budget.
        self.warm_survivors = self._cycle(0)["survivors"]

    def op(self, i: int, span=no_span) -> dict:
        """One cycle on crawl batch ``i + 1`` (batch 0 is the warm-up's)."""
        return self._cycle(i + 1, span)

    def record(self, i: int, out: dict) -> dict:
        from salesforce_prefect_etl_pipeline_spark.operators import retrieval

        totals = pq.read_table(retrieval._comp(self.index, "totals"))
        out["indexed_docs"] = pc.sum(totals["n_docs"]).as_py()
        self.records[i] = out
        return {
            "survivors": out["survivors"].num_rows,
            "batch_docs": len(self.corpus.batches[out["batch"]]),
            **out["phases"],
        }

    def _replay(self, docs: pa.Table, batch: int) -> tuple[list, list]:
        """DuckDB replays of one cycle: the batch's curation manifest and
        the probe over ``docs``. Each call has its own connection, so
        cycles replay in parallel (one small table runs single-threaded
        inside DuckDB)."""
        from salesforce_prefect_etl_pipeline_spark.operators import corpus, retrieval

        con = duck(self.scratch)
        try:
            con.register("documents", self.corpus.batches[batch])
            manifest = con.execute(corpus.e2e_curation_sql()).fetch_arrow_table().to_pylist()
            con.unregister("documents")
            con.register("documents", docs)
            sql = retrieval.bm25_topk_sql(self.corpus.queries[batch], k=self.K)
            return manifest, con.execute(sql).fetch_arrow_table().to_pylist()
        finally:
            con.close()

    def check(self, ops: list[int]) -> dict[int, str]:
        from concurrent.futures import ThreadPoolExecutor

        from salesforce_prefect_etl_pipeline_spark.operators import retrieval

        live = [self.corpus.base, self.warm_survivors]
        prefixes = []
        for i in ops:
            live.append(self.records[i]["survivors"])
            prefixes.append(pa.concat_tables(live))
        # The index's lossless pin: the last probe equals a cold BM25
        # scan of every document the index should hold. It runs in Spark
        # beside the DuckDB replays.
        last = ops[-1]
        direct = retrieval.bm25_topk(
            self.spark.createDataFrame(prefixes[-1].select(["doc_id", "text"]).to_pandas()),
            self.spark,
            self.corpus.queries[self.records[last]["batch"]],
            k=self.K,
        )
        with ThreadPoolExecutor(max_workers=4) as pool:
            pinned = pool.submit(direct.collect)
            replays = list(
                pool.map(self._replay, prefixes, [self.records[i]["batch"] for i in ops])
            )
            direct = [d.asDict() for d in pinned.result()]
        bad: dict[int, str] = {}
        mcols = ["doc_id", "n_tokens", "split", "pack_group", "pack_seq"]
        cols = ["query_id", "rnk", "doc_id", "score_scaled"]
        for i, docs, (manifest, probe) in zip(ops, prefixes, replays):
            r = self.records[i]
            errs = []
            if norm_rows(r["manifest"], mcols) != norm_rows(manifest, mcols):
                errs.append("curation manifest differs from the DuckDB replay")
            if r["indexed_docs"] != docs.num_rows:
                errs.append(f"index holds {r['indexed_docs']} docs, expected {docs.num_rows}")
            if norm_rows(r["probe"], cols) != norm_rows(probe, cols):
                errs.append("probe differs from the DuckDB BM25 replay")
            if errs:
                bad[i] = "; ".join(errs)
        if norm_rows(direct, cols) != norm_rows(self.records[last]["probe"], cols):
            bad[last] = "; ".join(filter(None, [bad.get(last), "final probe differs from bm25_topk"]))
        return bad

    def end_facts(self) -> dict:
        from perfbench.trace import path_size
        from salesforce_prefect_etl_pipeline_spark.operators import retrieval

        files, size = path_size(retrieval._comp(self.index, "postings"))
        docs = self.records[max(self.records)]["indexed_docs"]
        return {"index_files": files, "index_bytes_per_doc": size / docs}

    def describe(self) -> dict:
        return {
            "base_docs": self.corpus.base.num_rows,
            "batch_docs": self.corpus.batches[0].num_rows,
            "corpus_sha256": gen.corpus_digest(self.corpus),
        }


WORKLOADS = {w.name: w for w in (EtlPipeline, CorpusIndex)}
