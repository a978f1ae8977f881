"""The build-once gate of the persisted fixtures the registered queries
probe (queries_registry.build_once): a crashed build, a rewritten source
and a rebuilt base each rebuild the fixture, and a warm call runs no
Spark job."""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from salesforce_prefect_etl_pipeline_spark import queries_llm as qllm
from salesforce_prefect_etl_pipeline_spark import queries_train as qtrain
from salesforce_prefect_etl_pipeline_spark.operators import retrieval
from tests.conftest import SF_SMALL


@pytest.fixture
def sf_copy(tmp_path, monkeypatch):
    """A private testdata dir (copied documents and embeddings) with
    every fixture root under ``tmp_path``."""
    monkeypatch.setattr(qtrain, "TEXT_INDEX_ROOT", str(tmp_path / "text"))
    monkeypatch.setattr(qllm, "IVF_INDEX_ROOT", str(tmp_path / "ivf"))
    monkeypatch.setattr(qllm, "MINHASH_INDEX_ROOT", str(tmp_path / "minhash"))
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    for table in ("documents", "embeddings"):
        shutil.copy(f"{SF_SMALL}/{table}.parquet", sf_dir)
    return str(sf_dir)


def _raise_once(monkeypatch, owner, name, when=lambda *a, **k: True):
    """Patch ``owner.name`` to raise on its first call that ``when``
    accepts; every other call goes through."""
    real = getattr(owner, name)
    fired = []

    def patched(*args, **kwargs):
        if not fired and when(*args, **kwargs):
            fired.append(True)
            raise RuntimeError(f"crash in {name}")
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, patched)
    return fired


def _count_calls(monkeypatch, owner, name):
    real = getattr(owner, name)
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, counted)
    return calls


def _rewrite(path):
    """Stamp ``path`` as rewritten now, strictly after every write so
    far (the gates compare mtimes)."""
    time.sleep(0.05)
    os.utime(path)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rebuild_clean(ensure, spark, sf_dir):
    shutil.rmtree(ensure(spark, sf_dir))
    return ensure(spark, sf_dir)


def _append_crash(spark, sf_dir, monkeypatch):
    """(a) The append step of ensure_text_index_appended crashes once:
    the next call rebuilds instead of serving the 80% index."""
    fired = _raise_once(monkeypatch, retrieval, "append_text_index")
    with pytest.raises(RuntimeError, match="append_text_index"):
        qtrain.ensure_text_index_appended(spark, sf_dir)
    assert fired
    got = _rows(qtrain.text_bm25_appended(spark, sf_dir))
    _rebuild_clean(qtrain.ensure_text_index_appended, spark, sf_dir)
    assert got == _rows(qtrain.text_bm25_appended(spark, sf_dir)) and got


def _profiles_crash(spark, sf_dir, monkeypatch):
    """(a) A stale ensure_minhash_index rebuild crashes at its profiles
    write, after the bands were rewritten: the next call rebuilds
    instead of pairing the new bands with the old profiles. The new
    source copies increment texts onto indexed docs, so the probe rows
    tell the two apart."""
    src = os.path.join(sf_dir, "documents.parquet")
    qllm.ensure_minhash_index(spark, sf_dir)
    time.sleep(0.05)
    docs = pq.read_table(src)
    ids = docs["doc_id"].to_pylist()
    indexed = [
        int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
        < qllm._CORPUS_PCT
        for i in ids
    ]
    texts = docs["text"].to_pylist()
    heads = [n for n, x in enumerate(indexed) if x]
    tails = [n for n, x in enumerate(indexed) if not x]
    for h, t in zip(heads[:10], tails[:10]):
        texts[h] = texts[t]
    docs = docs.set_column(
        docs.schema.get_field_index("text"),
        "text",
        pc.cast(texts, docs.schema.field("text").type),
    )
    pq.write_table(docs, src)

    fired = _raise_once(
        monkeypatch,
        DataFrameWriter,
        "parquet",
        when=lambda self, path, *a, **k: str(path).endswith("/profiles"),
    )
    with pytest.raises(RuntimeError, match="parquet"):
        qllm.ensure_minhash_index(spark, sf_dir)
    assert fired
    got = _rows(qllm._incremental_dedup_query(spark, sf_dir))
    _rebuild_clean(qllm.ensure_minhash_index, spark, sf_dir)
    want = _rows(qllm._incremental_dedup_query(spark, sf_dir))
    assert got == want and len(want) >= 10


def _source_rewrite(spark, sf_dir, monkeypatch):
    """(b) A rewritten source file rebuilds the fixture; a warm call
    does not."""
    builds = _count_calls(monkeypatch, retrieval, "build_text_index")
    index_dir = qtrain.ensure_text_index(spark, sf_dir)
    qtrain.ensure_text_index(spark, sf_dir)
    assert len(builds) == 1
    _rewrite(shutil.copy(f"{SF_SMALL}/documents.parquet", sf_dir))
    assert qtrain.ensure_text_index(spark, sf_dir) == index_dir
    assert len(builds) == 2


def _base_rebuild(spark, sf_dir, monkeypatch):
    """(c) A rebuilt BM25 base rebuilds the champions derived from it."""
    cuts = _count_calls(monkeypatch, retrieval, "build_champion_lists")
    index_dir = qtrain.ensure_champion_lists(spark, sf_dir)
    before = _rows(qtrain.text_bm25_champion(spark, sf_dir))
    assert len(cuts) == 1
    _rewrite(os.path.join(sf_dir, "documents.parquet"))
    qtrain.ensure_text_index(spark, sf_dir)
    assert qtrain.ensure_champion_lists(spark, sf_dir) == index_dir
    assert len(cuts) == 2
    assert _rows(qtrain.text_bm25_champion(spark, sf_dir)) == before and before


@pytest.mark.parametrize(
    "case", [_append_crash, _profiles_crash, _source_rewrite, _base_rebuild],
    ids=lambda c: c.__name__.strip("_"),
)
def test_fixture_gate_rebuilds(spark, sf_copy, monkeypatch, case):
    case(spark, sf_copy, monkeypatch)


_ENSURES = {
    "text_index": qtrain.ensure_text_index,
    "text_index_appended": qtrain.ensure_text_index_appended,
    "champion_lists": qtrain.ensure_champion_lists,
    "phrase_index": qtrain.ensure_phrase_index,
    "phrase_index_appended": qtrain.ensure_phrase_index_appended,
    "champion_appended": qtrain.ensure_champion_appended,
    "text_index_retracted": qtrain.ensure_text_index_retracted,
    "text_index_compacted": qtrain.ensure_text_index_compacted,
    "ivf_index": qllm.ensure_ivf_index,
    "ivf_index_iters0": lambda spark, sf: qllm.ensure_ivf_index(spark, sf, iters=0),
    "ivfpq_codes": lambda spark, sf: qllm._ensure_ivfpq_codes(
        spark, sf, qllm.ensure_ivf_index(spark, sf, iters=0)
    ),
    "ivfpq_residual_codes": lambda spark, sf: qllm._ensure_ivfpq_residual_codes(
        spark, sf, qllm.ensure_ivf_index(spark, sf, iters=0)
    ),
    "minhash_index": qllm.ensure_minhash_index,
}


@pytest.mark.parametrize("name", sorted(_ENSURES))
def test_warm_ensure_runs_no_spark_job(spark, name):
    """Over the shared sf0.001 fixtures: once a fixture is open, a
    second call only reads its marker — no Spark job."""
    ensure = _ENSURES[name]
    ensure(spark, SF_SMALL)
    sc = spark.sparkContext
    group = f"warm-{name}"
    sc.setJobGroup(group, group)
    try:
        ensure(spark, SF_SMALL)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup(group) == []
