"""Tests of the benchmark itself: input determinism, the metric list
against BENCHMARK.json, and a tiny traced pipeline run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_extract_generator_is_deterministic():
    a = gen.table_digest(gen.opportunity_extract(7, 500))
    assert a == gen.table_digest(gen.opportunity_extract(7, 500))
    assert a != gen.table_digest(gen.opportunity_extract(8, 500))


def test_corpus_generator_is_deterministic():
    shape = gen.CorpusShape(base_docs=50, batches=2)
    a = gen.corpus_digest(gen.crawl_corpus(7, shape))
    assert a == gen.corpus_digest(gen.crawl_corpus(7, shape))
    assert a != gen.corpus_digest(gen.crawl_corpus(8, shape))


def test_extract_has_the_promised_duplicates_and_nulls():
    t = gen.opportunity_extract(3, 1000)
    amounts = t["Amount"].to_pylist()
    assert len(set(t["Id"].to_pylist())) == 1000 - 50
    assert t["Amount"].null_count == pytest.approx(60, abs=25)
    assert amounts.count("not-a-number") == pytest.approx(30, abs=20)


def test_crawl_batches_have_the_measured_composition():
    corpus = gen.crawl_corpus(3, gen.CorpusShape(base_docs=50, batches=3))
    for batch in corpus.batches:
        texts = batch["text"].to_pylist()
        lengths = [len(t.split()) for t in texts]
        near = [t for t in texts if t.endswith(" " + gen.DUP_MARKER) and t[:-4] in texts]
        assert len(near) == round(len(texts) * gen.NEAR_DUP_SHARE)
        assert min(lengths) >= gen.DOC_TOKENS[0] and max(lengths) <= gen.DOC_TOKENS[1] + 1
    assert all(gen.DUP_MARKER in q for qs in corpus.queries for _, q in qs)


def test_metric_names_and_caps():
    e2e, layers = SPEC["end_to_end"], SPEC["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    names = [m["name"] for m in e2e + layers]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert {m["name"]: m["unit"] for m in e2e} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in layers} == run.per_layer_units()


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    d = tmp_path_factory.mktemp("perfbench")
    run.pin_environment(d / "env")
    yield d
    run.shutdown_jvm()


def _check_listing(result: dict, expected: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected
    }
    json.dumps(result)


def test_untraced_run_lists_every_end_to_end_metric(scratch):
    result, _ = run.run("etl_pipeline", 1, 1.0, False, str(scratch / "e2e"), small=True)
    _check_listing(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_pipeline_attributes_every_job(scratch):
    result, _ = run.run("etl_pipeline", 1, 1.0, True, str(scratch / "traced"), small=True)
    _check_listing(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.unattributed_jobs"] == 0
    assert m["spark.jobs_per_op"] > 0
    assert m["flows.jobs"] + m["sources.jobs"] + m["operators.quality.jobs"] > 0
    assert m["flows.qa_overlap"] >= 1
    assert m["session.calls"] == 1
