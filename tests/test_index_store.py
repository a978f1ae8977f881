"""The shared index lifecycle (operators/index_store.py) and the
AvailableNow runner (streaming/windows.run_available_now)."""

from __future__ import annotations

import hashlib
import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
    batch_id_col,
    index_component_path,
    next_version,
    publish_version,
)
from salesforce_prefect_etl_pipeline_spark.streaming.ingest import (
    stream_documents_dir,
)
from salesforce_prefect_etl_pipeline_spark.streaming.windows import (
    STREAM_SHUFFLE_PARTITIONS,
    run_available_now,
)


@pytest.mark.parametrize("prefix", ["", "retract", "retractpos", "ivf", "retractivf"])
def test_batch_id_col_is_the_on_disk_md5(spark, prefix):
    """Ids written before the shared expression existed must still
    reconcile: md5 of "[prefix:]min:max:count" exactly as hashlib spells
    it, for every prefix an index family writes."""
    df = spark.createDataFrame([(7,), (3,), (11,), (5,)], "k long")
    got = df.agg(batch_id_col("k", prefix)).collect()[0]["batch_id"]
    body = "3:11:4"
    want = hashlib.md5(
        (f"{prefix}:{body}" if prefix else body).encode()
    ).hexdigest()
    assert got == want


def test_publish_version_pointer_and_retention(tmp_path):
    """CURRENT holds the bare version name; a publish keeps {new,
    previous}; the flat layout survives the first publish (it is the
    previous snapshot) and goes with the second."""
    idx = str(tmp_path)
    os.makedirs(os.path.join(idx, "postings"))
    assert index_component_path(idx, "postings") == os.path.join(idx, "postings")
    for n in (1, 2, 3):
        root = next_version(idx)
        assert root == os.path.join(idx, "versions", f"v{n}")
        os.makedirs(os.path.join(root, "postings"))
        publish_version(idx, root, flat=("postings",))
        assert open(os.path.join(idx, "CURRENT")).read() == f"v{n}"
        assert index_component_path(idx, "postings") == os.path.join(
            root, "postings"
        )
        assert os.path.isdir(os.path.join(idx, "postings")) == (n == 1)
        kept = sorted(os.listdir(os.path.join(idx, "versions")))
        assert kept == [f"v{m}" for m in range(max(1, n - 1), n + 1)]
    assert not os.path.exists(os.path.join(idx, ".CURRENT.tmp"))


def _one_file_source(d, name, ids):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64())}),
        os.path.join(d, f"{name}.parquet"),
    )


def test_run_available_now_restores_conf_and_checkpoint_on_error(
    spark, tmp_path, monkeypatch
):
    """A raising callback leaves neither the stream's shuffle pin nor
    its temp checkpoint behind; the pin covers the callbacks, which plan
    through the caller's session."""
    src = str(tmp_path / "src")
    _one_file_source(src, "b0", [1, 2, 3])
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def boom(batch_df, batch_id):
        ckpts = [p for p in os.listdir(tmp) if p.startswith("ckpt_")]
        seen.append((spark.conf.get("spark.sql.shuffle.partitions"), len(ckpts)))
        raise RuntimeError("callback failed")

    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        with pytest.raises(StreamingQueryException, match="callback failed"):
            run_available_now(stream_documents_dir(spark, src), boom)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert seen == [(str(STREAM_SHUFFLE_PARTITIONS), 1)]
    assert not [p for p in os.listdir(tmp) if p.startswith("ckpt_")]


def test_run_available_now_keeps_caller_checkpoint(spark, tmp_path):
    """A caller's checkpoint dir is kept, so the next run resumes from
    the last committed offset and sees only new files."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _one_file_source(src, "b0", [1, 2])
    batches = []

    def collect(batch_df, batch_id):
        batches.append(sorted(r.doc_id for r in batch_df.collect()))

    run_available_now(stream_documents_dir(spark, src), collect, checkpoint_dir=ckpt)
    assert os.path.isdir(os.path.join(ckpt, "commits"))
    _one_file_source(src, "b1", [3])
    run_available_now(stream_documents_dir(spark, src), collect, checkpoint_dir=ckpt)
    assert batches == [[1, 2], [3]]
