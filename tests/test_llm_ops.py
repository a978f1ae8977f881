"""Tests for dedup / similarity / text operators, including the
approximate-vs-exact recall contracts the oracle can't check."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from salesforce_prefect_etl_pipeline_spark.operators import (
    dedup,
    index_store,
    similarity,
    text,
)
from salesforce_prefect_etl_pipeline_spark.operators.index_store import (
    batch_id_of,
    index_component_path,
)
from salesforce_prefect_etl_pipeline_spark.plans import load_table

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


def test_minhash_lsh_matches_exact_jaccard(spark, docs):
    """The LSH pipeline must find exactly the pairs the exact operator
    finds at this threshold (recall ~1 by banding math)."""
    exact = {(r.da, r.db) for r in dedup.jaccard_pairs(docs, k=8, threshold=0.8).collect()}
    lsh = {(r.da, r.db) for r in dedup.minhash_near_dup_pairs(docs, k=8, threshold=0.8).collect()}
    assert lsh == exact
    assert exact, "testdata should contain planted near-dups"


def test_joint_profile_equals_single_purpose_profiles(spark, docs):
    """joint_shingle_profile's columns must be value-identical to the
    two single-purpose profiles it fuses (same formulas over the same
    shingle hashes in one group-by) — the guarantee that lets the
    MinHash build and the containment probe share one corpus scan
    without either oracle changing."""
    joint = {r.doc_id: r for r in dedup.joint_shingle_profile(docs, k=8).collect()}
    mh = {r.doc_id: r for r in dedup.minhash_profile(docs, k=8).collect()}
    cm = {r.doc_id: r for r in dedup.containment_argmin_profile(docs, k=8).collect()}
    assert joint.keys() == mh.keys() == cm.keys()
    for d, j in joint.items():
        assert j.sig == mh[d].sig
        assert j.argmins == cm[d].argmins
        assert sorted(j.shingles) == sorted(mh[d].shingles) == sorted(cm[d].shingles)


def test_simhash_separates_near_dups_from_random(spark, docs):
    """Near-dup pairs must sit at much lower Hamming distance than the
    average random pair. (With the testdata's tiny vocabulary the per-bit
    sign-sums are small, so even near-dups land at Hamming ~4-15 — the
    discriminative signal, not an absolute <=3 bound, is the contract.)"""
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    jac = [(r.da, r.db) for r in dedup.jaccard_pairs(docs, k=8, threshold=0.9).collect()]
    assert jac, "testdata should contain planted near-dups"
    near = sum(hamming(sh[a], sh[b]) for a, b in jac) / len(jac)
    ids = sorted(sh)[:60]
    rand_pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
    rand = sum(hamming(sh[a], sh[b]) for a, b in rand_pairs) / len(rand_pairs)
    assert near < rand * 0.55, f"near {near} not << random {rand}"


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 2), ("a", 1), ("b", 5)], ["Id", "v"]
    )
    got = sorted(dedup.dedup_keep_first(df, "Id").collect())
    assert [(r.Id, r.v) for r in got] == [("a", 1), ("b", 5)]
    # no key column -> passthrough
    df2 = spark.createDataFrame([(1,), (1,)], ["x"])
    assert dedup.dedup_keep_first(df2, "Id").count() == 2


def test_srp_topk_recall(spark, emb):
    """SRP-LSH top-10 should recover most of the exact top-10."""
    qids = [1, 7, 42]
    exact = similarity.cosine_topk(emb, qids, k=10).collect()
    approx = similarity.srp_topk(emb, qids, k=10).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"SRP recall too low: {recall}"


def test_ivf_topk_recall_and_determinism(spark, emb):
    """IVF probe of half the lists recovers most exact neighbors on the
    near-orthogonal testdata (0.87 measured; bound leaves margin), and
    the whole index build + search is deterministic run-to-run."""
    qids = [1, 7, 42]
    exact = similarity.cosine_topk(emb, qids, k=10).collect()
    approx = similarity.ivf_topk(emb, qids, k=10, nlist=16, nprobe=8).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"IVF recall too low: {recall}"
    again = similarity.ivf_topk(emb, qids, k=10, nlist=16, nprobe=8).collect()
    assert approx == again


def test_ivf_assign_covers_corpus(spark, emb):
    """Every vector lands in exactly one inverted list, and probing ALL
    lists makes IVF exact (candidate set == corpus)."""
    cents = similarity.train_ivf_centroids(emb, nlist=8)
    assigned = similarity.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
    n_lists = assigned.select("list_id").distinct().count()
    assert 1 <= n_lists <= 8
    qids = [1, 7]
    exact = similarity.cosine_topk(emb, qids, k=5).collect()
    full_probe = similarity.ivf_topk(emb, qids, k=5, nlist=8, nprobe=8).collect()
    assert {(r.query_id, r.neighbor_id) for r in exact} == {
        (r.query_id, r.neighbor_id) for r in full_probe
    }


def test_cosine_self_similarity(spark, emb):
    one = emb.limit(1)
    row = one.select(
        similarity.qcos(F.col("embedding"), F.col("embedding")).alias("q")
    ).collect()[0]
    assert row.q == 1_000_000  # floor(1.0 * 1e6)


def test_lang_id_marker_logic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the hat is", "en"),
            (2, "der hund und die katze ist", "de"),
            (3, "xyzzy plugh", "zz"),
        ],
        ["doc_id", "text", "lang"],
    )
    got = {r.doc_id: r.lang_guess for r in text.lang_id(df).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "unknown"


def test_quality_score_bounds(spark, docs):
    rows = text.quality_score(docs).collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in rows)
    assert all(r.n_tokens > 0 for r in rows)


def test_numpy_topk_matches_expression_topk(spark, emb):
    qids = [1, 7, 42]
    expr_res = similarity.cosine_topk(emb, qids, k=10).collect()
    np_res = similarity.cosine_topk_np(emb, qids, k=10).collect()
    e = {(r.query_id, r.neighbor_id, r.rnk) for r in expr_res}
    n = {(r.query_id, r.neighbor_id, r.rnk) for r in np_res}
    assert e == n


def test_connected_components_matches_union_find(spark, docs):
    pairs = dedup.minhash_near_dup_pairs(docs, k=8, threshold=0.8)
    edges = [(r.da, r.db) for r in pairs.collect()]
    assert edges
    got = {
        r.doc_id: r.component
        for r in dedup.connected_components(pairs.select("da", "db")).collect()
    }

    # driver-side union-find ground truth
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}
    assert got == expected


def test_connected_components_chain(spark):
    # a chain 1-2-3-4 plus an isolated pair 10-11: diameter > 1 exercises
    # multi-iteration propagation
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["da", "db"]
    )
    got = {r.doc_id: r.component for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_short_and_empty_docs_produce_no_shingles(spark):
    """Docs shorter than k must contribute ZERO shingles (Spark's
    sequence(1, 0) is a descending [1, 0], not empty — the guarded
    generator must not emit the whole short text / '' as a shingle),
    matching DuckDB's empty generate_series(1, 0). Regression: short
    docs previously all shared the '' shingle and reported J=1.0."""
    docs = spark.createDataFrame(
        [
            (1, "hi"),          # shorter than k=8
            (2, "yo"),          # shorter than k=8
            (3, ""),            # empty
            (4, "   \t  "),     # whitespace-only (normalizes to '')
            (5, "a perfectly long document body"),
            (6, "a perfectly long document body"),
        ],
        ["doc_id", "text"],
    )
    sets = {r.doc_id: r.shingles for r in dedup.shingle_sets(docs, k=8).collect()}
    for d in (1, 2, 3, 4):
        assert sets[d] == [], f"doc {d} should have no shingles, got {sets[d]}"
    assert len(sets[5]) > 0

    exploded = dedup.char_shingles(docs, k=8).collect()
    assert {r.doc_id for r in exploded} == {5, 6}
    hashed = dedup.char_shingle_hashes(docs, k=8).collect()
    assert {r.doc_id for r in hashed} == {5, 6}

    # Jaccard must not report the short docs as J=1.0 pairs; the long
    # identical pair is the only true near-dup.
    pairs = {(r.da, r.db) for r in dedup.jaccard_pairs(docs, k=8, threshold=0.8).collect()}
    assert pairs == {(5, 6)}
    lsh = {(r.da, r.db) for r in dedup.minhash_near_dup_pairs(docs, k=8, threshold=0.8).collect()}
    assert lsh == {(5, 6)}


def test_connected_components_raises_on_non_convergence(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["da", "db"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iterations=1)


def test_connected_components_long_chain_log_convergence(spark):
    """Pointer jumping: a 100-node chain converges within the default
    budget (O(log n) rounds, not O(n))."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 100)], ["da", "db"]
    )
    got = {r.doc_id: r.component for r in dedup.connected_components(edges, max_iterations=12).collect()}
    assert set(got.values()) == {1}
    assert len(got) == 100


def test_ivf_index_lifecycle_prunes_partitions(spark, emb, tmp_path):
    """build_ivf_index persists inverted lists partitioned by list_id;
    probe_ivf must read ONLY the probed partitions (partition pruning),
    and its results must equal the one-shot ivf_topk (same seed)."""
    index_dir = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, index_dir, nlist=16)

    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    out = similarity.probe_ivf(spark, index_dir, qvecs, k=10, nprobe=4)

    # pruning: the filtered scan only lists files under probed list_id dirs
    cents = similarity.load_ivf_centroids(spark, index_dir)
    import numpy as np

    probed = set()
    for _, vec in qvecs:
        qv = np.array(vec, dtype=np.float64)
        sims = (qv / np.linalg.norm(qv)) @ cents.T
        probed |= {int(l) for l in np.argsort(-sims)[:4]}
    scan = spark.read.parquet(f"{index_dir}/lists").filter(
        F.col("list_id").isin(sorted(probed))
    )
    assert len(probed) < 16, "probe should not touch every list"
    # inputFiles() reflects the unpruned relation; pruning shows up as a
    # PartitionFilters entry on the physical scan node.
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scan.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "list_id" in plan, plan
    # and semantically: only probed lists come back
    got_lists = {r.list_id for r in scan.select("list_id").distinct().collect()}
    assert got_lists <= probed

    # equivalence with the one-shot pipeline (identical trained centroids)
    oneshot = similarity.ivf_topk(emb, [1, 7, 42], k=10, nlist=16, nprobe=4)
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in oneshot.collect()]


def test_ivf_rebuild_is_snapshot_isolated(spark, emb, tmp_path):
    """rebuild_ivf_index publishes a retrained snapshot under the same
    CURRENT-pointer commit as minhash compaction: a probe plan resolved
    against the flat build keeps returning its rows across the publish,
    a fresh probe reads the rebuilt index and equals a from-scratch
    build with the same seed, and the second rebuild retires the flat
    layout while retaining the previous version."""
    import os

    index_dir = str(tmp_path / "ivf")
    cents0 = similarity.build_ivf_index(emb, index_dir, nlist=16, iters=0)
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    pre_plan = similarity.probe_ivf(
        spark, index_dir, qvecs, k=10, nprobe=4, centroids=cents0
    )
    expected = [tuple(r) for r in pre_plan.collect()]

    cents1 = similarity.rebuild_ivf_index(emb, index_dir, nlist=16, iters=2)
    # pre-publish plan still reads its resolved (flat) snapshot
    assert [tuple(r) for r in pre_plan.collect()] == expected
    assert open(os.path.join(index_dir, "CURRENT")).read().strip() == "v1"
    # freshly resolved reads see the retrained snapshot
    assert (similarity.load_ivf_centroids(spark, index_dir) == cents1).all()
    fresh = similarity.probe_ivf(
        spark, index_dir, qvecs, k=10, nprobe=4, centroids=cents1
    )
    ref_dir = str(tmp_path / "ivf_ref")
    similarity.build_ivf_index(emb, ref_dir, nlist=16, iters=2)
    ref = similarity.probe_ivf(spark, ref_dir, qvecs, k=10, nprobe=4, centroids=cents1)
    assert [tuple(r) for r in fresh.collect()] == [tuple(r) for r in ref.collect()]

    similarity.rebuild_ivf_index(emb, index_dir, nlist=16, iters=0)
    assert open(os.path.join(index_dir, "CURRENT")).read().strip() == "v2"
    assert os.path.isdir(os.path.join(index_dir, "versions", "v1", "lists"))
    assert not os.path.exists(os.path.join(index_dir, "lists"))

    # a FULL build supersedes the versioned history (pointer + versions
    # removed), else the fresh flat layout would be shadowed
    cents_fresh = similarity.build_ivf_index(emb, index_dir, nlist=16, iters=0)
    assert not os.path.exists(os.path.join(index_dir, "CURRENT"))
    assert not os.path.exists(os.path.join(index_dir, "versions"))
    assert index_component_path(index_dir, "lists") == os.path.join(
        index_dir, "lists"
    )
    assert (similarity.load_ivf_centroids(spark, index_dir) == cents_fresh).all()


def test_torn_inplace_ivf_rebuild_fails_loudly(spark, emb, tmp_path, monkeypatch):
    """build_ivf_index over an existing index resets the tier and drops
    the centroids before it writes: a rebuild torn before its commit
    row leaves no centroids, so the probe surfaces raise instead of
    reconciling the new lists against the old commit id (zero rows)."""
    from pyspark.errors import AnalysisException

    index_dir = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, index_dir, nlist=16, iters=0)
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    assert similarity.probe_ivf(spark, index_dir, qvecs).count() > 0

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the commit row")

    monkeypatch.setattr(index_store, "commit_batch", crash)
    with pytest.raises(RuntimeError, match="commit row"):
        similarity.build_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), index_dir, nlist=16, iters=0
        )
    with pytest.raises(AnalysisException):
        similarity.probe_ivf(spark, index_dir, qvecs).collect()
    with pytest.raises(AnalysisException):
        similarity.load_ivf_centroids(spark, index_dir)
    with pytest.raises(AnalysisException):
        similarity.ivf_list_stats(spark, index_dir).collect()


def test_ivf_probe_contract_verifier(spark, emb, tmp_path):
    """ann_ivf_probe's oracle contract: probe_ivf_exact_within_lists is
    an independent recomputation (vectors from the SOURCE table, index
    used only for candidate membership) that must positionally equal
    probe_ivf — and must DIVERGE when the index's embedding copies go
    stale, which is exactly the failure class the contract booleans
    exist to catch."""
    index_dir = str(tmp_path / "ivf")
    cents = similarity.build_ivf_index(emb, index_dir, nlist=16)
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    probed = similarity.probe_ivf(
        spark, index_dir, qvecs, k=10, nprobe=4, centroids=cents
    )
    exact = similarity.probe_ivf_exact_within_lists(
        spark, index_dir, emb, qvecs, k=10, nprobe=4, centroids=cents
    )
    assert [tuple(r) for r in probed.collect()] == [tuple(r) for r in exact.collect()]

    # Negative: corrupt the source the verifier re-joins against (the
    # moral equivalent of a stale index copy, from the other side) and
    # the positional equality must break for at least one hit.
    drifted = emb.withColumn(
        "embedding",
        F.transform("embedding", lambda x: x + (F.col("vec_id") % 7).cast("float")),
    )
    drift_exact = similarity.probe_ivf_exact_within_lists(
        spark, index_dir, drifted, qvecs, k=10, nprobe=4, centroids=cents
    )
    assert [tuple(r) for r in probed.collect()] != [
        tuple(r) for r in drift_exact.collect()
    ]


def test_banded_near_dup_equals_brute_force_with_pruning(spark, emb):
    """On a corpus with planted high-cosine twins, the SRP-banded
    threshold-pairs operator must (a) return exactly the brute-force
    result and (b) generate far fewer candidates than all-pairs."""
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    twins = base.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.02)).alias("embedding"),
    )
    corpus = base.unionByName(twins).cache()
    n = corpus.count()

    brute = {
        (r.va, r.vb, r.qcos)
        for r in similarity.embedding_near_dup_pairs(corpus, threshold=0.95).collect()
    }
    banded = {
        (r.va, r.vb, r.qcos)
        for r in similarity.embedding_near_dup_banded(corpus, threshold=0.95).collect()
    }
    assert banded == brute
    assert brute, "twin corpus must contain planted near-dups"

    n_cand = similarity.srp_candidate_pairs(corpus).count()
    all_pairs = n * (n - 1) // 2
    assert n_cand < all_pairs * 0.25, f"{n_cand} candidates of {all_pairs} pairs"
    corpus.unpersist()


def test_pack_documents_invariants(spark, docs):
    """Greedy packer: every doc assigned exactly once; no pack exceeds
    capacity except single over-length docs; deterministic."""
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    capacity = 512
    out = corpus.pack_documents(docs, capacity=capacity, n_groups=8).collect()
    n_docs = docs.count()
    assert len(out) == n_docs
    assert len({r.doc_id for r in out}) == n_docs

    from collections import defaultdict

    packs = defaultdict(list)
    for r in out:
        packs[(r.pack_group, r.pack_seq)].append(r.n_tokens)
    for members in packs.values():
        if len(members) > 1:
            assert sum(members) <= capacity
        else:
            assert members[0] <= capacity or True  # over-length doc alone is legal
    multi = [m for m in packs.values() if len(m) > 1]
    assert multi, "testdata docs should co-pack at this capacity"

    again = corpus.pack_documents(docs, capacity=capacity, n_groups=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_e2e_curation_packs_within_split(spark, docs):
    """No pack may span train/val/test: a context window that mixes
    splits leaks held-out text into training. Split must therefore be
    part of the packing key, not a post-pack tag."""
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    out = corpus.e2e_curation(docs, capacity=512).collect()
    assert out, "curation pipeline must keep some survivors"
    assert {r.split for r in out} >= {"train", "test"}, "both sides populated"
    # Pack identity is (split, pack_group, pack_seq): capacity must hold
    # per split-local pack. The OLD (leaky) identity (pack_group,
    # pack_seq) must NOT be a valid pack id — the same coordinates
    # appear in more than one split, proving pack_seq restarts per
    # split rather than numbering one shared cross-split pack stream.
    per_pack: dict[tuple, list] = {}
    coords_splits: dict[tuple, set] = {}
    for r in out:
        per_pack.setdefault((r.split, r.pack_group, r.pack_seq), []).append(r.n_tokens)
        coords_splits.setdefault((r.pack_group, r.pack_seq), set()).add(r.split)
    for members in per_pack.values():
        if len(members) > 1:
            assert sum(members) <= 512
    assert any(len(s) > 1 for s in coords_splits.values())

    # extra_keys must also flow through pack_documents standalone:
    # pack identity becomes (split, pack_group, pack_seq), every doc
    # packed exactly once, capacity still respected per pack.
    tagged = docs.withColumn(
        "split", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b")
    )
    packed = corpus.pack_documents(
        tagged, capacity=512, n_groups=4, extra_keys=("split",)
    ).collect()
    assert len(packed) == docs.count()
    assert len({r.doc_id for r in packed}) == len(packed)
    sizes: dict[tuple, list] = {}
    for r in packed:
        sizes.setdefault((r.split, r.pack_group, r.pack_seq), []).append(r.n_tokens)
    for members in sizes.values():
        if len(members) > 1:
            assert sum(members) <= 512


def test_hash_split_stability_and_proportions(spark, docs):
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    sp = {r.doc_id: r.split for r in corpus.hash_split(docs).collect()}
    # growing the corpus must not reassign existing docs
    subset = docs.limit(100)
    sp_sub = {r.doc_id: r.split for r in corpus.hash_split(subset).collect()}
    assert all(sp[d] == s for d, s in sp_sub.items())
    # rough proportions at n=500 (md5 buckets: train ~90%)
    from collections import Counter

    c = Counter(sp.values())
    assert c["train"] > 0.8 * len(sp)
    assert set(c) <= {"train", "val", "test"}


def test_pii_scan_detects_and_redacts(spark):
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    docs = spark.createDataFrame(
        [(10, "hello world"), (3, "no pii here")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in corpus.pii_scan(corpus.with_synthetic_pii(docs)).collect()}
    assert out[10].n_emails == 1 and out[10].n_phones == 1
    assert "<EMAIL>" in out[10].redacted and "<PHONE>" in out[10].redacted
    assert "@" not in out[10].redacted
    assert out[3].n_emails == 0 and out[3].redacted == "no pii here"


def test_training_manifest_consistency(spark, docs):
    """The manifest must agree with its constituent operators: survivors
    are exact-dup canonicals, every row passes the quality threshold,
    splits match hash_split."""
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    rows = corpus.training_manifest(docs, min_quality=0.5).collect()
    assert rows
    ids = {r.doc_id for r in rows}
    assert len(ids) == len(rows)
    assert all(r.quality_score >= 0.5 for r in rows)

    # no two manifest docs share a fingerprint
    fps = {
        r.doc_id: r.fingerprint
        for r in docs.select(
            "doc_id", F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))).alias("fingerprint")
        ).collect()
    }
    manifest_fps = [fps[i] for i in ids]
    assert len(manifest_fps) == len(set(manifest_fps))

    splits = {r.doc_id: r.split for r in corpus.hash_split(docs).collect()}
    assert all(splits[r.doc_id] == r.split for r in rows)


def test_bpe_token_estimate_bounds(spark, docs):
    """Pre-tokenizer pieces never span whitespace and consume at most
    one leading space, so every whitespace token yields >= 1 piece:
    n_bpe >= n_ws on any doc with visible content. chars_per_bpe_token
    stays within [1, len(text)]."""
    rows = text.bpe_token_estimate(docs).collect()
    assert rows
    for r in rows:
        assert r.n_bpe_tokens >= r.n_ws_tokens >= 1
        if r.n_bpe_tokens:
            assert r.chars_per_bpe_token >= 1.0


def test_cluster_balanced_sample_contract(spark, emb):
    """The balanced sample picks <= n vectors per cluster, each actually
    assigned to that cluster, ranked by md5 — deterministic across
    runs."""
    cents = similarity.train_ivf_centroids(emb, nlist=8, iters=0)
    sample = similarity.cluster_balanced_sample(emb, cents, n_per_cluster=5)
    rows = sample.collect()
    assigned = {
        r.vec_id: r.list_id
        for r in similarity.ivf_assign(emb, cents).select("vec_id", "list_id").collect()
    }
    per_cluster = {}
    for r in rows:
        per_cluster.setdefault(r.list_id, []).append(r.rk)
        assert assigned[r.vec_id] == r.list_id
    for rks in per_cluster.values():
        assert rks == list(range(1, len(rks) + 1)) and len(rks) <= 5
    again = similarity.cluster_balanced_sample(emb, cents, n_per_cluster=5).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_semdedup_prunes_planted_duplicates_and_conserves_counts(spark, emb):
    """SemDeDup keep rule: an exact-duplicate vector pair lands in the
    same cluster and exactly one member survives; totals conserve
    (kept + pruned = cluster size, clusters cover the corpus); the
    report is deterministic across runs."""
    dup = [1.0, 0.0, 0.0, 0.0]
    tiny = spark.createDataFrame(
        [
            (1, dup),
            (2, dup),  # exact duplicate of 1 -> same cluster, one pruned
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0]),
            (5, [0.0, 0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    cents = similarity.train_ivf_centroids(tiny, nlist=2, iters=0)
    report = similarity.semdedup_prune(tiny, cents, threshold=0.9).collect()
    assert sum(r.n_vectors for r in report) == 5
    assert all(r.n_kept + r.n_pruned == r.n_vectors for r in report)
    # orthogonal vectors never clear a 0.9 threshold, so exactly the one
    # duplicate is pruned corpus-wide
    assert sum(r.n_pruned for r in report) == 1

    cents8 = similarity.train_ivf_centroids(emb, nlist=8, iters=0)
    once = similarity.semdedup_prune(emb, cents8, threshold=0.3).collect()
    again = similarity.semdedup_prune(emb, cents8, threshold=0.3).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, again))
    assert sum(r.n_vectors for r in once) == emb.count()


def test_bloom_snapshot_probe_never_false_negative(spark):
    """Bloom contract: every true duplicate is maybe_dup (no false
    negatives) at ANY geometry, including a saturated 8-bit filter;
    counts partition the incoming batch."""
    prior = spark.createDataFrame(
        [(i, f"prior document number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        # 5 exact dups of prior docs + 5 new docs
        [(100 + i, f"prior document number {i}") for i in range(5)]
        + [(200 + i, f"brand new content {i}") for i in range(5)],
        "doc_id long, text string",
    )
    for m, k in [(1024, 2), (8, 2), (64, 4)]:
        r = dedup.bloom_snapshot_probe(prior, incoming, m=m, k=k).collect()[0]
        assert r.n_incoming == 10
        assert r.n_maybe_dup + r.n_definite_new == r.n_incoming
        assert r.n_true_dup == 5
        assert r.n_maybe_dup == r.n_true_dup + r.n_false_positive
        assert r.n_bits_set <= m


def test_containment_catches_subset_docs_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: J ~ |A|/|B| is small
    but containment C(a in b) = 1 — the directional detector must flag
    it at a threshold where symmetric Jaccard stays silent."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " " + " ".join(f"filler{i:03d} pad{i:03d}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated content here xyz")],
        "doc_id long, text string",
    )
    pairs = {
        (r.da, r.db): (r.c_a_in_b, r.c_b_in_a)
        for r in dedup.containment_pairs(docs, k=8, threshold=0.9).collect()
    }
    assert (1, 2) in pairs
    c_ab, c_ba = pairs[(1, 2)]
    assert c_ab == 1.0 and c_ba < 0.3
    j = {(r.da, r.db) for r in dedup.jaccard_pairs(docs, k=8, threshold=0.9).collect()}
    assert (1, 2) not in j, "Jaccard must miss the subset pair at 0.9"


def test_weighted_sample_prefers_heavy_docs_and_is_deterministic(spark):
    """Efraimidis–Spirakis: a doc with overwhelming weight must be
    drawn; reruns are bit-identical; output is exactly k rows."""
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    rows = [(i, "tok " * 5) for i in range(200)] + [(999, "tok " * 100_000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus.weighted_sample(docs, k=10).collect()
    assert len(out) == 10
    assert 999 in {r.doc_id for r in out}
    again = corpus.weighted_sample(docs, k=10).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_common_ngrams_counts_documents_not_occurrences(spark):
    """A phrase repeated 50x inside ONE doc is repetition, not
    boilerplate: its document frequency is 1 and must not outrank a
    phrase shared by two docs."""
    from salesforce_prefect_etl_pipeline_spark.operators import text as text_ops

    spam = ("one two three four five " * 50).strip()
    shared = "lorem ipsum dolor sit amet"
    docs = spark.createDataFrame(
        [
            (1, spam),
            (2, f"prefix {shared} suffix words here now"),
            (3, f"other {shared} tail tokens go here"),
        ],
        "doc_id long, text string",
    )
    out = {r.gram: r.n_docs for r in text_ops.common_ngrams(docs, n=5, min_docs=2).collect()}
    assert out.get(shared) == 2
    assert "one two three four five" not in out


def test_pq_lloyds_improves_reconstruction_error(spark, emb):
    """iters>0 Lloyd's refinement must not worsen total quantized
    reconstruction error vs the md5-seeded iters=0 codebooks, and codes
    must stay in [0, codes)."""
    seed_books = similarity.train_pq_codebooks(emb, m=4, codes=16, iters=0)
    lloyd_books = similarity.train_pq_codebooks(emb, m=4, codes=16, iters=5)
    err0 = (
        similarity.pq_encode(emb, seed_books)
        .agg(F.sum("qerr").alias("e"))
        .collect()[0]
        .e
    )
    err5 = (
        similarity.pq_encode(emb, lloyd_books)
        .agg(F.sum("qerr").alias("e"))
        .collect()[0]
        .e
    )
    assert err5 <= err0
    codes = similarity.pq_encode(emb, lloyd_books).collect()
    for r in codes:
        for s in range(4):
            assert 0 <= r[f"code_{s}"] < 16
    # the replayable seed path refuses to sample, like IVF
    with pytest.raises(ValueError, match="max_sample"):
        similarity.train_pq_codebooks(emb, iters=0, max_sample=10)


def test_pq_adc_recall_and_lloyds_gain(spark, emb):
    """ADC search over PQ codes: near-orthogonal random embeddings are
    PQ's documented worst case, so the contract is (a) a candidate set
    5x the target recovers a useful fraction of the exact top-10
    (measured 0.44 seed / 0.60 Lloyd's; bounds leave margin), (b)
    Lloyd's-refined codebooks never recall fewer than the raw seeds,
    (c) the search is deterministic."""
    qids = [1, 7, 42]
    exact = {(r.query_id, r.neighbor_id) for r in similarity.cosine_topk(emb, qids, k=10).collect()}
    seed_books = similarity.train_pq_codebooks(emb, iters=0)
    lloyd_books = similarity.train_pq_codebooks(emb, iters=5)

    def recall(books, k):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.pq_topk(emb, books, qids, k=k).collect()
        }
        return len(exact & got) / len(exact)

    r_seed, r_lloyd = recall(seed_books, 50), recall(lloyd_books, 50)
    assert r_seed >= 0.25, r_seed
    assert r_lloyd >= r_seed - 0.1, (r_lloyd, r_seed)
    a = similarity.pq_topk(emb, seed_books, qids, k=10).collect()
    b = similarity.pq_topk(emb, seed_books, qids, k=10).collect()
    assert a == b


def test_seed_quantizer_refuses_to_sample(spark, emb):
    """iters=0 is the SQL-replayable seed quantizer: its oracle seeds
    from ALL vectors, so triggering the xxhash64 sampling predicate
    (n > max_sample) must raise instead of silently diverging from
    every replay. The Lloyd's path (iters>0) may still sample."""
    with pytest.raises(ValueError, match="max_sample"):
        similarity.train_ivf_centroids(emb, nlist=8, iters=0, max_sample=10)
    cents = similarity.train_ivf_centroids(emb, nlist=8, iters=2, max_sample=10)
    assert cents.shape[0] == 8


def test_chunk_fingerprints_cdc_contract(spark):
    """The content-defined property: inserting text near the front must
    leave the chunks after the edit region identical (same md5 multiset
    suffix), which offset-based fixed-size chunking cannot do. Chunks
    must also tile the document exactly."""
    # varied (non-periodic) content: a periodic string can cycle through
    # a handful of window hashes and legitimately never hit the boundary
    # residue, yielding one whole-doc chunk
    base = " ".join(f"tok{(i * i) % 1000}" for i in range(250))
    edited = "INSERTED PREFIX! " + base
    docs = spark.createDataFrame(
        [(0, base), (1, edited)], "doc_id long, text string"
    )
    rows = text.chunk_fingerprints(docs).collect()
    by_doc = {0: [], 1: []}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc[r.doc_id].append(r)
    for d, text_val in [(0, base), (1, edited)]:
        chunks = by_doc[d]
        assert chunks[0].chunk_start == 1
        assert sum(c.chunk_len for c in chunks) == len(text_val)
        for a, b in zip(chunks, chunks[1:]):
            assert b.chunk_start == a.chunk_start + a.chunk_len
    h0 = [c.chunk_md5 for c in by_doc[0]]
    h1 = [c.chunk_md5 for c in by_doc[1]]
    # all but the first few edited-region chunks are shared
    shared = set(h0) & set(h1)
    assert len(shared) >= len(h0) - 2 and len(h0) > 5


def test_cms_never_underestimates(spark):
    """Count-min property: every estimate >= the true count (collisions
    only ever ADD), and with 4x1024 cells over a tiny vocabulary the
    top tokens' estimates are exact."""
    from salesforce_prefect_etl_pipeline_spark.operators import text

    docs = spark.createDataFrame(
        [(i, ("alpha " * (i % 5 + 1) + f"w{i % 7} beta").strip()) for i in range(50)],
        "doc_id long, text string",
    )
    rows = text.cms_top_token_estimates(docs, k=10).collect()
    assert rows, "no estimates returned"
    for r in rows:
        assert r.est_freq >= r.freq, (r.term, r.est_freq, r.freq)
    # 'alpha' and 'beta' dominate; their counts must be exact here
    by_term = {r.term: r for r in rows}
    assert by_term["beta"].est_freq == by_term["beta"].freq == 50


def test_incremental_probe_matches_batch_cross_pairs(spark, docs, tmp_path):
    """Probing an increment against the persisted corpus index must
    find exactly the cross-split pairs the one-shot batch pipeline
    finds over the union — nothing lost by splitting the computation
    into offline index + online probe."""
    from salesforce_prefect_etl_pipeline_spark.operators import corpus as corpus_ops

    bucket = corpus_ops.split_bucket(F.col("doc_id"))
    corpus_side = docs.filter(bucket < 80)
    increment = docs.filter(bucket >= 80)
    index_dir = str(tmp_path / "mh_index")
    dedup.build_minhash_index(corpus_side, index_dir, k=8)
    probed = {
        (r.da, r.db): r.jaccard
        for r in dedup.probe_minhash_index(
            spark, index_dir, increment, k=8, threshold=0.8
        ).collect()
    }
    full = dedup.minhash_near_dup_pairs(docs, k=8, threshold=0.8).collect()
    side = {
        r.doc_id: r.b
        for r in docs.select("doc_id", (bucket < 80).alias("b")).collect()
    }
    expected = {
        (r.da, r.db): r.jaccard for r in full if side[r.da] != side[r.db]
    }
    assert probed == expected
    assert probed, "split must straddle some planted near-dup pairs"

    # the bands table is laid out for key skipping: partitioned by band
    import pathlib

    band_dirs = list(pathlib.Path(index_dir, "bands").glob("band=*"))
    assert len(band_dirs) == 16


def test_banded_hamming_guard_rejects_unsound_threshold(spark, docs):
    """4-band pigeonhole is only exact at Hamming <= 3: asking for 4
    must raise, not silently lose recall."""
    with pytest.raises(ValueError, match="only exact"):
        dedup.simhash_near_dup_pairs(docs, max_hamming=4)


def test_multimodal_gate_funnel_invariants(spark):
    """The curation funnel chains: each stage's n_in equals the
    previous stage's n_out, counts never grow, and the first stage
    starts from the full corpus."""
    from salesforce_prefect_etl_pipeline_spark.queries_llm import (
        _corpus_multimodal_gate,
    )

    rows = _corpus_multimodal_gate(spark, SF_SMALL).collect()
    assert [r.stage for r in rows] == [
        "text_gate", "exact_dedup", "video_prune", "audio_prune",
    ]
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    assert rows[0].n_in == n_docs
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_in == prev.n_out
    for r in rows:
        assert 0 <= r.n_out <= r.n_in and r.n_dropped == r.n_in - r.n_out


def test_pq_adc_plan_size_independent_of_codebook_geometry(spark, emb):
    """The per-query ADC lookup tables must ride a BROADCAST relation,
    not plan literals: a literal encoding is m*codes expression nodes
    per query (4096 at production 16x256 geometry) and the plan itself
    becomes the bottleneck before any data moves. Growing the codebook
    16x (same m) must leave the optimized plan size flat, and the
    production geometry must actually execute."""
    import numpy as np

    qids = [1, 7]
    rng = np.random.default_rng(0)

    def plan_len(m, codes):
        books = rng.normal(size=(m, codes, 64 // m))
        df = similarity.pq_topk(emb, books, qids, k=5)
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    small, big = plan_len(4, 16), plan_len(4, 256)
    assert big <= small * 1.2, (small, big)
    prod = similarity.pq_topk(
        emb, rng.normal(size=(16, 256, 4)), qids, k=5
    )
    got = prod.collect()
    assert len(got) == 2 * 5 and all(r.qdist >= 0 for r in got)


def test_containment_lsh_matches_exact_kernel_on_planted_quotes(spark):
    """One-sided LSH differential vs the exact quadratic kernel: on a
    corpus of planted quote pairs (short doc verbatim inside a long
    one, J ~ 0) plus decoys, the LSH path must return the exact
    kernel's pairs with identical containment values, and its candidate
    count must be far below the quadratic pair count."""
    base = [
        " ".join(f"tok{d:02d}w{i:03d}" for i in range(12)) for d in range(20)
    ]
    rows = []
    for d, short in enumerate(base):
        rows.append((2 * d, short))
        # even d: the short doc is quoted inside a long host; odd d: the
        # host is unrelated (decoy, no containment)
        filler = " ".join(f"host{d:02d}f{i:03d}" for i in range(60))
        host = short + " " + filler if d % 2 == 0 else filler
        rows.append((2 * d + 1, host))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.da, r.db): (r.c_a_in_b, r.c_b_in_a)
        for r in dedup.containment_pairs(docs, k=8, threshold=0.8).collect()
    }
    lsh = {
        (r.da, r.db): (r.c_a_in_b, r.c_b_in_a)
        for r in dedup.containment_lsh_pairs(docs, k=8, threshold=0.8).collect()
    }
    assert lsh == exact
    assert {(2 * d, 2 * d + 1) for d in range(0, 20, 2)} <= set(exact)
    # candidate prefilter does real work: directed candidates << n^2/2
    prof = dedup.containment_argmin_profile(docs, k=8)
    probes = prof.select(
        F.col("doc_id").alias("pa"),
        (F.explode("argmins").alias("packed")),
    ).select("pa", F.col("packed").bitwiseAND(F.lit(0xFFFFFFFF)).alias("m"))
    inv = prof.select(
        F.col("doc_id").alias("pb"),
        F.explode(
            F.array_distinct(
                F.transform("shingles", lambda x: x.bitwiseAND(F.lit(0xFFFFFFFF)))
            )
        ).alias("h"),
    )
    cutoff = dedup.containment_cutoff(0.8)
    n_cand = (
        probes.join(inv, (F.col("m") == F.col("h")) & (F.col("pa") != F.col("pb")))
        .groupBy("pa", "pb")
        .count()
        .filter(F.col("count") >= cutoff)
        .count()
    )
    n_docs = docs.count()
    assert n_cand <= n_docs, (n_cand, n_docs * (n_docs - 1) // 2)


def test_containment_lsh_matches_exact_kernel_on_corpus(spark, docs):
    """Same differential on the real documents table at the exact
    kernel's registered threshold (0.5; the LSH query itself is
    registered at 0.8): the 5-sigma cutoff makes a recall miss at
    c >= 0.5 a ~3e-7 event, so exact equality is the expectation, not
    luck."""
    exact = {
        (r.da, r.db) for r in dedup.containment_pairs(docs, k=8, threshold=0.5).collect()
    }
    lsh = {
        (r.da, r.db)
        for r in dedup.containment_lsh_pairs(docs, k=8, threshold=0.5).collect()
    }
    assert lsh == exact


def test_ivf_append_equals_monolithic_build(spark, emb, tmp_path):
    """append_ivf_vectors contract: because assignment is a pure
    function of (vector, frozen centroids), an 80%-built index with
    the 20% increment APPENDED must probe identically to a monolithic
    index assigning the full corpus with the same centroids — and the
    appended lists must hold the whole corpus exactly once."""
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    corpus_side = emb.filter(corpus.split_bucket(F.col("vec_id")) < 80)
    increment = emb.filter(corpus.split_bucket(F.col("vec_id")) >= 80)
    assert corpus_side.count() > 0 and increment.count() > 0
    idx_a = str(tmp_path / "appended")
    cents = similarity.build_ivf_index(corpus_side, idx_a, nlist=16, iters=0)
    similarity.append_ivf_vectors(spark, idx_a, increment, centroids=cents)
    idx_m = str(tmp_path / "monolithic")
    similarity.ivf_assign(emb, cents).write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(f"{idx_m}/lists")
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    a = similarity.probe_ivf(spark, idx_a, qvecs, k=10, nprobe=4, centroids=cents).collect()
    m = similarity.probe_ivf(spark, idx_m, qvecs, k=10, nprobe=4, centroids=cents).collect()
    assert a == m and len(a) == 3 * 10
    assert spark.read.parquet(f"{idx_a}/lists").count() == emb.count()
    assert (
        spark.read.parquet(f"{idx_a}/lists").select("vec_id").distinct().count()
        == emb.count()
    )


def test_emb_e2e_funnel_consistent_with_semdedup_report(spark, emb):
    """The survivor-id frame must agree per cluster with the prune
    REPORT's n_kept (same pinned keep rule), and the funnel chains:
    stage 1's n_in == stage 0's n_out, counts never grow."""
    cents = similarity.train_ivf_centroids(emb, nlist=16, iters=0)
    report = similarity.semdedup_prune(emb, cents, threshold=0.3).collect()
    surv = similarity.semdedup_survivors(emb, cents, threshold=0.3)
    per_cluster = {
        r.list_id: r["count"] for r in surv.groupBy("list_id").count().collect()
    }
    for r in report:
        assert per_cluster.get(r.list_id, 0) == r.n_kept

    from salesforce_prefect_etl_pipeline_spark.queries_llm import _emb_e2e_curation

    rows = _emb_e2e_curation(spark, SF_SMALL).collect()
    assert [r.stage for r in rows] == ["semdedup", "cluster_balance"]
    assert rows[0].n_in == emb.count()
    assert rows[1].n_in == rows[0].n_out
    for r in rows:
        assert 0 <= r.n_out <= r.n_in and r.n_dropped == r.n_in - r.n_out


def test_greedy_mis_distributed_matches_sequential(spark):
    """greedy_mis_in_id_order must reproduce the sequential greedy
    acceptance exactly — on the worst-case ascending chain (evens
    survive), with pre-accepted seeds, and on the real corpus pair
    graph."""
    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import greedy_accept

    def run(ids, pairs, pre=()):
        ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        pairs_df = (
            spark.createDataFrame(list(pairs), "da long, db long")
            if pairs
            else spark.createDataFrame([], "da long, db long")
        )
        pre_df = (
            spark.createDataFrame([(i,) for i in pre], "doc_id long")
            if pre
            else None
        )
        got = {
            r.doc_id
            for r in dedup.greedy_mis_in_id_order(
                ids_df, pairs_df, pre_accepted=pre_df
            ).collect()
        }
        want = greedy_accept(list(ids), list(pairs), pre_accepted=set(pre)) - set(pre)
        assert got == want, (sorted(got), sorted(want))
        return got

    # ascending chain: evens accepted
    assert run(range(8), [(i, i + 1) for i in range(7)]) == {0, 2, 4, 6}
    # pre-accepted index doc 100 knocks out batch doc 0 regardless of order
    assert run([0, 1, 2], [(0, 100), (1, 2)], pre=[100]) == {1}
    # triangle + isolated node
    assert run([5, 6, 7, 9], [(5, 6), (6, 7), (5, 7)]) == {5, 9}


def test_greedy_mis_distributed_matches_sequential_random(spark):
    """Property check on seeded random graphs (driver-side ground
    truth) — the frontier iteration must agree with sequential greedy
    for arbitrary toplogies, not just planted shapes."""
    import random as _random

    from salesforce_prefect_etl_pipeline_spark.streaming.ingest import greedy_accept

    rng = _random.Random(7)
    for trial in range(4):
        n = rng.randint(5, 25)
        ids = list(range(n))
        pairs = sorted(
            {
                (a, b)
                for a in ids
                for b in ids
                if a < b and rng.random() < 0.15
            }
        )
        pre = [x + 1000 for x in range(rng.randint(0, 2))]
        for p in pre:
            if ids:
                pairs.append((rng.choice(ids), p))
        ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        pairs_df = (
            spark.createDataFrame(pairs, "da long, db long")
            if pairs
            else spark.createDataFrame([], "da long, db long")
        )
        pre_df = (
            spark.createDataFrame([(i,) for i in pre], "doc_id long")
            if pre
            else None
        )
        got = {
            r.doc_id
            for r in dedup.greedy_mis_in_id_order(
                ids_df, pairs_df, pre_accepted=pre_df
            ).collect()
        }
        want = greedy_accept(ids, pairs, pre_accepted=set(pre)) - set(pre)
        assert got == want, (trial, sorted(got), sorted(want))


def _torn_minhash_batch(docs, idx):
    """A MinHash index batch torn before its commit rows: both tiers'
    stamped data rows land, neither commit row does."""
    from unittest import mock

    prof = dedup.minhash_profile(docs, 8)
    with mock.patch.object(index_store, "commit_batch"):
        for tier in dedup.MINHASH:
            dedup._write_minhash_batch(prof, idx, "append", tier, "torn")


def test_build_minhash_index_signs_the_corpus_once(spark, docs, tmp_path):
    """Both MinHash tiers come from one signing pass: a row counter on
    the text the signer reads sees each document once, and the profile
    the two writes share is released when the build ends."""
    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def counted(text):
        seen.add(1)
        return text

    n_docs = docs.count()
    counted_docs = docs.withColumn("text", F.udf(counted, "string")("text"))
    persisted = set(sc._jsc.getPersistentRDDs())
    dedup.build_minhash_index(counted_docs, str(tmp_path / "idx"))
    assert seen.value == n_docs
    assert not set(sc._jsc.getPersistentRDDs()) - persisted


def test_compact_minhash_index_preserves_probes_and_drops_tombstones(spark, docs, tmp_path):
    """Compaction contract: after a torn batch doubled every index row
    on disk, compaction (1) restores the original row counts, (2) leaves
    probe results IDENTICAL, and (3) physically drops retracted docs so
    they stop appearing as index-side pair endpoints."""
    from salesforce_prefect_etl_pipeline_spark.operators.corpus import split_bucket

    idx = str(tmp_path / "idx")
    corpus_side = docs.filter(split_bucket(F.col("doc_id")) < 80)
    increment = docs.filter(split_bucket(F.col("doc_id")) >= 80)
    dedup.build_minhash_index(corpus_side, idx)
    bands0 = spark.read.parquet(f"{idx}/bands").count()
    profs0 = spark.read.parquet(f"{idx}/profiles").count()

    # a torn batch of the same corpus: stamped rows, no commit rows
    _torn_minhash_batch(corpus_side, idx)
    assert spark.read.parquet(f"{idx}/bands").count() == 2 * bands0

    before_rows = [
        (r.da, r.db, r.jaccard)
        for r in dedup.probe_minhash_index(spark, idx, increment).collect()
    ]
    # the uncommitted rows are invisible to the probe; compaction drops
    # them physically
    assert len(before_rows) == len(set(before_rows))
    before = set(before_rows)
    stats = dedup.compact_minhash_index(spark, idx)
    assert {k: stats["bands"][k] for k in ("before", "after")} == {
        "before": 2 * bands0,
        "after": bands0,
    }
    assert {k: stats["profiles"][k] for k in ("before", "after")} == {
        "before": 2 * profs0,
        "after": profs0,
    }
    after_rows = [
        (r.da, r.db, r.jaccard)
        for r in dedup.probe_minhash_index(spark, idx, increment).collect()
    ]
    assert len(after_rows) == len(set(after_rows)), "dup rows must be gone"
    assert set(after_rows) == before and before, "probes must survive compaction"

    # retract one indexed endpoint -> its pairs disappear
    first = min(before)
    victim = first[0] if first[0] not in {
        r.doc_id for r in increment.select("doc_id").collect()
    } else first[1]
    drop = spark.createDataFrame([(victim,)], "doc_id long")
    dedup.compact_minhash_index(spark, idx, drop_doc_ids=drop)
    final = sorted(
        (r.da, r.db)
        for r in dedup.probe_minhash_index(spark, idx, increment).collect()
    )
    assert all(victim not in p for p in final)
    assert final == sorted(
        (a, b) for a, b, _ in before if victim not in (a, b)
    )

    # versioned-layout invariants after the two compactions above:
    # CURRENT points at v2, v1 is retained as the previous snapshot,
    # and the superseded flat build dirs are gone
    import os

    assert open(os.path.join(idx, "CURRENT")).read().strip() == "v2"
    assert os.path.isdir(os.path.join(idx, "versions", "v2", "bands"))
    assert os.path.isdir(os.path.join(idx, "versions", "v1", "bands"))
    assert not os.path.exists(os.path.join(idx, "bands"))
    assert index_component_path(idx, "bands").endswith(
        os.path.join("versions", "v2", "bands")
    )


def test_compaction_publish_is_snapshot_isolated(spark, docs, tmp_path):
    """The pointer-file commit closes the old two-rename window: a probe
    plan RESOLVED before a compaction publishes keeps reading its
    retained snapshot and returns identical rows after the publish —
    there is no instant at which the live component is missing."""
    from salesforce_prefect_etl_pipeline_spark.operators.corpus import split_bucket

    idx = str(tmp_path / "idx")
    corpus_side = docs.filter(split_bucket(F.col("doc_id")) < 80)
    increment = docs.filter(split_bucket(F.col("doc_id")) >= 80)
    dedup.build_minhash_index(corpus_side, idx)
    _torn_minhash_batch(corpus_side, idx)

    pre_plan = dedup.probe_minhash_index(spark, idx, increment)
    expected = sorted((r.da, r.db, r.jaccard) for r in pre_plan.collect())
    dedup.compact_minhash_index(spark, idx)  # publishes v1
    # the pre-publish plan still reads the retained snapshot (the flat
    # build is the "previous" version after the first publish)
    assert sorted((r.da, r.db, r.jaccard) for r in pre_plan.collect()) == expected
    # a freshly resolved probe reads the compacted v1 and agrees on the
    # deduped pair set
    post = sorted(
        set(
            (r.da, r.db, r.jaccard)
            for r in dedup.probe_minhash_index(spark, idx, increment).collect()
        )
    )
    assert post == sorted(set(expected))
    # appends resolve into the CURRENT version after compaction
    prof = dedup.minhash_profile(increment, 8)
    for tier in dedup.MINHASH:
        dedup._write_minhash_batch(prof, idx, "append", tier, batch_id_of(prof, tier))
    import os

    assert os.path.isdir(os.path.join(idx, "versions", "v1", "bands"))
    grown = spark.read.parquet(
        index_component_path(idx, "profiles")
    ).count()
    base = corpus_side.count()
    assert grown == base + increment.count()

    # a FULL rebuild supersedes the versioned history: pointer and
    # versions/ are removed, the flat layout is live again
    dedup.build_minhash_index(corpus_side, idx)
    assert not os.path.exists(os.path.join(idx, "CURRENT"))
    assert not os.path.exists(os.path.join(idx, "versions"))
    assert index_component_path(idx, "bands") == os.path.join(idx, "bands")
    rebuilt = sorted(
        set(
            (r.da, r.db, r.jaccard)
            for r in dedup.probe_minhash_index(spark, idx, increment).collect()
        )
    )
    assert rebuilt == sorted(set(expected))


def test_centroid_cache_invalidated_by_versioned_rebuild(spark, emb, tmp_path):
    """queries_llm's centroid memo keys on (app, index_dir, resolved
    CURRENT version): a versioned rebuild republishes the index, so the
    next registered probe loads the NEW centroids instead of selecting
    lists with stale ones against the new assignments."""
    from salesforce_prefect_etl_pipeline_spark import queries_llm as q

    index_dir = str(tmp_path / "ivf")
    cents0 = similarity.build_ivf_index(emb, index_dir, nlist=16, iters=0)
    got0 = q._ivf_centroids(spark, index_dir)
    assert (got0 == cents0).all()
    cents1 = similarity.rebuild_ivf_index(emb, index_dir, nlist=16, iters=2)
    got1 = q._ivf_centroids(spark, index_dir)
    assert (got1 == cents1).all()
    assert not (got1 == cents0).all()


def test_version_retention_bounded_across_many_publishes(spark, docs, emb, tmp_path):
    """The CURRENT-pointer scheme must not grow versions/ forever: after
    N maintenance publishes, exactly {current, previous} survive for
    BOTH index families (minhash compaction and IVF rebuild), and the
    superseded flat-build dirs are gone."""
    import os

    idx = str(tmp_path / "idx")
    dedup.build_minhash_index(docs, idx)
    for _ in range(3):
        dedup.compact_minhash_index(spark, idx)
    assert open(os.path.join(idx, "CURRENT")).read().strip() == "v3"
    assert sorted(os.listdir(os.path.join(idx, "versions"))) == ["v2", "v3"]
    assert not os.path.exists(os.path.join(idx, "bands"))
    assert not os.path.exists(os.path.join(idx, "profiles"))

    ivf = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, ivf, nlist=16, iters=0)
    for _ in range(3):
        similarity.rebuild_ivf_index(emb, ivf, nlist=16, iters=0)
    assert open(os.path.join(ivf, "CURRENT")).read().strip() == "v3"
    assert sorted(os.listdir(os.path.join(ivf, "versions"))) == ["v2", "v3"]
    assert not os.path.exists(os.path.join(ivf, "lists"))
    assert not os.path.exists(os.path.join(ivf, "centroids"))


def test_concurrent_probes_during_maintenance(spark, docs, emb, tmp_path):
    """Stress the snapshot-isolation contract with genuinely concurrent
    readers: one thread probes the minhash index in a loop while the
    main thread lands two compaction publishes, then probes the IVF
    index while a versioned rebuild commits. Every probe must return
    the expected (deduplicated) result set; the retention contract
    ('a probe finishes within one maintenance cycle') is enforced by
    waiting for a full probe iteration between publishes."""
    import threading
    import time

    from salesforce_prefect_etl_pipeline_spark.operators.corpus import split_bucket

    idx = str(tmp_path / "idx")
    corpus_side = docs.filter(split_bucket(F.col("doc_id")) < 80)
    increment = docs.filter(split_bucket(F.col("doc_id")) >= 80)
    dedup.build_minhash_index(corpus_side, idx)
    # a torn batch so compaction has real work to rewrite
    _torn_minhash_batch(corpus_side, idx)
    expected = set(
        (r.da, r.db, r.jaccard)
        for r in dedup.probe_minhash_index(spark, idx, increment).collect()
    )
    assert expected

    errors: list = []
    iters = [0]
    stop = threading.Event()

    def prober():
        try:
            while not stop.is_set():
                got = set(
                    (r.da, r.db, r.jaccard)
                    for r in dedup.probe_minhash_index(
                        spark, idx, increment
                    ).collect()
                )
                assert got == expected, f"probe diverged: {got ^ expected}"
                iters[0] += 1
        except BaseException as exc:  # surface into the main thread
            errors.append(exc)

    def wait_one_full_iteration():
        # any probe started BEFORE the last publish has finished once a
        # complete new iteration lands after this point
        start = iters[0]
        deadline = time.time() + 120
        while iters[0] < start + 2 and not errors:
            assert time.time() < deadline, "prober stalled"
            time.sleep(0.05)

    t = threading.Thread(target=prober)
    t.start()
    try:
        wait_one_full_iteration()
        dedup.compact_minhash_index(spark, idx)  # publishes v1
        wait_one_full_iteration()
        dedup.compact_minhash_index(spark, idx)  # publishes v2, GCs flat
        wait_one_full_iteration()
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, errors
    assert iters[0] >= 6

    # same shape for the IVF family: probe loop across a rebuild commit
    ivf = str(tmp_path / "ivf")
    cents0 = similarity.build_ivf_index(emb, ivf, nlist=16, iters=0)
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    expected_ivf = set(
        tuple(r)
        for r in similarity.probe_ivf(
            spark, ivf, qvecs, k=10, nprobe=4, centroids=cents0
        ).collect()
    )
    errors2: list = []
    iters2 = [0]
    stop2 = threading.Event()

    def ivf_prober():
        try:
            while not stop2.is_set():
                # resolve centroids + lists freshly each iteration, as a
                # registered probe does; pre- and post-rebuild snapshots
                # use THEIR OWN matched centroids, so results are always
                # internally consistent (pairing checked by the contract
                # verifier elsewhere) — here we assert it never raises
                # and always returns the full query x k grid
                from salesforce_prefect_etl_pipeline_spark import queries_llm as q

                cents = q._ivf_centroids(spark, ivf)
                got = similarity.probe_ivf(
                    spark, ivf, qvecs, k=10, nprobe=4, centroids=cents
                ).collect()
                assert len(got) == len(qvecs) * 10
                iters2[0] += 1
        except BaseException as exc:
            errors2.append(exc)

    def wait_ivf_iteration():
        start = iters2[0]
        deadline = time.time() + 120
        while iters2[0] < start + 2 and not errors2:
            assert time.time() < deadline, "ivf prober stalled"
            time.sleep(0.05)

    t2 = threading.Thread(target=ivf_prober)
    t2.start()
    try:
        wait_ivf_iteration()
        similarity.rebuild_ivf_index(emb, ivf, nlist=16, iters=0)  # v1
        wait_ivf_iteration()
    finally:
        stop2.set()
        t2.join(timeout=120)
    assert not errors2, errors2
    # rebuild with the same quantizer reproduces the same probe rows
    from salesforce_prefect_etl_pipeline_spark import queries_llm as q

    cents1 = q._ivf_centroids(spark, ivf)
    post = set(
        tuple(r)
        for r in similarity.probe_ivf(
            spark, ivf, qvecs, k=10, nprobe=4, centroids=cents1
        ).collect()
    )
    assert post == expected_ivf


@pytest.fixture(scope="module")
def torn_read_indexes(spark, docs, emb, tmp_path_factory):
    """One index per family, each with a committed retraction, that the
    torn-read cases copy before publishing over them.

    - ``text``: BM25 over two batches, champions cut, then the champion
      probe's rank-1 documents retracted (champions not recut);
    - ``ivf``: nlist 16, iters 0, PQ codes built, then the rank-1 IVF
      and ADC neighbors of three queries retracted;
    - ``minhash``: an 80% corpus build plus a torn batch."""
    from salesforce_prefect_etl_pipeline_spark.operators import retrieval
    from salesforce_prefect_etl_pipeline_spark.operators.corpus import split_bucket

    root = tmp_path_factory.mktemp("torn_read")
    sb = split_bucket(F.col("doc_id"))
    text_idx = str(root / "text")
    retrieval.build_text_index(docs.filter(sb < 60), text_idx)
    retrieval.append_text_index(docs.filter(sb >= 60), text_idx)
    retrieval.build_champion_lists(text_idx, spark)
    top = [r.doc_id for r in retrieval.probe_champion_lists(spark, text_idx).collect()
           if r.rnk == 1]
    retrieval.retract_text_index(docs.filter(F.col("doc_id").isin(top)), text_idx)

    ivf = str(root / "ivf")
    cents = similarity.build_ivf_index(emb, ivf, nlist=16, iters=0)
    books = similarity.train_pq_codebooks(emb, m=4, codes=16, iters=0)
    similarity.build_ivfpq_codes(spark, ivf, books)
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    dead = {
        r.neighbor_id
        for probe in (similarity.probe_ivf, similarity.probe_ivfpq)
        for r in probe(spark, ivf, qvecs, centroids=cents).collect()
        if r.rnk == 1
    }
    similarity.retract_ivf_vectors(
        spark, ivf, spark.createDataFrame([(v,) for v in dead], "vec_id long")
    )

    minhash = str(root / "minhash")
    dedup.build_minhash_index(docs.filter(sb < 80), minhash)
    _torn_minhash_batch(docs.filter(sb < 80), minhash)
    return {
        "text": text_idx,
        "ivf": ivf,
        "minhash": minhash,
        "cents": cents,
        "books": books,
        "qvecs": qvecs,
        "increment": docs.filter(sb >= 80),
    }


def _torn_read_cases():
    """reader -> (family, read(spark, idx, fx), publish(spark, idx, fx)):
    the text readers under a compaction, the IVF readers under a
    rebuild over the unretracted corpus, MinHash under a compaction."""
    from salesforce_prefect_etl_pipeline_spark.operators import retrieval

    def compact_text(spark, idx, fx):
        retrieval.compact_text_index(spark, idx)

    def rebuild_ivf(spark, idx, fx):
        similarity.rebuild_ivf_index(
            load_table(spark, SF_SMALL, "embeddings"), idx, nlist=16, iters=0
        )

    def compact_minhash(spark, idx, fx):
        dedup.compact_minhash_index(spark, idx)

    return {
        "probe_text_index": (
            "text", lambda s, i, fx: retrieval.probe_text_index(s, i), compact_text
        ),
        "probe_champion_lists": (
            "text", lambda s, i, fx: retrieval.probe_champion_lists(s, i), compact_text
        ),
        "text_index_stats": (
            "text", lambda s, i, fx: retrieval.text_index_stats(s, i), compact_text
        ),
        "probe_ivf": (
            "ivf", lambda s, i, fx: similarity.probe_ivf(s, i, fx["qvecs"]), rebuild_ivf
        ),
        "probe_ivfpq": (
            "ivf",
            lambda s, i, fx: similarity.probe_ivfpq(
                s, i, fx["qvecs"], centroids=fx["cents"], codebooks=fx["books"]
            ),
            rebuild_ivf,
        ),
        "ivf_list_stats": (
            "ivf", lambda s, i, fx: similarity.ivf_list_stats(s, i), rebuild_ivf
        ),
        "probe_minhash_index": (
            "minhash",
            lambda s, i, fx: dedup.probe_minhash_index(s, i, fx["increment"]),
            compact_minhash,
        ),
    }


@pytest.mark.parametrize("reader", sorted(_torn_read_cases()))
def test_publish_after_first_resolution_keeps_the_read_on_one_version(
    spark, torn_read_indexes, tmp_path, monkeypatch, reader
):
    """A reader that resolved ``CURRENT`` keeps reading that version:
    a real publish right after the reader's first resolution leaves its
    rows equal to its rows with no publish (no retracted row comes
    back, no committed batch goes missing)."""
    import shutil

    family, read, publish = _torn_read_cases()[reader]
    fx = torn_read_indexes
    idx = str(tmp_path / family)
    shutil.copytree(fx[family], idx)
    want = [tuple(r) for r in read(spark, idx, fx).collect()]
    assert want

    real = index_store.current_index_version
    published = []

    def spy(index_dir):
        version = real(index_dir)
        if not published:
            published.append(index_dir)
            publish(spark, idx, fx)
        return version

    monkeypatch.setattr(index_store, "current_index_version", spy)
    got = [tuple(r) for r in read(spark, idx, fx).collect()]
    monkeypatch.undo()
    assert published == [idx] and real(idx) == "v1"
    assert got == want


def test_e2e_curation_profile_reuse_is_bit_identical(spark, docs):
    """Feeding e2e_curation the full-corpus joint profile (restricted to
    its own survivors internally) must yield exactly the rows of the
    self-profiling form — signatures are per-doc pure functions."""
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    base = corpus.e2e_curation(docs, capacity=512).collect()
    prof = dedup.joint_shingle_profile(docs, k=8).select(
        "doc_id", "shingles", "sig"
    )
    reused = corpus.e2e_curation(docs, capacity=512, profile=prof).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, reused))


def test_containment_strategies_are_bit_identical(spark, docs):
    """The broadcast inverted-index counting path must reproduce the
    shuffle probe-join's directed counts exactly — same candidates,
    same verified pairs, same containment values."""
    shuffle = dedup.containment_lsh_pairs(docs, strategy="shuffle").collect()
    bcast = dedup.containment_lsh_pairs(docs, strategy="broadcast").collect()
    binv = dedup.containment_lsh_pairs(docs, strategy="broadcast_inv").collect()
    assert sorted(map(tuple, shuffle)) == sorted(map(tuple, bcast))
    assert sorted(map(tuple, shuffle)) == sorted(map(tuple, binv))
    assert len(shuffle) > 0


def test_containment_auto_strategy_respects_probe_window(spark, docs, monkeypatch):
    """auto = broadcast only inside the probe-row window: tiny corpora
    stay in the JVM-codegen shuffle aggregate, oversized indexes (the
    100 TB shape) fall back to shuffle too."""

    def plan(df):
        return df._jdf.queryExecution().logical().toString()

    # the SF_SMALL corpus sits under the floor -> shuffle
    tiny = dedup.containment_lsh_pairs(docs, strategy="auto")
    assert "MapInPandas" not in plan(tiny) and "mapInPandas" not in plan(tiny)
    # widen the window to include it -> broadcast kernel
    monkeypatch.setattr(dedup, "CONTAINMENT_BROADCAST_MIN_PROBE_ROWS", 0)
    inside = dedup.containment_lsh_pairs(docs, strategy="auto")
    assert "MapInPandas" in plan(inside) or "mapInPandas" in plan(inside)
    # shrink the ceiling below it -> shuffle again (can't broadcast)
    monkeypatch.setattr(dedup, "CONTAINMENT_BROADCAST_MAX_PROBE_ROWS", 0)
    over = dedup.containment_lsh_pairs(docs, strategy="auto")
    assert "MapInPandas" not in plan(over) and "mapInPandas" not in plan(over)


def test_containment_auto_in_window_is_unconditional_broadcast(
    spark, docs, monkeypatch
):
    """The density gate is retired (r13): re-measured against the
    honest pinned shuffle, broadcast wins in-window at every density
    and pair-cardinality shape, so auto picks it unconditionally
    inside the row window and the sizing pass never runs the density
    aggregate (n_matched is always None now — one aggregate job
    in-window, two below the floor)."""
    monkeypatch.setattr(dedup, "CONTAINMENT_BROADCAST_MIN_PROBE_ROWS", 0)
    stats = dedup.containment_auto_stats(
        dedup.containment_argmin_profile(docs, 8, 64)
    )
    assert stats["strategy"] == "broadcast"
    assert stats["n_matched"] is None and stats["n_inv_rows"] is None
    # above the ceiling nothing may broadcast
    monkeypatch.setattr(dedup, "CONTAINMENT_BROADCAST_MAX_PROBE_ROWS", 0)
    over = dedup.containment_auto_stats(
        dedup.containment_argmin_profile(docs, 8, 64)
    )
    assert over["strategy"] == "shuffle" and over["n_matched"] is None


def test_emb_panel_twins_match_full_forms_under_cap(spark):
    """When the corpus fits the panel cap (sf0.001: 50 vectors), the
    md5-bucket panel IS the corpus, so the panel twins must be
    row-identical to the full forms — the equivalence that makes the
    twins a verification surface for the same pipeline rather than a
    different query."""
    from salesforce_prefect_etl_pipeline_spark import queries_llm as qllm

    full_pq = qllm._pq_codes_query(spark, SF_SMALL).collect()
    panel_pq = qllm._pq_codes_panel_query(spark, SF_SMALL).collect()
    assert panel_pq == full_pq and full_pq

    full_sd = qllm._emb_semdedup_prune(spark, SF_SMALL).collect()
    panel_sd = qllm._emb_semdedup_prune_panel(spark, SF_SMALL).collect()
    assert panel_sd == full_sd and full_sd


def test_panel_seeded_full_encode_matches_oracle_above_cap(spark, emb):
    """r13 verdict task 2 — the guard comes off the encode side: seed
    the quantizer/codebooks from a bounded deterministic SUBSET (the
    panel role) and assign/encode the FULL corpus; DuckDB replays the
    split-source configuration exactly (seed_source != source). Pinned
    here with the subset a strict md5-bucket restriction of the corpus,
    the regime where old full-corpus seeding and panel seeding truly
    diverge."""
    import duckdb

    from salesforce_prefect_etl_pipeline_spark.operators import corpus
    from salesforce_prefect_etl_pipeline_spark.plans.compiler import load_table

    panel = emb.filter(corpus.split_bucket(F.col("vec_id")) < 30)
    n_panel, n_full = panel.count(), emb.count()
    assert 0 < n_panel < n_full  # strict subset, non-vacuous

    seed_sql = (
        "(SELECT * FROM embeddings WHERE "
        f"{corpus.split_bucket_sql('vec_id')} < 30)"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{SF_SMALL}/embeddings.parquet'"
    )

    books = similarity.train_pq_codebooks(panel, m=4, codes=16, iters=0)
    got = [
        tuple(r)
        for r in similarity.pq_encode(emb, books).orderBy("vec_id").collect()
    ]
    want = con.execute(
        similarity.pq_encode_sql(m=4, codes=16, dim=64, seed_source=seed_sql)
    ).fetchall()
    assert got == [tuple(r) for r in want] and got

    cents = similarity.train_ivf_centroids(panel, nlist=16, iters=0)
    got_sd = [
        tuple(r)
        for r in similarity.semdedup_prune(emb, cents, threshold=0.3).collect()
    ]
    from salesforce_prefect_etl_pipeline_spark.queries_llm import (
        _emb_semdedup_sql,
    )

    want_sd = con.execute(_emb_semdedup_sql(seed_source=seed_sql)).fetchall()
    assert got_sd == [tuple(r) for r in want_sd] and got_sd


def test_emb_panel_survives_seed_replay_guard(spark, emb):
    """The reason the twins exist (r12 verdict task 2): above the seed
    cap the iters=0 trainers REFUSE (SeedReplayError — the oracle can't
    replay the sampling predicate), but the panel is content-bounded
    below any cap, so the panel-seeded form keeps verifying. Simulated
    here by dropping max_sample under the corpus size."""
    n = emb.count()
    cap = n // 3  # n // cap >= 3 -> the guard's sampling mod kicks in
    with pytest.raises(similarity.SeedReplayError):
        similarity.train_pq_codebooks(emb, m=4, codes=16, iters=0, max_sample=cap)
    with pytest.raises(similarity.SeedReplayError):
        similarity.train_ivf_centroids(emb, nlist=16, iters=0, max_sample=cap)
    panel = emb.limit(cap)  # stand-in for the md5-bucket restriction
    books = similarity.train_pq_codebooks(
        panel, m=4, codes=16, iters=0, max_sample=cap
    )
    assert books.shape == (4, 16, 16)
    cents = similarity.train_ivf_centroids(panel, nlist=16, iters=0, max_sample=cap)
    assert cents.shape[0] == 16


def test_exact_substring_finds_planted_overlap(spark):
    """A 220-char verbatim block planted inside two otherwise-different
    documents must come back as one verified span per direction-ordered
    pair, covering (at anchor granularity) the planted region; docs
    with no long shared run must produce nothing."""
    import random as _random

    rng = _random.Random(13)
    words = ["alpha", "bravo", "carbon", "delta", "echo", "fox", "golf", "hotel"]

    def prose(n):
        return " ".join(rng.choice(words) for _ in range(n))

    shared = prose(40)[:220]
    rows = [
        (1, prose(30) + " " + shared + " " + prose(25)),
        (2, prose(50) + " " + shared + " " + prose(10)),
        (3, prose(60)),  # unrelated
        (4, prose(60)),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.exact_substring_spans(docs).collect()
    hits = [r for r in spans if (r.da, r.db) == (1, 2)]
    assert hits, "planted overlap not found"
    best = max(hits, key=lambda r: r.span_len)
    # anchor-granular: detected span sits inside the planted block and
    # covers most of it (heads/tails up to ~anchor_mod + CDC_W missed)
    assert best.span_len >= 150
    a_text, b_text = rows[0][1], rows[1][1]
    got_a = a_text[best.a_start - 1 : best.a_start - 1 + best.span_len]
    got_b = b_text[best.b_start - 1 : best.b_start - 1 + best.span_len]
    assert got_a == got_b and got_a in shared
    # unrelated docs never pair
    assert not [r for r in spans if r.da >= 3 or r.db >= 3]


def test_exact_substring_verification_rejects_bridged_edit(spark):
    """Two docs sharing two separate runs with a small edit between
    them: every reported span must still be verbatim (the md5
    verification drops any island that accidentally bridges the edit),
    i.e. the substrings named by every output row are equal."""
    import random as _random

    rng = _random.Random(99)
    words = ["kilo", "lima", "metric", "nova", "oscar", "papa"]

    def prose(n):
        return " ".join(rng.choice(words) for _ in range(n))

    left = prose(35)
    right = prose(35)
    a = left + " EDIT-A " + right
    b = left + " edit-b " + right
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    for r in dedup.exact_substring_spans(docs).collect():
        ga = a[r.a_start - 1 : r.a_start - 1 + r.span_len]
        gb = b[r.b_start - 1 : r.b_start - 1 + r.span_len]
        assert ga == gb, "non-verbatim span reported"


def test_containment_auto_inv_bound_gates_broadcast_inv(spark, docs, monkeypatch):
    """Below the probe-row floor the probe side is small but the
    INVENTORY is a separate axis (distinct shingles/doc, not
    argmins/doc): auto may pick broadcast_inv only while the inventory
    row count clears its own broadcast cap, else the salted shuffle is
    the only memory-safe shape (r12 advice)."""
    prof = dedup.containment_argmin_profile(docs, 8, 64)
    stats = dedup.containment_auto_stats(prof)
    assert stats["strategy"] == "broadcast_inv"  # fixture is below-floor
    assert stats["n_inv_rows"] and stats["n_inv_rows"] > stats["n_index_rows"]
    monkeypatch.setattr(
        dedup, "CONTAINMENT_BROADCAST_INV_MAX_ROWS", stats["n_inv_rows"] - 1
    )
    gated = dedup.containment_auto_stats(prof)
    assert gated["strategy"] == "shuffle"
    assert gated["n_inv_rows"] == stats["n_inv_rows"]


def test_containment_strategy_sidecar_persists_across_sessions(
    spark, docs, tmp_path, monkeypatch
):
    """The auto-stats decision is a pure function of the documents
    fixture, so it persists to a fingerprint-keyed sidecar next to the
    stats root and is READ, not recomputed, by later sessions (the
    bench cold-run toll, r12 verdict task 4); a corrupt sidecar falls
    back to recomputation and rewrites."""
    import json as _json
    import os as _os

    from salesforce_prefect_etl_pipeline_spark import queries_llm as qllm

    monkeypatch.setattr(qllm, "CONTAINMENT_STATS_ROOT", str(tmp_path / "stats"))
    prof = dedup.containment_argmin_profile(docs, 8, 64)

    def fresh(sf_dir=SF_SMALL):
        # new "session": drop the in-memory memo so disk is consulted
        monkeypatch.setattr(qllm, "_CONTAINMENT_STRATEGY_CACHE", type(qllm._CONTAINMENT_STRATEGY_CACHE)())
        return qllm._containment_strategy_cached(spark, sf_dir, prof)

    s1 = fresh()
    path = qllm._containment_stats_path(SF_SMALL)
    assert _os.path.exists(path)
    stats = _json.load(open(path))
    assert stats["strategy"] == s1
    # later session trusts the sidecar: plant a sentinel and expect it back
    _json.dump({"strategy": "shuffle"}, open(path, "w"))
    assert fresh() == "shuffle"
    # corruption falls back to compute and rewrites the sidecar
    open(path, "w").write("{not json")
    assert fresh() == s1
    assert _json.load(open(path))["strategy"] == s1


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR semantics pin (Xie et al. 2023, determinized): documents
    built from the target slice's bigrams must outscore documents
    built from source-only bigrams — the importance weight is the
    whole point. Target = the weak-label clean slice (2*distinct >=
    total); the dirty docs' repeated bigrams appear only in the
    source model, so their log-ratios go negative."""
    import duckdb

    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    texts = [
        "alpha beta gamma delta epsilon",  # clean (all distinct)
        "alpha beta gamma delta zeta",
        "alpha beta theta iota kappa",
        "zz ww zz ww zz ww zz",  # dirty: 2 distinct / 7 tokens
        "zz ww zz ww zz ww zz ww",
        "ww zz ww zz ww zz ww",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r.doc_id: r.dsir_score for r in corpus.dsir_weights(docs).collect()}
    assert min(rows[i] for i in (0, 1, 2)) > max(rows[i] for i in (3, 4, 5))

    con = duckdb.connect()
    values = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES {values}) t(doc_id, text)"
    )
    want = con.execute(corpus.dsir_weights_sql()).fetchall()
    got = [tuple(r) for r in corpus.dsir_weights(docs).collect()]
    assert got == [tuple(r) for r in want] and got

    sample = [tuple(r) for r in corpus.dsir_sample(docs, k=4).collect()]
    want_s = con.execute(corpus.dsir_sample_sql(k=4)).fetchall()
    assert sample == [tuple(r) for r in want_s]
    assert len(sample) == 4


def test_ivf_list_stats_reports_skew_and_rebalance_restores(
    spark, emb, tmp_path
):
    """The r14-task-4 maintenance loop: (1) ivf_list_stats over a fresh
    build reports every centroid (empty lists as 0) with skew_pm
    summing to ~1000*nlist; (2) a deliberately skewed append — the
    increment assigned with centroids trained WITHOUT it — raises
    max(skew_pm); (3) rebalance_ivf_index re-seeds over the index's own
    stored vectors and the result is BIT-IDENTICAL to a monolithic
    build with the same seeds (probe + stats + centroids), so
    recall@nprobe recovers to build-time level by construction."""
    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    head = emb.filter(corpus.split_bucket(F.col("vec_id")) < 60)
    tail = emb.filter(corpus.split_bucket(F.col("vec_id")) >= 60)
    idx = str(tmp_path / "skewed")
    cents = similarity.build_ivf_index(head, idx, nlist=16, iters=0)
    base_stats = {
        r.list_id: r for r in similarity.ivf_list_stats(spark, idx).collect()
    }
    assert len(base_stats) == 16  # every centroid reported
    n_head = head.count()
    assert sum(r.n_vecs for r in base_stats.values()) == n_head
    # per-mille accounting: floor-division sums to <= 16000, close to it
    s = sum(r.skew_pm for r in base_stats.values())
    assert 16000 - 16 * 16 <= s <= 16000

    similarity.append_ivf_vectors(spark, idx, tail, centroids=cents)
    skewed = similarity.ivf_list_stats(spark, idx).collect()
    assert sum(r.n_vecs for r in skewed) == emb.count()
    # appends only grow lists (absolute occupancy is monotone; the
    # RELATIVE skew_pm may go either way — that's what the report is
    # for), and the report tracks the append exactly per list
    assert max(r.n_vecs for r in skewed) >= max(
        r.n_vecs for r in base_stats.values()
    )
    for r in skewed:
        assert r.n_vecs >= base_stats[r.list_id].n_vecs

    # rebalance == monolithic build with the same seed frame
    similarity.rebalance_ivf_index(spark, idx, nlist=16, iters=0, seed_emb=emb)
    ref = str(tmp_path / "mono")
    ref_cents = similarity.build_ivf_index(
        emb, ref, nlist=16, iters=0, seed_emb=emb
    )
    got_cents = similarity.load_ivf_centroids(spark, idx)
    assert (got_cents == ref_cents).all()
    got_stats = [tuple(r) for r in similarity.ivf_list_stats(spark, idx).collect()]
    ref_stats = [tuple(r) for r in similarity.ivf_list_stats(spark, ref).collect()]
    assert got_stats == ref_stats
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    got = similarity.probe_ivf(spark, idx, qvecs, k=10, nprobe=4).collect()
    want = similarity.probe_ivf(spark, ref, qvecs, k=10, nprobe=4).collect()
    assert got == want and len(got) == 30
    # publish was versioned: CURRENT exists and probes resolve through it
    import os as _os

    assert _os.path.exists(_os.path.join(idx, "CURRENT"))


def test_ivf_retraction_equals_never_ingested_and_compacts(spark, emb, tmp_path):
    """retract_ivf_vectors contract: (1) retract == never-ingested —
    the probe over the tombstoned index equals a frozen-centroid index
    assigning only the live vectors; (2) a TORN retraction (tombstones
    without the vecbatches record) is invisible; (3) a replayed
    retraction is exactly-once; (4) rebalance_ivf_index physically
    drops tombstoned rows (the compaction) and the new snapshot carries
    no tombstone component; (5) the unstamped legacy layout refuses
    retraction loudly."""
    import os as _os

    from pyspark.sql import functions as F

    dead_ids = [1, 7]
    live = emb.filter(~F.col("vec_id").isin(dead_ids))
    idx = str(tmp_path / "idx")
    cents = similarity.build_ivf_index(emb, idx, nlist=16, iters=0)
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([3, 42])).collect()
    ]

    # (2) torn: tombstone rows with an uncommitted batch id change nothing
    before = similarity.probe_ivf(
        spark, idx, qvecs, k=10, nprobe=16, centroids=cents
    ).collect()
    spark.createDataFrame(
        [(i, "deadbeef-uncommitted") for i in dead_ids],
        "vec_id long, batch_id string",
    ).write.mode("append").parquet(f"{idx}/tombstones")
    assert (
        similarity.probe_ivf(
            spark, idx, qvecs, k=10, nprobe=16, centroids=cents
        ).collect()
        == before
    )

    # (1) committed retraction == frozen-centroid index over live only
    similarity.retract_ivf_vectors(
        spark, idx, spark.createDataFrame([(i,) for i in dead_ids], "vec_id long")
    )
    ref = str(tmp_path / "ref")
    similarity.ivf_assign(live, cents).write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(f"{ref}/lists")
    got = similarity.probe_ivf(
        spark, idx, qvecs, k=10, nprobe=16, centroids=cents
    ).collect()
    want = similarity.probe_ivf(
        spark, ref, qvecs, k=10, nprobe=16, centroids=cents
    ).collect()
    assert got == want and got
    assert not any(r.neighbor_id in dead_ids for r in got)

    # (3) replay: same batch id, no double effects
    similarity.retract_ivf_vectors(
        spark, idx, spark.createDataFrame([(i,) for i in dead_ids], "vec_id long")
    )
    assert (
        similarity.probe_ivf(
            spark, idx, qvecs, k=10, nprobe=16, centroids=cents
        ).collect()
        == want
    )

    # (4) rebalance = compaction: physical drop, no tombstone component
    similarity.rebalance_ivf_index(spark, idx, nlist=16, iters=0, seed_emb=emb)
    raw = spark.read.parquet(index_component_path(idx, "lists"))
    assert raw.filter(F.col("vec_id").isin(dead_ids)).count() == 0
    assert not _os.path.isdir(index_component_path(idx, "tombstones"))
    assert raw.count() == live.count()

    # (5) unstamped legacy layout refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vecbatches"):
        similarity.retract_ivf_vectors(
            spark, ref, spark.createDataFrame([(1,)], "vec_id long")
        )


# ----------------------------------------------------------------------
# IVFADC: PQ codes within probed lists (r15 verdict task 2)


def test_ivfpq_probe_scans_codes_only_and_equals_exact_uncapped(
    spark, emb, tmp_path
):
    """The IVFADC contract: (1) the probe's candidate scan reads the
    partition-pruned CODES component with no embedding column anywhere
    in its plan; (2) with nprobe=nlist and an uncapped shortlist the
    re-ranked result EQUALS the exact cosine top-k (the shortlist cut
    and probe selection are the only approximations); (3) at serving
    settings (nprobe=4, shortlist=30) recall vs exact stays above the
    floor; (4) determinism run-to-run."""
    import contextlib
    import io

    index_dir = str(tmp_path / "ivfpq")
    similarity.build_ivf_index(emb, index_dir, nlist=16, iters=0)
    books = similarity.train_pq_codebooks(emb, m=4, codes=16, iters=0)
    similarity.build_ivfpq_codes(spark, index_dir, books)
    qids = [1, 7, 42]
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    ]
    n = emb.count()

    # (1) codes-only scan: no embedding column in the ADC-ranked plan
    adc_only = similarity.probe_ivfpq(
        spark, index_dir, qvecs, k=10, nprobe=4, shortlist=30
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        adc_only.explain("formatted")
    plan = buf.getvalue()
    assert "embedding" not in plan, plan
    assert "PartitionFilters" in plan and "list_id" in plan, plan

    # (2) uncapped + all lists == exact top-k
    exact = [
        tuple(r)
        for r in similarity.cosine_topk(emb, qids, k=10).collect()
    ]
    uncapped = [
        tuple(r)
        for r in similarity.probe_ivfpq(
            spark,
            index_dir,
            qvecs,
            k=10,
            nprobe=16,
            shortlist=n,
            rerank_emb=emb,
        ).collect()
    ]
    assert uncapped == exact

    # (3) serving-shape recall: near-orthogonal embeddings are PQ's
    # documented worst case (see test_pq_adc_recall_and_lloyds_gain),
    # so the contract matches the flat-ADC one — a 5x-k shortlist
    # recovers a useful fraction of the EXACT-WITHIN-PROBED-LISTS
    # top-10 (isolating the PQ approximation from the probe
    # selection, which has its own recall pin) — + (4) determinism
    within = {
        (r.query_id, r.neighbor_id)
        for r in similarity.probe_ivf(
            spark, index_dir, qvecs, k=10, nprobe=8
        ).collect()
    }
    served = similarity.probe_ivfpq(
        spark, index_dir, qvecs, k=10, nprobe=8, shortlist=50, rerank_emb=emb
    )
    got = [tuple(r) for r in served.collect()]
    a = {(r[0], r[1]) for r in got}
    recall = len(within & a) / len(within)
    assert recall >= 0.25, f"IVFADC recall too low: {recall}"
    again = [
        tuple(r)
        for r in similarity.probe_ivfpq(
            spark, index_dir, qvecs, k=10, nprobe=8, shortlist=50, rerank_emb=emb
        ).collect()
    ]
    assert got == again


def test_ivfpq_codes_respect_reconcile_and_retraction(spark, emb, tmp_path):
    """Codes derive from the RECONCILED lists (uncommitted batches and
    tombstones never encoded), and a retraction AFTER the codes build
    disappears from probe candidates immediately (live-tombstone
    filter), matching the lists probe's semantics."""
    index_dir = str(tmp_path / "ivfpq_r")
    similarity.build_ivf_index(emb, index_dir, nlist=8, iters=0)
    books = similarity.train_pq_codebooks(emb, m=4, codes=16, iters=0)
    similarity.build_ivfpq_codes(spark, index_dir, books)
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin([1, 7, 42])).collect()
    ]
    before = [
        tuple(r)
        for r in similarity.probe_ivfpq(
            spark, index_dir, qvecs, k=10, nprobe=8, shortlist=50,
            rerank_emb=emb,
        ).collect()
    ]
    dead_ids = sorted({r[1] for r in before})[:3]
    dead = spark.createDataFrame([(i,) for i in dead_ids], "vec_id long")
    similarity.retract_ivf_vectors(spark, index_dir, dead)
    after = [
        tuple(r)
        for r in similarity.probe_ivfpq(
            spark, index_dir, qvecs, k=10, nprobe=8, shortlist=50,
            rerank_emb=emb,
        ).collect()
    ]
    assert not any(r[1] in set(dead_ids) for r in after)
    # rebuilding the codes after the retraction physically drops them
    similarity.build_ivfpq_codes(spark, index_dir, books)
    rebuilt = spark.read.parquet(
        index_component_path(index_dir, "pqcodes")
    )
    assert rebuilt.filter(F.col("vec_id").isin(dead_ids)).count() == 0
    assert [
        tuple(r)
        for r in similarity.probe_ivfpq(
            spark, index_dir, qvecs, k=10, nprobe=8, shortlist=50,
            rerank_emb=emb,
        ).collect()
    ] == after


def test_ivfpq_residual_layout_contract(spark, emb, tmp_path):
    """Residual IVFADC (r16): (1) the residual probe's candidate scan
    is codes-only + partition-pruned exactly like the plain layout;
    (2) nprobe=nlist + uncapped shortlist == exact top-k (the residual
    transform changes the ADC estimate, never the re-ranked identity);
    (3) seeding the residual codebook from the SAME md5 picks as the
    coarse quantizer degenerates it to all-zero codes (each coarse
    seed is its own list's centroid), which is why the glue excludes
    the coarse ids — pinned both ways; (4) both layouts coexist on one
    index and the plain probe is unchanged by building the residual
    component."""
    import contextlib
    import hashlib
    import io

    index_dir = str(tmp_path / "ivfpq_res")
    similarity.build_ivf_index(emb, index_dir, nlist=16, iters=0)
    books = similarity.train_pq_codebooks(emb, m=4, codes=16, iters=0)
    similarity.build_ivfpq_codes(spark, index_dir, books)
    plain_before = spark.read.parquet(
        index_component_path(index_dir, "pqcodes")
    ).collect()

    cents = similarity.load_ivf_centroids(spark, index_dir)
    resid = similarity.ivf_residual_frame(
        spark, similarity.ivf_assign(emb, cents), cents
    )
    # (3a) same-picks seeding is degenerate: the md5-smallest 16 ids
    # ARE the coarse seeds, whose residuals are x(1 - 1/||x||) —
    # numerically zero for the ~unit float32 vectors (1e-8 scale), so
    # every code collapses to the same point and ADC stops ranking
    degen = similarity.train_pq_codebooks(resid, m=4, codes=16, iters=0)
    assert np.abs(degen).max() < 1e-6
    # (3b) the production seeding excludes them and is non-degenerate
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    coarse = sorted(
        ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:16]
    rbooks = similarity.train_pq_codebooks(
        resid.filter(~F.col("vec_id").isin(coarse)), m=4, codes=16, iters=0
    )
    assert np.abs(rbooks).max() > 1e-3
    similarity.build_ivfpq_codes(spark, index_dir, rbooks, residual=True)

    qids = [1, 7, 42]
    qvecs = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    ]
    n = emb.count()

    # (1) codes-only, partition-pruned plan
    adc_only = similarity.probe_ivfpq(
        spark, index_dir, qvecs, k=10, nprobe=4, shortlist=30, residual=True
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        adc_only.explain("formatted")
    plan = buf.getvalue()
    assert "embedding" not in plan, plan
    assert "PartitionFilters" in plan and "list_id" in plan, plan
    assert "pqrescodes" in plan, plan

    # (2) uncapped identity with exact
    exact = [
        tuple(r) for r in similarity.cosine_topk(emb, qids, k=10).collect()
    ]
    uncapped = [
        tuple(r)
        for r in similarity.probe_ivfpq(
            spark, index_dir, qvecs, k=10, nprobe=16, shortlist=n,
            rerank_emb=emb, residual=True,
        ).collect()
    ]
    assert uncapped == exact

    # (4) parallel components: the plain layout is untouched
    plain_after = spark.read.parquet(
        index_component_path(index_dir, "pqcodes")
    ).collect()
    assert sorted(map(tuple, plain_after)) == sorted(map(tuple, plain_before))


def test_ivfpq_residual_gain_on_clustered_corpus(spark, tmp_path):
    """The WHY of residual encoding, pinned where it is mathematically
    guaranteed: on a clustered corpus with trained (Lloyd's) books,
    residual quantization error is bounded by the WITHIN-cluster
    variance while plain PQ must also spend codes on the BETWEEN-
    cluster spread (law of total variance) — with more clusters than
    codes, residual wins by construction. 24 well-separated UNIT-NORM
    clusters (the coarse quantizer is spherical k-means — residuals
    only shrink for directional data), 16 codes/subspace, iters=3
    k-means for both layouts; the near-orthogonal shared fixture
    deliberately shows NO such gain (the coarse quantizer explains no
    variance there), which is why this pin builds its own data."""
    dim, n_clusters, per = 64, 24, 30
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = [float((7 * c + 11 * i) % 13 - 6) for i in range(dim)]
        for j in range(per):
            v = [
                center[i] + ((3 * c + 5 * j + i) % 7 - 3) * 0.02
                for i in range(dim)
            ]
            nrm = sum(x * x for x in v) ** 0.5
            rows.append((vid, [x / nrm for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    index_dir = str(tmp_path / "clustered")
    similarity.build_ivf_index(emb, index_dir, nlist=n_clusters, iters=3)
    cents = similarity.load_ivf_centroids(spark, index_dir)

    plain_books = similarity.train_pq_codebooks(emb, m=4, codes=16, iters=3)
    similarity.build_ivfpq_codes(spark, index_dir, plain_books)
    resid = similarity.ivf_residual_frame(
        spark, similarity.ivf_assign(emb, cents), cents
    )
    rbooks = similarity.train_pq_codebooks(resid, m=4, codes=16, iters=3)
    similarity.build_ivfpq_codes(spark, index_dir, rbooks, residual=True)

    plain_err = (
        spark.read.parquet(
            index_component_path(index_dir, "pqcodes")
        ).agg(F.avg("qerr")).collect()[0][0]
    )
    resid_err = (
        spark.read.parquet(
            index_component_path(index_dir, "pqrescodes")
        ).agg(F.avg("qerr")).collect()[0][0]
    )
    # not just "less": an order of magnitude, because between-cluster
    # spread (centers on a +-6 lattice) dwarfs within-cluster noise
    # (+-0.06) and the residual books only ever see the latter
    assert resid_err < plain_err / 10, (resid_err, plain_err)


def test_minhash_index_stats_lifecycle(spark, docs, tmp_path):
    """r16 observe instrument for the LSH index: fresh build is clean;
    a torn batch of the same docs doubles physical rows and shows as
    n_replay_dups while the LIVE columns (n_docs, n_keys, max_bucket)
    stay exactly put; compaction returns the physicals to clean with
    the live columns still unchanged. Invariant: one key per (doc,
    band) means n_entries == n_docs per band."""
    from salesforce_prefect_etl_pipeline_spark.operators.corpus import (
        split_bucket,
    )

    idx = str(tmp_path / "idx")
    corpus_side = docs.filter(split_bucket(F.col("doc_id")) < 80)
    dedup.build_minhash_index(corpus_side, idx)

    def _bands_rows():
        return {
            r["band"]: r
            for r in dedup.minhash_index_stats(spark, idx).collect()
            if r["component"] == "bands"
        }

    clean = _bands_rows()
    assert len(clean) == 16
    for r in clean.values():
        assert r["n_replay_dups"] == 0
        assert r["n_entries"] == r["n_docs"]
        assert r["max_bucket"] >= 1
    live_before = {
        b: (r["n_docs"], r["n_keys"], r["max_bucket"])
        for b, r in clean.items()
    }

    _torn_minhash_batch(corpus_side, idx)
    frag = _bands_rows()
    assert all(r["n_replay_dups"] > 0 for r in frag.values())
    assert all(
        frag[b]["n_rows"] == 2 * clean[b]["n_rows"] for b in clean
    )
    assert {
        b: (r["n_docs"], r["n_keys"], r["max_bucket"])
        for b, r in frag.items()
    } == live_before

    dedup.compact_minhash_index(spark, idx)
    after = _bands_rows()
    assert all(r["n_replay_dups"] == 0 for r in after.values())
    assert {
        b: (r["n_docs"], r["n_keys"], r["max_bucket"])
        for b, r in after.items()
    } == live_before
    # profiles row mirrors: replay dups gone after compact
    prof = [
        r
        for r in dedup.minhash_index_stats(spark, idx).collect()
        if r["component"] == "profiles"
    ]
    assert len(prof) == 1 and prof[0]["n_replay_dups"] == 0
