"""Pure-python tests for the scaling-bundle tooling (no Spark)."""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

import scaling_fit  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_power_law_fit_recovers_known_exponent():
    # wall = 2 * sf^0.7 exactly
    pts = [(s, 2.0 * s**0.7) for s in (0.1, 0.3, 1.0, 3.0)]
    e = scaling_fit.fit(pts)
    assert abs(e - 0.7) < 1e-9
    assert scaling_fit.fit([(1.0, 5.0)]) is None  # <2 points
    assert scaling_fit.fit([(1.0, 0.0), (2.0, 0.0)]) is None  # non-positive


def test_assemble_then_fit_round_trip(tmp_path):
    for sf, wall in (("0.1", 1.0), ("1", 2.0)):
        bench = {
            "metric": "headline_suite_wall_seconds",
            "value": wall * 3,
            "unit": "sec",
            "queries": {"q": wall},
            "sf": float(sf),
        }
        spread = {"spread": {"q": [wall, wall]}, "runs_per_query": 3, "sf": float(sf)}
        (tmp_path / f"b{sf}.json").write_text(json.dumps(bench))
        (tmp_path / f"s{sf}.json").write_text(json.dumps(spread))
    out = tmp_path / "bundle.json"
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "assemble_scaling.py"),
            str(out),
            f"sf0.1={tmp_path}/b0.1.json:{tmp_path}/s0.1.json",
            f"sf1={tmp_path}/b1.json:{tmp_path}/s1.json",
        ],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stderr
    bundle = json.loads(out.read_text())
    assert set(bundle) == {"sf0.1", "sf1", "spreads"}
    assert bundle["spreads"]["sf1"]["q"] == [2.0, 2.0]
    r2 = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scaling_fit.py"), str(out)],
        capture_output=True,
        text=True,
    )
    assert r2.returncode == 0, r2.stderr
    # wall doubles over 10x sf -> exponent log10(2) ~ 0.30, not flagged
    assert "flagged (> 0.9): 0" in r2.stdout


def test_bench_ab_paired_math():
    """tools/bench_ab.py's median/delta assembly over synthetic
    per-rep records: medians per side, deltas sorted ascending, total
    delta — the arithmetic the drift-immunity claim rests on."""
    import statistics

    per_rep = [
        {"order": ["baseline", "head"], "baseline": {"q1": 1.0, "q2": 4.0}, "head": {"q1": 2.0, "q2": 3.0}},
        {"order": ["head", "baseline"], "baseline": {"q1": 3.0, "q2": 6.0}, "head": {"q1": 2.5, "q2": 2.0}},
    ]
    common = set(per_rep[0]["baseline"]) & set(per_rep[0]["head"])
    med = {
        side: {
            q: round(statistics.median(r[side][q] for r in per_rep), 3)
            for q in common
        }
        for side in ("baseline", "head")
    }
    assert med == {
        "baseline": {"q1": 2.0, "q2": 5.0},
        "head": {"q1": 2.25, "q2": 2.5},
    }
    delta = {
        q: round(med["head"][q] - med["baseline"][q], 3)
        for q in sorted(common, key=lambda q: med["head"][q] - med["baseline"][q])
    }
    assert list(delta) == ["q2", "q1"]  # most-improved first
    assert delta["q2"] == -2.5 and delta["q1"] == 0.25
    total = round(sum(med["head"].values()) - sum(med["baseline"].values()), 3)
    assert total == -2.25


def test_rechunk_splits_single_group_files_and_guard_math(tmp_path):
    """The r16 sf10 post-mortem guard: a one-row-group parquet file (what
    gen_scale_data's coalesce(1) write produces) must come out of
    rechunk_scaledata with enough groups to split, content-identical,
    and expected_min_groups must be the matching post-condition —
    gen_scale_data asserts it after every regeneration."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import rechunk_scaledata as rc

    n = 1000
    tbl = pa.table({"k": list(range(n)), "v": [f"x{i}" for i in range(n)]})
    path = tmp_path / "docs.parquet"
    pq.write_table(tbl, path, row_group_size=n)  # ONE group: the bad layout
    assert pq.ParquetFile(path).metadata.num_row_groups == 1

    rc.main([str(tmp_path)], target_groups=8, min_rows_per_group=100)
    meta = pq.ParquetFile(path).metadata
    want = rc.expected_min_groups(n, target_groups=8, min_rows_per_group=100)
    assert want == 8
    assert meta.num_row_groups >= want
    assert pq.read_table(path).equals(tbl)  # content- and order-identical

    # tiny tables stay one sane group (the MIN_ROWS_PER_GROUP floor)
    assert rc.expected_min_groups(10_000) == 1
    # the sf10 documents shape: 16 groups expected, 1 would fail the guard
    assert rc.expected_min_groups(5_000_000) == 16


def test_gen_scale_data_wires_the_layout_guard(tmp_path, monkeypatch):
    """gen_scale_data must rechunk its own output and then enforce the
    row-group post-condition — the r16 regeneration skipped the separate
    rechunk step and produced an unsplittable 57 MB-row-group fixture.
    Runs the real guard path on a one-row-group fixture: it passes after
    rechunking, and fails loudly when the rechunk is skipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen_scale_data
    import rechunk_scaledata as rc

    # main() itself must run the guard, not leave it to a caller
    assert "enforce_row_group_layout(args.out)" in inspect.getsource(
        gen_scale_data.main
    )

    n = 100_000
    tbl = pa.table({"k": list(range(n))})
    path = tmp_path / "docs.parquet"
    pq.write_table(tbl, path, row_group_size=n)  # ONE group: the bad layout
    want = rc.expected_min_groups(n)
    assert want == 2
    gen_scale_data.enforce_row_group_layout(str(tmp_path))
    assert pq.ParquetFile(path).metadata.num_row_groups >= want
    assert pq.read_table(path).equals(tbl)

    pq.write_table(tbl, path, row_group_size=n)  # back to one group
    monkeypatch.setattr(rc, "main", lambda *a, **k: 0)  # rechunk skipped
    with pytest.raises(SystemExit, match="LAYOUT GUARD"):
        gen_scale_data.enforce_row_group_layout(str(tmp_path))
