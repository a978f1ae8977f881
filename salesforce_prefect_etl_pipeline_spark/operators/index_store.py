"""Write, commit and publish lifecycle shared by every persisted index
family: the MinHash LSH index (operators/dedup.py), the BM25 /
positional / champion text tiers (operators/retrieval.py) and the IVF
index (operators/similarity.py). Each family keeps its own components
and reconciled reads; the crash-safety and publish contract below is
stated here once.

**Batches.** Every write lands as one batch whose id is
content-derived: ``md5("[prefix:]min:max:count")`` over the batch's key
column (:func:`batch_id_col`). Batches hold disjoint keys, so ids are
unique; there is no wall clock, so a replayed batch gets the same id and
rebuilt indexes are bit-reproducible.

**Commit records.** Data rows land first, each stamped with the batch
id; then one row in the family's commit record (``totals`` /
``posbatches`` for the text tiers, ``vecbatches`` for IVF) commits
them. Readers see committed batches only, so a crash between the two
writes leaves an invisible orphan, and the replay re-appends
byte-identical rows that the readers' replay dedup collapses.
Retractions use the same order: tombstone rows, then the commit row.
Streaming sinks skip a batch whose id is already committed
(:func:`committed_batch_ids`; one row per batch, so driver state is
bounded by the batch count).

**Versions.** A fresh build writes the flat layout
``<index_dir>/<comp>`` after :func:`reset_versions` drops any versioned
history, which would otherwise shadow it. Compaction and rebuild write
a whole snapshot into the staging root :func:`next_version` returns
(``versions/v<N+1>/``) and :func:`publish_version` makes it live by
atomically replacing the ``CURRENT`` pointer file: a temp pointer,
``flush`` + ``fsync``, then ``os.replace``. There is never a window
where a live component is missing. A reader that resolved ``CURRENT``
(:func:`index_component_path`) before the swap keeps reading the
previous version; one that resolves after reads the new one. A crash
anywhere leaves ``CURRENT`` on intact data, and the next publish
overwrites the orphaned staging dir.

**Retention.** A publish keeps the new and the previous version and
removes every other version dir; the flat layout is removed once a
previous version existed (it is then superseded at least one publish
ago). A probe must therefore finish within one maintenance cycle.
:func:`gc_index_versions` is the standalone keep-N collector.

**Owner.** One maintenance writer, and no appends while a compaction
or rebuild runs: an append into the old version after the rewrite
began would be dropped by the publish. The ingest job and the
compactor are the same owner.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def index_component_path(index_dir: str, comp: str) -> str:
    """Resolve an index component through the ``CURRENT`` pointer:
    ``<index_dir>/versions/<v>/<comp>`` once a version was published,
    the flat ``<index_dir>/<comp>`` before. Every reader and appender
    resolves through this function."""
    v = current_index_version(index_dir)
    if v:
        return os.path.join(index_dir, "versions", v, comp)
    return os.path.join(index_dir, comp)


def current_index_version(index_dir: str) -> str:
    """The version the CURRENT pointer resolves to, or "" for the flat
    (never-compacted/rebuilt) layout. Cache keys derived from an index
    dir should include this: a versioned rebuild changes it, so memoized
    per-version artifacts (e.g. loaded IVF centroids) can never pair
    with a newer version's data."""
    cur = os.path.join(index_dir, "CURRENT")
    if os.path.exists(cur):
        return open(cur).read().strip()
    return ""


def gc_index_versions(index_dir: str, keep_n: int = 2) -> list[str]:
    """Garbage-collect superseded ``versions/v<N>/`` snapshots — the
    standalone, explicitly schedulable form of the retention every
    publish already applies, for snapshots a maintenance cadence leaves
    behind (a crashed publish's orphan dir, or a raised keep-N later
    dialed back down).

    Safety contract:

    - NEVER deletes the CURRENT target, and keeps at least the
      previous published version too (``keep_n`` is clamped to >= 2):
      a concurrent reader that resolved the pointer one publish ago is
      still reading data that exists — deletion only touches versions
      superseded >= 2 publishes ago.
    - Versions NEWER than CURRENT are left alone (an in-flight
      publish's staging dir under the one-maintenance-writer model).
    - Idempotent and interruption-tolerant: each victim is removed
      independently (``ignore_errors``); a killed GC leaves a strict
      subset removed and the re-run converges to the same end state.
    - Flat (never-versioned) layouts are a no-op.

    Returns the removed version names (e.g. ``["v1", "v2"]``)."""
    keep_n = max(2, int(keep_n))
    cur = current_index_version(index_dir)
    versions_root = os.path.join(index_dir, "versions")
    if not cur or not os.path.isdir(versions_root):
        return []
    cur_n = int(cur[1:])
    numbered = sorted(
        int(v[1:])
        for v in os.listdir(versions_root)
        if v.startswith("v") and v[1:].isdigit()
    )
    retained = set(
        sorted((n for n in numbered if n <= cur_n), reverse=True)[:keep_n]
    )
    removed = []
    for n in numbered:
        if n < cur_n and n not in retained:
            shutil.rmtree(
                os.path.join(versions_root, f"v{n}"), ignore_errors=True
            )
            removed.append(f"v{n}")
    return removed


def batch_id_col(key: str, prefix: str = "") -> Column:
    """Aggregate expression for a batch's content-derived id,
    ``md5("[prefix:]min(key):max(key):count")``, aliased ``batch_id``.
    It touches only ``key``, so Catalyst prunes the scan to that column.
    Prefixes keep id spaces of different batch kinds disjoint: ""
    (text ingest), ``retract``, ``retractpos``, ``ivf``,
    ``retractivf``."""
    parts = ([F.lit(prefix)] if prefix else []) + [
        F.min(key),
        F.max(key),
        F.count(F.lit(1)),
    ]
    return F.md5(F.concat_ws(":", *parts)).alias("batch_id")


def committed_batch_ids(spark: SparkSession, record_path: str) -> set[str]:
    """Batch ids in a commit record, or the empty set before its first
    commit. One row per batch — control-plane sized."""
    if not os.path.exists(os.path.join(record_path, "_SUCCESS")):
        return set()
    return {
        r["batch_id"]
        for r in spark.read.parquet(record_path).select("batch_id").collect()
    }


def reset_versions(index_dir: str) -> None:
    """Drop the CURRENT pointer and every version before a full flat
    build, which would otherwise be shadowed by a stale snapshot."""
    cur = os.path.join(index_dir, "CURRENT")
    if os.path.exists(cur):
        os.remove(cur)
        shutil.rmtree(os.path.join(index_dir, "versions"), ignore_errors=True)


def next_version(index_dir: str) -> str:
    """Empty staging root ``versions/v<N+1>`` for the next snapshot,
    N being the highest existing version number."""
    versions_root = os.path.join(index_dir, "versions")
    existing = (
        sorted(
            int(v[1:])
            for v in os.listdir(versions_root)
            if v.startswith("v") and v[1:].isdigit()
        )
        if os.path.isdir(versions_root)
        else []
    )
    root = os.path.join(
        versions_root, f"v{(existing[-1] + 1) if existing else 1}"
    )
    shutil.rmtree(root, ignore_errors=True)
    return root


def publish_version(index_dir: str, root: str, flat: tuple[str, ...]) -> None:
    """Make the snapshot written under ``root`` (from
    :func:`next_version`) live, then apply retention; ``flat`` names the
    family's flat-layout components to remove once superseded."""
    prev = current_index_version(index_dir)
    version = os.path.basename(root)
    tmp_pointer = os.path.join(index_dir, ".CURRENT.tmp")
    with open(tmp_pointer, "w") as f:
        f.write(version)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_pointer, os.path.join(index_dir, "CURRENT"))
    versions_root = os.path.dirname(root)
    for v in os.listdir(versions_root):
        if v not in (version, prev):
            shutil.rmtree(os.path.join(versions_root, v), ignore_errors=True)
    if prev:
        for comp in flat:
            shutil.rmtree(os.path.join(index_dir, comp), ignore_errors=True)
