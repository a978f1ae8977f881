"""Write, commit, read and publish lifecycle shared by every persisted
index family: the MinHash LSH index (operators/dedup.py), the BM25 /
positional / champion text tiers (operators/retrieval.py) and the IVF
index (operators/similarity.py). Each stamped tier is declared once as
a :class:`Tier`; the family modules keep their row shapes and pruning
predicates, and the crash-safety, read and publish contract below is
stated here once.

**Tiers.** The stamped tiers and their components:

===============  ==========  =============  =============  ===========  ==============
tier             data        commit record  tombstones     ingest id    retract id
===============  ==========  =============  =============  ===========  ==============
BM25             postings    totals         tombstones     (no prefix)  ``retract``
positional       positional  posbatches     postombstones  (no prefix)  ``retractpos``
IVF              lists       vecbatches     tombstones     ``ivf``      ``retractivf``
MinHash bands    bands       bandbatches    (none)         ``minhash``  (none)
MinHash profiles profiles    profbatches    (none)         ``minhash``  (none)
===============  ==========  =============  =============  ===========  ==============

The MinHash tiers are never retracted: compaction drops documents
physically (:func:`restamp_live`'s ``drop``). The champion tier and
the IVFPQ codes are unstamped derived caches; they only read a tier's
committed tombstones.

**Batches.** Every write lands as one batch whose id is
content-derived: ``md5("[prefix:]min:max:count")`` over the tier's id
column (:func:`batch_id_col`, :func:`batch_id_of`). Batches hold
disjoint keys, so ids are unique; there is no wall clock, so a replayed
batch gets the same id and rebuilt indexes are bit-reproducible.

**Commit records.** Data rows land first, each stamped with the batch
id (:func:`write_stamped`); then one row in the tier's commit record
commits them (:func:`commit_batch`). The row carries ``origin``
provenance: ``build`` (an overwrite build or a published snapshot),
``append`` or ``retract``. Readers see committed batches only, so a
crash between the two writes leaves an invisible orphan, and the replay
re-appends byte-identical rows that the readers' replay dedup
collapses. Retractions use the same order (:func:`retract_batch`):
tombstone rows, then the commit row. Streaming sinks skip a batch whose
id is already committed (:func:`write_uncommitted`, over the
snapshot's committed ids; one row per batch, so driver state is
bounded by the batch count).

**Reads.** A read opens one :class:`Snapshot`
(:func:`open_snapshot`): ``CURRENT`` is resolved once, and each tier
the read names has its commit record collected once, whole (one row
per batch; a record without ``_SUCCESS`` holds no commit). The handle
answers every question a reader asks from those rows: a component's
path, the committed ids, the summed commit longs (the text corpus
totals), and the reconciled read of a tier's data
(:meth:`Snapshot.read`; :func:`reconciled_read` is its one-tier
form), which sees:

- committed batches only. The committed ids filter the data as a
  plan-time ``isin`` literal, which parquet can push into the scan, up
  to :data:`BATCH_ISIN_CAP` ids; above that, as a broadcast semi-join
  against the same collected ids;
- replay-deduplicated rows, keyed on the family's row key plus
  ``batch_id`` (only a replayed batch can duplicate a row). The dedup
  is skipped only when the index's one ingest batch (``origin !=
  "retract"``) is an overwrite ``build``: an overwrite replaces the
  directory, so there is nothing to replay against, while an
  append-created single batch (a streamed first micro-batch, torn and
  replayed) carries duplicates under one committed id;
- no retracted rows (:meth:`Snapshot.live`, which the derived caches'
  probes apply too): the tier's committed tombstones (a tombstone
  counts only when its batch id is in the tier's own commit record)
  are anti-joined out on its id column. The anti-join is not a forced
  broadcast: retraction sets grow without bound at crawl scale, and
  AQE promotes it while they are small.

**Versions.** A fresh MinHash or IVF build writes the flat layout
``<index_dir>/<comp>`` after :func:`reset_versions` drops any versioned
history, which would otherwise shadow it. The text tiers share one
directory, so their builds do not reset it (that would drop the other
tiers' components): an overwrite build rewrites its own tier's
components in place, resolved through :func:`index_component_path`,
so inside the live snapshot once one was published. Every overwrite
build deletes its tiers' commit records first (:func:`reset_tier`; a
MinHash build resets both of its tiers before writing either), so a
torn rebuild fails loudly instead of reading new data against stale
commit ids. An IVF build also removes the centroids every probe needs.
Compaction and rebuild write a whole snapshot into the staging root
:func:`next_version` returns (``versions/v<N+1>/``); compaction
restamps each tier's live rows there as one ``build`` batch
(:func:`restamp_live`). Then
:func:`publish_version` makes it live by atomically replacing the
``CURRENT`` pointer file: a temp pointer, ``flush`` + ``fsync``, then
``os.replace``. There is never a window
where a live component is missing. A reader that resolved ``CURRENT``
before the swap keeps reading the previous version; one that resolves
after reads the new one. A read of several components (data, record,
tombstones, totals, centroids, codes) opens one snapshot and takes
every path from it, so a publish in between cannot pair two versions'
components. A crash
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

import hashlib
import os
import shutil
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def index_component_path(index_dir: str, comp: str) -> str:
    """Resolve one index component through the ``CURRENT`` pointer:
    ``<snapshot_dir>/<comp>`` (:func:`snapshot_dir`). Writers and
    one-component reads resolve through this function; a read of
    several components takes them from one :func:`open_snapshot`."""
    return os.path.join(snapshot_dir(index_dir), comp)


def snapshot_dir(index_dir: str) -> str:
    """The directory ``CURRENT`` resolves components under:
    ``<index_dir>/versions/<v>`` once a version was published, the flat
    ``<index_dir>`` before."""
    v = current_index_version(index_dir)
    return os.path.join(index_dir, "versions", v) if v else index_dir


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


@dataclass(frozen=True)
class Tier:
    """A stamped tier (see **Tiers**): its components, the ``key`` of a
    row within a batch, the ``id_col`` batch ids are taken over, its id
    prefixes, the ``longs`` its commit rows carry and its data layout
    (:func:`laid_out`). A tier without ``tombstones`` is never
    retracted."""

    data: str
    record: str
    key: tuple[str, ...]
    id_col: str
    ingest_prefix: str
    tombstones: str | None = None
    retract_prefix: str | None = None
    partition: str | None = None
    sort: str | None = None
    longs: tuple[str, ...] = ()

    @property
    def components(self) -> tuple[str, ...]:
        return tuple(c for c in (self.data, self.record, self.tombstones) if c)

    @property
    def record_schema(self) -> str:
        """The commit record's columns: ``longs`` as bigints, then
        ``batch_id`` and ``origin``."""
        longs = "".join(f"{c} long, " for c in self.longs)
        return longs + "batch_id string, origin string"


def batch_id_col(key: str, prefix: str = "") -> Column:
    """Aggregate expression for a batch's content-derived id,
    ``md5("[prefix:]min(key):max(key):count")``, aliased ``batch_id``.
    It touches only ``key``, so Catalyst prunes the scan to that column.
    Prefixes keep id spaces of different batch kinds disjoint (the
    **Tiers** table)."""
    parts = ([F.lit(prefix)] if prefix else []) + [
        F.min(key),
        F.max(key),
        F.count(F.lit(1)),
    ]
    return F.md5(F.concat_ws(":", *parts)).alias("batch_id")


def batch_id_of(df: DataFrame, tier: Tier, retract: bool = False) -> str:
    """The id of ``df`` as one of ``tier``'s ingest batches, or its
    retraction batches when ``retract``: one id-column aggregate."""
    prefix = tier.retract_prefix if retract else tier.ingest_prefix
    return df.agg(batch_id_col(tier.id_col, prefix)).collect()[0]["batch_id"]


#: Largest committed-id set a read filters as a plan-time ``isin``
#: literal; larger sets use a broadcast semi-join. Batch counts are
#: control-plane sized (one id per batch), so even heavy streaming stays
#: in the hundreds between compactions.
BATCH_ISIN_CAP = 128


def laid_out(df: DataFrame, tier: Tier) -> DataFrame:
    """``df`` hash-partitioned by the tier's partition column (each
    value in one task's file), then sorted by its sort column."""
    if tier.partition:
        df = df.repartition(tier.partition)
    return df.sortWithinPartitions(tier.sort) if tier.sort else df


def write_stamped(
    df: DataFrame, index_dir: str, tier: Tier, bid: str, mode: str
) -> None:
    """Write ``df`` as the tier's data rows, each stamped with ``bid``,
    partitioned by the tier's partition column when it has one."""
    writer = df.withColumn("batch_id", F.lit(bid)).write.mode(mode)
    if tier.partition:
        writer = writer.partitionBy(tier.partition)
    writer.parquet(index_component_path(index_dir, tier.data))


def write_batch(df: DataFrame, index_dir: str, tier: Tier, bid: str, mode: str) -> None:
    """:func:`write_stamped`, then the batch's commit row: ``build`` for
    an overwrite, else ``append``."""
    write_stamped(df, index_dir, tier, bid, mode)
    commit_batch(
        df.sparkSession, index_dir, tier, bid, "build" if mode == "overwrite" else "append"
    )


def commit_batch(
    spark: SparkSession,
    index_dir: str,
    tier: Tier,
    bid: str,
    origin: str,
    **longs: int,
) -> None:
    """Write one commit row ``(*longs, batch_id, origin)`` to the tier's
    commit record (:attr:`Tier.record_schema`; ``longs`` names the
    tier's ``longs``: the text ``totals`` row's ``n_docs`` and
    ``total_len``); a ``build`` row replaces the record, any other
    appends to it."""
    spark.createDataFrame(
        [(*(longs[c] for c in tier.longs), bid, origin)], tier.record_schema
    ).write.mode("overwrite" if origin == "build" else "append").parquet(
        index_component_path(index_dir, tier.record)
    )


def reset_tier(index_dir: str, tier: Tier) -> None:
    """Before an in-place overwrite build: delete the tier's commit
    record, which de-commits the superseded data and tombstones, and
    its tombstone component, so a later retraction whose content id
    collides with a stale tombstone batch cannot resurrect its rows."""
    for comp in tier.components[1:]:
        shutil.rmtree(index_component_path(index_dir, comp), ignore_errors=True)


def retract_batch(
    df: DataFrame, index_dir: str, tier: Tier, bid: str, **longs: int
) -> None:
    """One retraction batch: the distinct ids of ``df``'s id column as
    tombstone rows, then the ``retract`` commit row (``longs`` as in
    :func:`commit_batch`)."""
    df.select(tier.id_col).distinct().withColumn("batch_id", F.lit(bid)).write.mode(
        "append"
    ).parquet(index_component_path(index_dir, tier.tombstones))
    commit_batch(df.sparkSession, index_dir, tier, bid, "retract", **longs)


def has_commits(index_dir: str, tier: Tier) -> bool:
    """Whether the tier's commit record holds a commit (no Spark job)."""
    path = index_component_path(index_dir, tier.record)
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_uncommitted(
    df: DataFrame,
    index_dir: str,
    writes: Mapping[Tier, Callable[[str], None]],
    retract: bool = False,
) -> None:
    """The streaming sinks' replay guard: for each tier in ``writes``, in
    order, its writer gets the tier's batch id over ``df`` unless the id
    is already committed. Tiers with one id rule share one computation;
    each is guarded alone, so a crash between two tiers' writes replays
    only the missing one."""
    snap = open_snapshot(df.sparkSession, index_dir, tuple(writes))
    ids: dict[tuple[str, str], str] = {}
    for tier, write in writes.items():
        rule = (tier.id_col, tier.retract_prefix if retract else tier.ingest_prefix)
        if rule not in ids:
            ids[rule] = batch_id_of(df, tier, retract)
        if ids[rule] not in snap.committed(tier):
            write(ids[rule])


def _id_frame(spark: SparkSession, ids: list[str]) -> DataFrame:
    return spark.createDataFrame([(b,) for b in ids], "batch_id string")


@dataclass(frozen=True)
class Snapshot:
    """One read's view of an index (see **Reads**): the directory
    ``CURRENT`` resolved to, and the commit rows of each tier named at
    :func:`open_snapshot` (None: the record holds no commit)."""

    spark: SparkSession
    root: str
    records: Mapping[Tier, list[Row] | None]

    def path(self, comp: str) -> str:
        return os.path.join(self.root, comp)

    def has(self, comp: str) -> bool:
        return os.path.isdir(self.path(comp))

    def _record(self, tier: Tier) -> list[Row]:
        rows = self.records[tier]
        if rows is None:
            raise FileNotFoundError(f"no commit in {self.path(tier.record)}")
        return rows

    def committed(self, tier: Tier) -> list[str]:
        """The tier's committed batch ids, sorted; none before its first
        commit."""
        return sorted({r["batch_id"] for r in self.records[tier] or ()})

    def longs(self, tier: Tier) -> Row:
        """The record's long columns (:func:`commit_batch`'s ``longs``)
        summed over its distinct batch ids, so a replayed commit row
        counts once; retraction rows carry negative longs."""
        rows = {r["batch_id"]: r for r in self._record(tier)}.values()
        return Row(**{c: sum(r[c] for r in rows) for c in tier.longs})

    def tombstones(self, tier: Tier) -> DataFrame | None:
        """Distinct ids retracted from the tier: its tombstone rows whose
        batch id is committed, without ``batch_id``. None when it has no
        tombstone component (the common case: no read, no plan change)."""
        if not tier.tombstones or not self.has(tier.tombstones):
            return None
        ids = _id_frame(self.spark, self.committed(tier))
        return (
            self.spark.read.parquet(self.path(tier.tombstones))
            .join(F.broadcast(ids), "batch_id", "leftsemi")
            .drop("batch_id")
            .distinct()
        )

    def live(self, df: DataFrame, tier: Tier) -> DataFrame:
        """``df`` without the rows of ids the tier retracted."""
        dead = self.tombstones(tier)
        return df if dead is None else df.join(dead, tier.id_col, "anti")

    def read(self, tier: Tier, prune: Sequence[Column] = ()) -> DataFrame:
        """The live rows of the tier's data component, under the
        **Reads** contract: filtered by the ``prune`` predicates first
        (in order, so partition filters stay static), then reconciled
        against the tier's commit record and tombstones. The result
        keeps ``batch_id``. A record without a commit fails loudly."""
        df = self.spark.read.parquet(self.path(tier.data))
        for pred in prune:
            df = df.filter(pred)
        rows = self._record(tier)
        ingest = {r["batch_id"]: r["origin"] for r in rows if r["origin"] != "retract"}
        committed = self.committed(tier)
        if len(committed) <= BATCH_ISIN_CAP:
            df = df.filter(F.col("batch_id").isin(committed))
        else:
            ids = F.broadcast(_id_frame(self.spark, committed))
            df = df.join(ids, "batch_id", "leftsemi")
        if list(ingest.values()) != ["build"]:
            df = df.dropDuplicates([*tier.key, "batch_id"])
        return self.live(df, tier)


def open_snapshot(
    spark: SparkSession, index_dir: str, tiers: Sequence[Tier] = ()
) -> Snapshot:
    """Open one read's :class:`Snapshot`: resolve ``CURRENT`` once and
    collect each of ``tiers``' commit records, whole, if it holds a
    commit (``_SUCCESS``). The record's schema is declared
    (:attr:`Tier.record_schema`), so the collect is the one Spark job
    per tier; its rows are bounded by the batch count."""
    root = snapshot_dir(index_dir)
    records = {}
    for tier in tiers:
        path = os.path.join(root, tier.record)
        committed = os.path.exists(os.path.join(path, "_SUCCESS"))
        records[tier] = (
            spark.read.schema(tier.record_schema).parquet(path).collect()
            if committed
            else None
        )
    return Snapshot(spark, root, records)


def reconciled_read(
    spark: SparkSession,
    index_dir: str,
    tier: Tier,
    prune: Sequence[Column] = (),
) -> DataFrame:
    """:meth:`Snapshot.read` of one tier on a snapshot of its own."""
    return open_snapshot(spark, index_dir, (tier,)).read(tier, prune)


def parquet_file_count(path: str) -> int:
    """Parquet files under ``path``, partition dirs included."""
    return sum(
        f.endswith(".parquet") for _root, _dirs, files in os.walk(path) for f in files
    )


def restamp_live(
    snap: Snapshot,
    root: str,
    tier: Tier,
    seed: str,
    drop: DataFrame | None = None,
    **longs: int,
) -> tuple[DataFrame, dict]:
    """Compaction's rewrite of one tier: its live rows in ``snap``, less
    the ids in ``drop``, written under the staging ``root`` as one
    ``build`` batch (``longs`` as in :func:`commit_batch`) with id
    ``md5("seed:rows")``, so recompacting an unchanged index is
    bit-reproducible. Returns the rows and the {before, after,
    files_before, files_after} counts."""
    spark, old = snap.spark, snap.path(tier.data)
    rows = snap.read(tier)
    if drop is not None:
        rows = rows.join(drop, tier.id_col, "anti")
    n = rows.count()
    bid = hashlib.md5(f"{seed}:{n}".encode()).hexdigest()
    write_stamped(laid_out(rows, tier), root, tier, bid, "overwrite")
    commit_batch(spark, root, tier, bid, "build", **longs)
    return rows, {
        "before": spark.read.parquet(old).count(),
        "after": n,
        "files_before": parquet_file_count(old),
        "files_after": parquet_file_count(os.path.join(root, tier.data)),
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
