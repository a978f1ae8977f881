"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs, so two runs with one seed see
the same data and a run's inputs can be named by ``(seed, sizes)``.
Inputs are built with NumPy and written with pyarrow; Spark is not
involved, so generation cost does not depend on the program under test.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The Opportunity arrival shape of the package's own extract simulator
#: (``sources/sf_datasource.py::_simulated_page``): five stages drawn
#: uniformly, 6% null and 3% unparseable ``Amount`` strings, amounts in
#: cents up to 65,535.99, close dates in 2024 on days 1-28.
STAGES = np.array(["Prospecting", "Qualification", "Proposal", "Negotiation", "Closed Won"])
NULL_AMOUNT_SHARE = 0.06
GARBAGE_AMOUNT_SHARE = 0.03
#: Assumed: the simulator delivers every Id once. Real extracts repeat
#: an Id when a page is fetched twice; 5% makes the dedup stage choose
#: between rows on every run.
DUP_ID_SHARE = 0.05
TYPES = np.array(["New Business", "Existing Business", "Renewal"])


def table_digest(table: pa.Table) -> str:
    """Content hash of an Arrow table (schema + values, row order kept)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue()).hexdigest()


def opportunity_extract(seed: int, rows: int) -> pa.Table:
    """Opportunity-shaped extract, all columns string-typed as a CSV
    extract arrives (the spec's tolerant casts see real strings).

    ``DUP_ID_SHARE`` of the rows repeat an ``Id`` already present (with
    different other fields, so dedup has to choose); ``Amount`` is null
    or unparseable in the simulator's shares. ``Name``, ``OwnerId``,
    ``AccountId`` and ``Type`` are outside the simulator's schema; the
    spec carries them through without reading them."""
    rng = np.random.default_rng([seed, 1])
    n_dup = int(rows * DUP_ID_SHARE)
    n_unique = rows - n_dup

    def sf_ids(prefix: str, values: np.ndarray) -> list[str]:
        return [f"{prefix}{v:015d}" for v in values.tolist()]

    ids = np.asarray(sf_ids("006", rng.choice(10**7, n_unique, replace=False)), dtype=object)
    ids = np.concatenate([ids, ids[rng.integers(0, n_unique, n_dup)]])
    ids = ids[rng.permutation(rows)]

    stage = STAGES[rng.integers(0, len(STAGES), rows)]
    cents = rng.integers(0, 6_553_600, rows).tolist()
    amount = np.asarray([f"{v / 100:.2f}" for v in cents], dtype=object)
    u = rng.random(rows)
    amount[u < NULL_AMOUNT_SHARE] = None
    amount[(u >= NULL_AMOUNT_SHARE) & (u < NULL_AMOUNT_SHARE + GARBAGE_AMOUNT_SHARE)] = "not-a-number"
    months, days = rng.integers(1, 13, rows).tolist(), rng.integers(1, 29, rows).tolist()
    close = [f"2024-{m:02d}-{d:02d}" for m, d in zip(months, days)]
    owner = sf_ids("005", rng.integers(0, 200, rows))
    account = sf_ids("001", rng.integers(0, 20_000, rows))
    name = [f"Opportunity {v}" for v in rng.integers(0, 10**6, rows).tolist()]
    return pa.table(
        {
            "Id": pa.array(ids, pa.string()),
            "Name": pa.array(name, pa.string()),
            "StageName": pa.array(stage, pa.string()),
            "Amount": pa.array(amount, pa.string()),
            "CloseDate": pa.array(close, pa.string()),
            "OwnerId": pa.array(owner, pa.string()),
            "AccountId": pa.array(account, pa.string()),
            "Type": pa.array(TYPES[rng.integers(0, len(TYPES), rows)], pa.string()),
        }
    )


# ----------------------------------------------------------------------
# Crawl corpus
#
# The shape of the repository's sf0.1 ``documents`` table, as
# ``perfbench/fixture_stats.py`` measures it (figures in README.md):
# 30 terms drawn uniformly (3.3-3.4% of tokens each), token lengths
# uniform over 10-100, 4.9% near-duplicates that are another document
# plus the token "dup", 0.16% exact duplicates, languages in the shares
# below and 20 sources drawn uniformly.

TERMS = (
    "a agg batch big column customer data fast filter group hash join key line merge order"
    " part query row scan slow small sort spark stream table the value vector window"
).split()
DUP_MARKER = "dup"
DOC_TOKENS = (10, 100)
NEAR_DUP_SHARE = 0.0486
EXACT_DUP_SHARE = 0.0016
LANG_SHARES = {"de": 0.1404, "en": 0.4118, "es": 0.1488, "fr": 0.1484, "zh": 0.1506}
SOURCES = 20


@dataclass(frozen=True)
class CorpusShape:
    """Sizes of one generated crawl corpus: the base documents indexed
    at set-up, and ``batches`` crawl batches of ``batch_docs`` each."""

    base_docs: int
    batches: int
    batch_docs: int = 100


@dataclass(frozen=True)
class Corpus:
    base: pa.Table
    batches: list[pa.Table]
    queries: list[tuple[tuple[int, str], ...]]


def _doc_table(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    """``n`` documents of the measured shape with ids from ``first_id``.

    Near- and exact duplicates are copies of other documents in the same
    table, in counts rounded from the measured shares, so each batch has
    the same composition. In the measured table a near-duplicate's
    source lies anywhere in the corpus; here it lies in the same batch
    (assumed), because curation runs per batch and a near-duplicate of
    a document in another batch would never meet it."""
    n_near = round(n * NEAR_DUP_SHARE)
    n_exact = round(n * EXACT_DUP_SHARE)
    n_fresh = n - n_near - n_exact
    lengths = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n_fresh)
    words = np.array(TERMS)[rng.integers(0, len(TERMS), int(lengths.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    sources = rng.choice(n_fresh, n_near + n_exact, replace=False)
    texts += [f"{texts[j]} {DUP_MARKER}" for j in sources[:n_near]]
    texts += [texts[j] for j in sources[n_near:]]
    texts = [texts[i] for i in rng.permutation(n)]
    langs = rng.choice(list(LANG_SHARES), n, p=list(LANG_SHARES.values()))
    return pa.table(
        {
            "doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{v}" for v in rng.integers(0, SOURCES, n).tolist()], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def crawl_corpus(seed: int, shape: CorpusShape) -> Corpus:
    """A base corpus plus ``shape.batches`` crawl batches with disjoint,
    increasing doc_ids, and one 3-query probe set per batch.

    Every query pairs two terms drawn uniformly with the near-duplicate
    marker, the one rare term of the measured vocabulary (0.09% of
    tokens), so each probe mixes rare and common terms."""
    rng = np.random.default_rng([seed, 2])
    base = _doc_table(rng, 0, shape.base_docs)
    batches = []
    for b in range(shape.batches):
        batches.append(_doc_table(rng, shape.base_docs + b * shape.batch_docs, shape.batch_docs))
    queries = []
    for _ in range(shape.batches):
        picks = rng.integers(0, len(TERMS), (3, 2))
        queries.append(
            tuple(
                (qid, f"{TERMS[a]} {TERMS[b]} {DUP_MARKER}")
                for qid, (a, b) in enumerate(picks.tolist(), start=1)
            )
        )
    return Corpus(base=base, batches=batches, queries=queries)


def corpus_digest(corpus: Corpus) -> str:
    h = hashlib.sha256()
    for t in [corpus.base, *corpus.batches]:
        h.update(table_digest(t).encode())
    h.update(repr(corpus.queries).encode())
    return h.hexdigest()


def write_parquet(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


