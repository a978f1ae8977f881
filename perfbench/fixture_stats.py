"""Measure a documents table, the source of the corpus generator's shape.

    python3 perfbench/fixture_stats.py "$SPARK_GRAFT_SF_DIR/documents.parquet"

Prints one JSON object: token-length distribution, share of documents
under the curation token floor, term frequencies, exact-duplicate share,
near-duplicates made by appending tokens to another document, the share
the package's own curation replay (``corpus.e2e_curation_sql`` in
DuckDB) keeps, and the language and source mix. ``perfbench/gen.py``
takes its corpus constants from this output for the repository's sf0.1
test data; ``perfbench/README.md`` records the figures. The benchmark
itself never reads the table: it runs from a checkout that holds no test
data, so it generates documents of the measured shape.
"""

from __future__ import annotations

import collections
import json
import statistics
import sys
from pathlib import Path

MIN_TOKENS = 16  # e2e_curation's default token floor


def measure(path: str) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    from salesforce_prefect_etl_pipeline_spark.operators import corpus

    table = pq.read_table(path)
    texts = table["text"].to_pylist()
    n = len(texts)
    toks = [t.split() for t in texts]
    lengths = [len(t) for t in toks]
    terms = collections.Counter(w for t in toks for w in t)
    total = sum(terms.values())

    normalized = [" ".join(t).lower() for t in toks]
    exact_dups = n - len(set(normalized))
    # Near-duplicates: the text of another document plus trailing tokens.
    by_text = set(texts)
    appended = collections.Counter()
    for t in toks:
        for cut in range(1, 4):
            if len(t) > cut and " ".join(t[:-cut]) in by_text:
                appended[" ".join(t[-cut:])] += 1
                break

    con = duckdb.connect()
    con.register("documents", table)
    kept = con.execute(f"SELECT count(*) FROM ({corpus.e2e_curation_sql()})").fetchone()[0]
    con.close()

    langs = collections.Counter(table["lang"].to_pylist())
    return {
        "docs": n,
        "tokens": {
            "min": min(lengths),
            "max": max(lengths),
            "mean": statistics.fmean(lengths),
            "quartiles": statistics.quantiles(lengths, n=4),
        },
        "short_share": sum(x < MIN_TOKENS for x in lengths) / n,
        "vocabulary": len(terms),
        "term_shares": {w: c / total for w, c in terms.most_common()},
        "exact_dup_share": exact_dups / n,
        "appended_near_dup_share": sum(appended.values()) / n,
        "appended_tokens": dict(appended.most_common(5)),
        "curation_survivor_share": kept / n,
        "lang_shares": {k: v / n for k, v in sorted(langs.items())},
        "sources": len(set(table["source"].to_pylist())),
    }


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    print(json.dumps(measure(sys.argv[1]), indent=1))
