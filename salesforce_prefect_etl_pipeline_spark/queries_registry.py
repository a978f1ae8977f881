"""Registry binding query names -> (Spark callable, DuckDB oracle SQL).

This is the single source of truth consumed by ``__spark_entry__``:
``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLES[name]`` (a
DuckDB-compatible SQL string over the pre-registered testdata views).
Names without an oracle entry get the driver's weaker rows-only check.
It also holds :func:`build_once`, the one gate every persisted index
fixture the registered queries probe is built through.

Sections mirror SURVEY.md §2 plus the north-star extensions.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from salesforce_prefect_etl_pipeline_spark.plans import compile_spec, spec_oracle_sql
from salesforce_prefect_etl_pipeline_spark.specs import SPECS

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register_query(
    name: str,
    fn: Callable[[SparkSession, str], DataFrame],
    oracle: str | None = None,
) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


def _register_spec_queries() -> None:
    """Every registered TableSpec becomes a query + generated oracle —
    the reference's whole config-driven aggregation surface
    (tasks/process.py via plans.compiler)."""
    for spec_name, spec in SPECS.items():
        if spec.limit is not None:
            continue  # LIMIT-without-order is nondeterministic; tested in pytest
        register_query(
            f"spec_{spec_name}",
            (lambda spark, sf_dir, s=spec: compile_spec(spark, s, sf_dir)),
            spec_oracle_sql(spec),
        )


_register_spec_queries()

# Extension query modules register themselves on import; the composition
# root that imports them all is queries_all (kept separate so individual
# query modules can be imported directly without a cycle through here).


#: File a persisted fixture's directory carries once its whole build ran.
FIXTURE_MARKER = "_FIXTURE"


def fixture_dir(root: str, sf_dir: str, layout: str) -> str:
    """``<root>/<testdata dir name><layout>``: one fixture directory per
    testdata dir and layout tag."""
    return os.path.join(root, (os.path.basename(sf_dir.rstrip("/")) or "sf") + layout)


def build_once(path: str, upstream: str, build: Callable[[str], object]) -> str:
    """The build-once gate of the persisted fixtures the registered
    queries probe; returns ``path``. The fixture is fresh while
    ``path`` holds the marker and it is not older than ``upstream``:
    the source parquet for a base fixture, the base fixture's marker
    for one derived from it. Otherwise ``path`` is wiped, ``build(path)``
    runs, and the marker is written last (temp file, then
    ``os.replace``), so a build that crashed at any step leaves no
    marker and the next call rebuilds from scratch."""
    marker = os.path.join(path, FIXTURE_MARKER)
    if os.path.exists(marker) and (
        os.path.getmtime(marker) >= os.path.getmtime(upstream)
    ):
        return path
    shutil.rmtree(path, ignore_errors=True)
    build(path)
    os.makedirs(path, exist_ok=True)
    open(f"{marker}.tmp", "w").close()
    os.replace(f"{marker}.tmp", marker)
    return path


def build_derived(base_dir: str, comp: str, build: Callable[[], object]) -> str:
    """Gate a component derived from the base fixture at ``base_dir``:
    ``base_dir/comp`` is rebuilt by ``build()`` whenever the base was
    (the base's marker is its upstream). Returns ``base_dir``."""
    build_once(
        os.path.join(base_dir, comp),
        os.path.join(base_dir, FIXTURE_MARKER),
        lambda _: build(),
    )
    return base_dir
