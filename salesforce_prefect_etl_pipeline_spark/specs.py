"""Declarative table/query spec registry — the engine's "query language".

Port of the reference's ``ObjectSpec`` dataclass and registry
(``configs/salesforce_objects.py:5-12`` and the 24 registered objects at
``:15-195``), generalized beyond Salesforce objects:

- ``fields``        -> projection (SOQL SELECT list analog; pushed into the
                       parquet scan by Catalyst column pruning).
- ``where``         -> filter (SOQL WHERE analog; predicate pushdown).
- ``group_by``      -> aggregation keys.
- ``metrics``       -> ``{column: [ops]}`` with ops in
                       ``sum|mean|min|max|count`` (``configs/...py:11``).
- ``required_cols`` -> schema-gate contract (``tasks/quality_parallel.py:37``).
- ``derived``       -> named derived-column SQL expressions, generalizing the
                       reference's ``__DURATION_HOURS__`` pseudo-metric
                       (``tasks/process.py:30-41,89-97``): a derived name may
                       be used in ``metrics`` like any physical column.
- ``limit``         -> optional row limit at the source (SOQL LIMIT analog,
                       ``tasks/extract.py:32``).

Registered specs target the driver testdata tables (TESTDATA.md); the
reference-shaped Salesforce specs are representable one-for-one (see
``tests/test_spec_compiler.py``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

VALID_OPS = ("sum", "mean", "min", "max", "count")


@dataclass(frozen=True)
class TableSpec:
    """Declarative aggregation query over one table.

    Mirrors the reference ObjectSpec (configs/salesforce_objects.py:5-12):
    ``api_name`` -> ``table``; same fields/where/group_by/metrics/
    required_cols semantics; ``derived`` generalizes __DURATION_HOURS__.
    """

    name: str
    table: str
    fields: tuple[str, ...] = ()
    where: str | None = None
    group_by: tuple[str, ...] = ()
    metrics: dict[str, tuple[str, ...]] = field(default_factory=dict)
    required_cols: tuple[str, ...] = ()
    derived: dict[str, str] = field(default_factory=dict)
    limit: int | None = None

    def __post_init__(self) -> None:
        for col, ops in self.metrics.items():
            for op in ops:
                if op not in VALID_OPS:
                    raise ValueError(f"spec {self.name}: unknown op {op!r} for {col!r}")


SPECS: dict[str, TableSpec] = {}


def register(spec: TableSpec) -> TableSpec:
    SPECS[spec.name] = spec
    return spec


# --- Registered specs over the driver testdata (TESTDATA.md) -----------
# Flagship: mirrors Opportunity-by-StageName (configs/salesforce_objects.py:38-44).
register(
    TableSpec(
        name="orders_by_status",
        table="orders",
        fields=("o_orderkey", "o_orderstatus", "o_totalprice"),
        group_by=("o_orderstatus",),
        metrics={"o_totalprice": ("sum", "mean", "count")},
        required_cols=("o_orderkey", "o_orderstatus", "o_totalprice"),
    )
)

# Mirrors Account-by-Industry (configs/salesforce_objects.py:17-23).
register(
    TableSpec(
        name="customer_by_mktsegment",
        table="customer",
        fields=("c_custkey", "c_mktsegment", "c_acctbal"),
        group_by=("c_mktsegment",),
        metrics={"c_acctbal": ("sum", "mean", "min", "max")},
        required_cols=("c_custkey", "c_mktsegment"),
    )
)

# Multi-key group-by, mirrors Case-by-[Status,Priority]
# (configs/salesforce_objects.py:52-58).
register(
    TableSpec(
        name="part_by_brand_type",
        table="part",
        fields=("p_partkey", "p_brand", "p_type", "p_retailprice", "p_size"),
        group_by=("p_brand", "p_type"),
        metrics={"p_retailprice": ("sum", "mean"), "p_size": ("min", "max")},
        required_cols=("p_partkey",),
    )
)

# Global (no-key) aggregation — tasks/process.py:104 select branch.
register(
    TableSpec(
        name="lineitem_global",
        table="lineitem",
        group_by=(),
        metrics={"l_quantity": ("sum", "mean", "min", "max"), "l_extendedprice": ("sum",)},
    )
)

# Derived-column metric, generalizing __DURATION_HOURS__
# (tasks/process.py:30-41): revenue = extendedprice * (1 - discount).
register(
    TableSpec(
        name="lineitem_revenue_by_flag",
        table="lineitem",
        group_by=("l_returnflag", "l_linestatus"),
        derived={"revenue": "l_extendedprice * (1 - l_discount)"},
        metrics={"revenue": ("sum", "mean"), "l_quantity": ("sum",)},
    )
)

# WHERE passthrough (configs/salesforce_objects.py:12; unused in shipped
# reference specs but the mechanism is part of the surface).
register(
    TableSpec(
        name="orders_open_by_priority",
        table="orders",
        where="o_orderstatus = 'O'",
        group_by=("o_orderpriority",),
        metrics={"o_totalprice": ("sum", "count")},
    )
)

# Missing-group-key synthesis (_ensure_cols UNKNOWN fill,
# tasks/process.py:11-16,99) — 'channel' does not exist on orders.
register(
    TableSpec(
        name="orders_by_missing_channel",
        table="orders",
        group_by=("channel",),
        metrics={"o_totalprice": ("sum",)},
    )
)

# Missing-metric synthesis (literal 0.0, tasks/process.py:23-24).
register(
    TableSpec(
        name="orders_missing_metric",
        table="orders",
        group_by=("o_orderstatus",),
        metrics={"nonexistent_amount": ("sum", "mean")},
    )
)

# Timestamp-difference derived metric on events — the duration pattern
# (tasks/process.py:89-97) expressed per-group instead of per-row.
register(
    TableSpec(
        name="events_value_by_type",
        table="events",
        group_by=("event_type",),
        metrics={"value": ("sum", "mean", "min", "max")},
    )
)
