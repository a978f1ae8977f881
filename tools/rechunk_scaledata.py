"""Rewrite the .scaledata parquet tables with production-shaped row
groups (content-identical, layout-only change).

`gen_scale_data.py` coalesces each table to ONE file with Spark's
default 128 MB parquet block size, so even sf1's 113 MB lineitem lands
in a single row group — and a single-row-group file is unsplittable in
practice (every byte-range split except one is empty), which serializes
the scan side of every query on one core. A production corpus arrives
as thousands of files/row groups; this tool gives the scaling fixture
the same property while keeping the driver's one-file-per-table layout
(the streaming sources symlink `{sf_dir}/events.parquet`).

Values, row order, schema and compression are preserved exactly —
verify with the printed DuckDB content checksums (before == after).

Usage: python tools/rechunk_scaledata.py [dir ...]
       (defaults to .scaledata/sf0.3 and .scaledata/sf1)
"""

from __future__ import annotations

import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

#: Target row group count per file. 16 groups give a 32-thread local
#: scan real splits while keeping groups far above parquet's efficient
#: minimum at these table sizes.
TARGET_GROUPS = 16
#: Floor so small tables keep a sane single group instead of confetti.
MIN_ROWS_PER_GROUP = 50_000


def checksum(con, path: str) -> tuple:
    # Stable whole-table content hash: md5 of the concatenated row
    # renderings, summed as two independent halves (order-insensitive).
    return con.execute(
        f"""
        SELECT count(*),
               sum(CAST(concat('0x', substr(md5(CAST(t AS VARCHAR)), 1, 15)) AS UBIGINT)),
               sum(CAST(concat('0x', substr(md5(CAST(t AS VARCHAR)), 17, 15)) AS UBIGINT))
        FROM read_parquet('{path}') t
        """
    ).fetchone()


def _rows_per_group(n_rows: int, target_groups: int, min_rows_per_group: int) -> int:
    return max(min_rows_per_group, n_rows // target_groups)


def expected_min_groups(
    n_rows: int,
    target_groups: int = TARGET_GROUPS,
    min_rows_per_group: int = MIN_ROWS_PER_GROUP,
) -> int:
    """Row groups a rechunked file of ``n_rows`` must have at minimum —
    the assertable post-condition callers (gen_scale_data) check so a
    regenerated fixture can never silently revert to the one-57 MB-row-
    group layout that serialized every scan at sf10 (r16 forensics)."""
    return max(1, n_rows // _rows_per_group(n_rows, target_groups, min_rows_per_group))


def main(
    dirs: list[str] | None = None,
    target_groups: int = TARGET_GROUPS,
    min_rows_per_group: int = MIN_ROWS_PER_GROUP,
) -> int:
    dirs = dirs if dirs is not None else (
        sys.argv[1:] or [".scaledata/sf0.3", ".scaledata/sf1"]
    )
    con = duckdb.connect()
    for d in dirs:
        for path in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            f = pq.ParquetFile(path)
            n = f.metadata.num_rows
            if f.metadata.num_row_groups >= expected_min_groups(
                n, target_groups, min_rows_per_group
            ):
                print(f"skip {path}: already {f.metadata.num_row_groups} groups")
                continue
            before = checksum(con, path)
            table = f.read()
            # Normalize any timestamp column to MICROS-ntz — the same
            # encoding the driver testdata uses and load_table's
            # dtype-dispatch handles. A naive pyarrow roundtrip once
            # left events.ts as TIMESTAMP(NANOS) while the copied-over
            # Spark row.metadata key still claimed plain 'timestamp';
            # Spark then trusted its own metadata and the vectorized
            # reader refused the nanos column mid-scan. Lossless-cast
            # guard + metadata strip prevent both halves of that.
            import pyarrow as pa
            import pyarrow.compute as pc

            for i, fld in enumerate(table.schema):
                if pa.types.is_timestamp(fld.type) and fld.type.unit != "us":
                    col = table.column(i).combine_chunks()
                    cast = col.cast(pa.timestamp("us"))
                    if not pc.all(pc.equal(cast.cast(fld.type), col)).as_py():
                        raise SystemExit(f"{path}: lossy ts cast in {fld.name}")
                    table = table.set_column(
                        i, pa.field(fld.name, pa.timestamp("us")), cast
                    )
            table = table.replace_schema_metadata({})
            tmp = path + ".rechunk"
            pq.write_table(
                table,
                tmp,
                row_group_size=_rows_per_group(n, target_groups, min_rows_per_group),
                compression="snappy",
            )
            after = checksum(con, tmp)
            if before != after:
                os.remove(tmp)
                raise SystemExit(f"CONTENT MISMATCH rewriting {path}: {before} vs {after}")
            os.replace(tmp, path)
            g = pq.ParquetFile(path).metadata.num_row_groups
            print(f"ok {path}: {n} rows -> {g} groups (checksum {before[1]:x}/{before[2]:x})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
