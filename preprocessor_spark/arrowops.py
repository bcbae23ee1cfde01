"""Arrow grouping for the driver side of the jobs."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc


def group_by(table: pa.Table, keys: list[str], aggregations: list[tuple]) -> pa.Table:
    """``table.group_by(keys).aggregate(aggregations)``: the keys, then one
    ``<column>_<function>`` column per aggregation. Single-threaded, so
    that sums fold in one fixed order; null keys form a group, as in a
    Spark aggregate.

    pyarrow's hash grouping can split one group into several when a key
    holding nulls precedes another key (pyarrow 16: a nullable string
    source before the bucket key gave 15,023 groups for 13,514 distinct
    pairs). So each key with nulls is grouped as null-free stand-ins, its
    null flag and its values with the nulls filled, and restored after.
    """
    cols, by, nullable = {}, [], set()
    for k in keys:
        col = table[k]
        if col.null_count:
            nullable.add(k)
            cols[f"__null_{k}"] = pc.is_null(col)
            by.append(f"__null_{k}")
            valid = col.drop_null()
            if not len(valid):  # all null: the flag is the whole key
                continue
            col = pc.fill_null(col, valid[0])
        cols[k] = col
        by.append(k)
    for c, _fn in aggregations:
        cols.setdefault(c, table[c])
    grouped = pa.table(cols).group_by(by, use_threads=False).aggregate(aggregations)
    out = {}
    for k in keys:
        typ = table.schema.field(k).type
        if k not in cols:
            out[k] = pa.nulls(grouped.num_rows, typ)
        elif k in nullable:
            out[k] = pc.if_else(grouped[f"__null_{k}"], pa.scalar(None, typ), grouped[k])
        else:
            out[k] = grouped[k]
    for c, fn in aggregations:
        out[f"{c}_{fn}"] = grouped[f"{c}_{fn}"]
    return pa.table(out)
