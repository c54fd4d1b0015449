"""Independent output checks for the benchmark.

Engine output and the oracle's output are both brought to Arrow, then
compared on three things: row count, schema (column names and canonical
types) and an order-insensitive hash of the normalised rows. The oracle
is DuckDB running ``__spark_entry__.oracle_sql()`` (registry queries) or
the DuckDB replays that derived the golden TSVs (golden scripts).
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import sys
from dataclasses import dataclass

import duckdb
import pyarrow as pa

from fixtures import TABLES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table present in ``data_dir``
    (single-file tables and make_scale's directory tables alike)."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def type_label(t: pa.DataType) -> str:
    """Canonical type name; widths kept so int32 vs int64 or decimal vs
    double divergence is caught, string/timestamp encodings folded."""
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return str(t)
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{type_label(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{type_label(t.key_type)},{type_label(t.item_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{type_label(f.type)}"
                                    for f in t) + ">"
    return str(t)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, (list, tuple)):
        # Arrow returns a map as a list of (key, value) pairs
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


@dataclass
class Digest:
    rows: int
    schema: dict[str, str]
    hash: str


def digest(tbl: pa.Table) -> Digest:
    names = sorted(tbl.column_names)
    cols = [tbl.column(n).to_pylist() for n in names]
    rows = sorted((repr(tuple(_norm(c[i]) for c in cols))
                   for i in range(tbl.num_rows)))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return Digest(tbl.num_rows,
                  {f.name: type_label(f.type) for f in tbl.schema}, h)


def compare(got: pa.Table, want: pa.Table, types: bool = True) -> str | None:
    """None when equal, else a one-line reason."""
    g, w = digest(got), digest(want)
    if g.rows != w.rows:
        return f"row count {g.rows} != oracle {w.rows}"
    if set(g.schema) != set(w.schema):
        return f"columns {sorted(g.schema)} != oracle {sorted(w.schema)}"
    if types:
        bad = [f"{n}: {g.schema[n]} vs {w.schema[n]}" for n in g.schema
               if g.schema[n] != w.schema[n] and w.schema[n] != "null"]
        if bad:
            return "types differ: " + "; ".join(bad)
    if g.hash != w.hash:
        return "row values differ (order-insensitive hash)"
    return None


def golden_cells(tbl: pa.Table) -> pa.Table:
    """The golden harness's cell formatting (NULL, floats to 4 places,
    everything else str), applied column-wise, as a string table."""
    def fmt(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.4f}"
        return str(v)
    return pa.table({n: pa.array([fmt(v) for v in tbl.column(n).to_pylist()],
                                 type=pa.string())
                     for n in tbl.column_names})


def golden_replays(repo: str) -> dict[str, str]:
    """The DuckDB SQL replays behind tests/golden/*.expected.tsv, read
    from tools/gen_pigmix_goldens.py (its argv parsing runs at import,
    so it is loaded with an empty argument list)."""
    path = os.path.join(repo, "tools", "gen_pigmix_goldens.py")
    spec = importlib.util.spec_from_file_location("gen_pigmix_goldens", path)
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, [path]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return dict(mod.ORACLES)
