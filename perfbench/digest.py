"""Output digests: each query's result is reduced to a hash of its values,
normalised the way tools/check.py compares the program with its DuckDB
oracle (columns sorted by name, cells as strings with doubles as %.9g, rows
sorted), plus each column's numeric class, because check.py also fails an
int column that the oracle returns as float. The rules are copied here
rather than imported so that the stored digests stay valid whatever happens
to the repository's own tools.

Digests are taken once from the oracle SQL run in DuckDB and cached in
`perfbench/digests.json`, keyed by the hash of the oracle text and the data
version. A query whose oracle DuckDB cannot finish carries a digest taken
from the program's own output at the commit that defined the benchmark, with
`"source": "spark-seed"`.
"""
import glob
import hashlib
import json
import os

import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _kind(dtype):
    k = getattr(dtype, "kind", "O")
    return "int" if k in "iu" else "float" if k == "f" else "other"


def of_frame(df: pd.DataFrame) -> dict:
    """{"hash", "rows", "kinds"} of a result frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    cells = df.apply(lambda c: c.map(_cell)) if len(df.columns) else df
    if len(df.columns):
        cells = cells.sort_values(by=list(cells.columns), kind="mergesort")
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for row in cells.itertuples(index=False):
        h.update(("\x1f".join(row) + "\n").encode())
    return {"hash": h.hexdigest(), "rows": len(df),
            "kinds": {c: _kind(df[c].dtype) for c in df.columns}}


def of_dump(path: str):
    """Digest of a result the harness wrote as parquet, None if absent."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return of_frame(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))


def matches(got: dict, want: dict) -> bool:
    """Equal values, and no column the one side reads as int and the other
    as float (check.py's dtype rule)."""
    if got is None or got["hash"] != want["hash"]:
        return False
    return not any({k, want["kinds"].get(c)} == {"int", "float"}
                   for c, k in got["kinds"].items())


def key(oracle_text: str, data_version: str) -> str:
    return hashlib.sha256((data_version + "\n" + oracle_text).encode()).hexdigest()[:32]


def of_oracle(sql: str, data_dir: str, temp_dir: str,
              memory_limit="3GB", threads=2) -> dict:
    """Digest of an oracle's result in DuckDB over the fixture tables."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{memory_limit}'")
    con.execute(f"SET threads={threads}")
    con.execute(f"SET temp_directory='{temp_dir}'")
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
        return of_frame(con.execute(sql).fetchdf())
    finally:
        con.close()
