"""DuckDB oracle check for face outputs.

The normalisation is the one `tools/check.py` applies: columns sorted by
name, values rendered as text (floats to 10 significant digits, nulls as
NULL), rows sorted, then hashed. Expected values are cached per oracle SQL
text, so they are recomputed only when it changes.
"""
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    import pandas as pd
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if not isinstance(v, (list, tuple, dict)) and pd.isna(v):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)


def frame_hash(df):
    df = df[sorted(df.columns)]
    rows = ["\x01".join(norm(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return hashlib.sha256("\x02".join(rows).encode()).hexdigest()[:16]


def summary(df):
    return {"cols": sorted(df.columns), "rows": len(df), "hash": frame_hash(df)}


class Oracle:
    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connect(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 1")
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self._con

    def expected(self, sql):
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        exp = summary(self._connect().execute(sql).df())
        with open(path + ".tmp", "w") as f:
            json.dump(exp, f)
        os.replace(path + ".tmp", path)
        return exp

    def close(self):
        if self._con is not None:
            self._con.close()
            self._con = None


def verdict(got_dir, exp):
    """Empty string when the parquet output in `got_dir` matches `exp`,
    otherwise what differs."""
    import pyarrow.parquet as pq
    if not os.path.isdir(got_dir):
        return "no output"
    got = summary(pq.read_table(got_dir).to_pandas())
    if got["cols"] != exp["cols"]:
        return f"columns {got['cols']} != {exp['cols']}"
    if got["rows"] != exp["rows"]:
        return f"rows {got['rows']} != {exp['rows']}"
    if got["hash"] != exp["hash"]:
        return "value hash differs"
    return ""
