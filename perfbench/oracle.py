"""Output check against DuckDB running SparkEntry.oracleSql on the same
input directory. Normalization and comparison mirror tools/check_oracle.py:
columns sorted by name, rows sorted on their string forms, then an exact
compare of every value's string form. Expected answers are cached, keyed
by the input files' bytes and the SQL text.
"""
import glob
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def as_strings(df):
    """The normalized frame as {"columns": [...], "rows": [[str, ...], ...]}."""
    df = norm(df)
    cols = [df[c].astype(str).tolist() for c in df.columns]
    return {"columns": list(df.columns), "rows": [list(r) for r in zip(*cols)]}


def inputs_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        with open(os.path.join(data_dir, t + ".parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compare(got, want):
    """'pass', or a one-line reason for the mismatch."""
    if got["columns"] != want["columns"]:
        return "columns %s vs %s" % (got["columns"], want["columns"])
    if len(got["rows"]) != len(want["rows"]):
        return "rows %d vs %d" % (len(got["rows"]), len(want["rows"]))
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        if a != b:
            return "row %d: %s vs %s" % (i, a[:6], b[:6])
    return "pass"


class Oracle:
    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.digest = inputs_digest(data_dir)
        self.con = None
        self.misses = 0

    def _connect(self):
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data_dir, t + ".parquet").replace("'", "''")
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
        return con

    def expected(self, sql):
        key = hashlib.sha256((self.digest + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            self.con = self._connect()
        self.misses += 1
        want = as_strings(self.con.sql(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, path)
        return want

    def verdict(self, out_dir, sql):
        import pandas as pd
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return "no spark output"
        got = as_strings(pd.concat([pd.read_parquet(f) for f in files],
                                   ignore_index=True))
        return compare(got, self.expected(sql))
