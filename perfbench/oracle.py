"""DuckDB oracle comparison for the query workloads.

Each query op's check result (one parquet directory per query, written
by the harness) is compared with its `SparkEntry.oracleSql` entry run by
DuckDB over the same corpus, with the repository's own comparison in
`scripts/check.py`: columns sorted by name, rows sorted, the same column
dtype classes, and exact values. A NEAR float match counts as a mismatch.

Oracle results are cached per (corpus version, query, SQL text): the
corpus is read-only, and the brute-force similarity oracles take minutes.
"""
import hashlib
import os
import pickle
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from check import TABLES, canon, dtype_class, dtypes_of, eq  # noqa: E402


class Oracle:
    def __init__(self, corpus_dir, cache_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        with open(os.path.join(corpus_dir, "VERSION")) as f:
            self.version = f.read().strip()
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, name, sql):
        key = hashlib.sha256(f"{self.version}\0{name}\0{sql}".encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        value = (canon(res.fetchall(), cols), dtypes_of(self.con, sql))
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(value, f)
        os.replace(tmp, path)
        return value

    def compare(self, name, sql, result_dir):
        """None when the Spark result equals the oracle, else a reason."""
        try:
            (ocols, orows), otypes = self.expected(name, sql)
        except Exception as e:
            return f"oracle error: {e}"
        if not any(f.endswith(".parquet") for f in os.listdir(result_dir)):
            return "no result written"
        scan = f"SELECT * FROM '{result_dir}/*.parquet'"
        res = self.con.execute(scan)
        scols, srows = canon(res.fetchall(), [d[0] for d in res.description])
        if scols != ocols:
            return f"columns {scols} != {ocols}"
        stypes = dtypes_of(self.con, scan)
        bad = [c for c in ocols if dtype_class(otypes[c]) != dtype_class(stypes[c])]
        if bad:
            return f"dtype mismatch in {bad}"
        if len(srows) != len(orows):
            return f"rows {len(srows)} != {len(orows)}"
        for ro, rs in zip(orows, srows):
            for c, a, b in zip(ocols, ro, rs):
                verdict = eq(a, b)
                if verdict != "EXACT":
                    return f"{c}: {verdict} oracle={a!r} spark={b!r}"
        return None
