"""DuckDB oracle check of the engine's answers.

For each op whose first result the harness dumped, run the engine's own
oracle SQL (`SparkEntry.oracleSql`) in DuckDB over the same parquet
tables and compare row count, column names and the rows, normalised as
the repository's correctness compare does: columns sorted by name,
float64 columns rounded to 6 places, every value as text, rows sorted.
DuckDB answers are cached per (SQL, input data).
"""
import glob
import hashlib
import json
import os

from gen_data import TABLES


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.round(6) if any(df.dtypes == "float64") else df
    return sorted(df.astype(str).values.tolist())


class Oracle:
    def __init__(self, data_dir, data_stamp, cache_dir):
        self.data_dir = data_dir
        self.data_stamp = data_stamp
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"'{self.data_dir}/{t}.parquet'")
        return self._con

    def answer(self, sql):
        """(sorted column names, normalised rows) of the oracle SQL."""
        key = hashlib.sha256((self.data_stamp + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                got = json.load(f)
            return got["columns"], got["rows"]
        df = self._connect().execute(sql).df()
        cols, rows = sorted(df.columns), norm(df)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.replace(tmp, path)
        return cols, rows

    def check(self, dump_dir, sql):
        """None when the dumped engine rows equal the oracle's, else why not."""
        import pandas as pd
        files = glob.glob(os.path.join(dump_dir, "*.parquet"))
        if not files:
            return "no result files"
        sdf = pd.concat([pd.read_parquet(f) for f in files])
        cols, rows = self.answer(sql)
        if sorted(sdf.columns) != cols:
            return f"columns {sorted(sdf.columns)} != {cols}"
        got = norm(sdf)
        if len(got) != len(rows):
            return f"rows {len(got)} != {len(rows)}"
        for i, (a, b) in enumerate(zip(got, rows)):
            if a != b:
                return f"row {i}: engine {a} != oracle {b}"
        return None
