"""DuckDB oracle compare for the benchmark's query results.

The oracle SQL of every query comes from `SparkEntry.oracleSql` (written to
`oracle_sql.json` by the harness). Oracle answers are computed once per
(SQL text, table files) and cached under the build directory, because the
curation oracles take minutes in DuckDB; the Spark results are compared
against them on every run. Normalization is `tools/check.py`'s `norm`, and
the value comparison mirrors its rules (columns, row count, then every
column exactly, NULL equal to NULL).
"""
import glob
import hashlib
import importlib.util
import json
import os
import pickle


def load_check(root):
    """Imports the repository's tools/check.py as a module."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fingerprint(sf_dir, tables):
    h = hashlib.sha256()
    for t in tables:
        p = f"{sf_dir}/{t}.parquet"
        st = os.stat(p)
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def _connect(sf_dir, tables, threads):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class Oracle:
    """Cached DuckDB answers for one sf directory."""

    def __init__(self, root, sf_dir, cache_dir, threads):
        self.check = load_check(root)
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.threads = threads
        self.fp = _fingerprint(sf_dir, self.check.TABLES)
        self._con = None

    def _path(self, name, sql):
        key = hashlib.sha256((self.fp + "\0" + sql).encode()).hexdigest()[:20]
        return os.path.join(self.cache_dir, f"{name}-{key}.pkl")

    def want(self, name, sql):
        """The normalized oracle answer, computed on first use."""
        path = self._path(name, sql)
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        if self._con is None:
            self._con = _connect(self.sf_dir, self.check.TABLES, self.threads)
        want = self.check.norm(self._con.execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(want, f)
        os.replace(tmp, path)
        return want

    def compare(self, name, sql, result_dir):
        """None when the Spark result in `result_dir` equals the oracle,
        else a one-line reason."""
        files = glob.glob(f"{result_dir}/*.parquet")
        if not files:
            return "no spark output"
        import duckdb
        got = self.check.norm(duckdb.connect().execute(
            f"SELECT * FROM read_parquet({files!r})").df())
        want = self.want(name, sql)
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        bad = []
        for c in got.columns:
            a, b = got[c], want[c]
            try:
                ok = bool(((a == b) | (a.isna() & b.isna())).all())
            except Exception:
                ok = list(map(str, a)) == list(map(str, b))
            if not ok:
                bad.append(c)
        return f"value mismatch in {bad}" if bad else None


def load_sql(out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        return json.load(f)
