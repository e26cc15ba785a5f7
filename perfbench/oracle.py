"""Result checks: each query's full result against its DuckDB oracle.

The comparison rules are those of the repository's correctness gate,
imported from the checked program's `scripts/check.py` (`compare`, `norm`,
`TABLES`), so the benchmark and the gate cannot drift apart. A query
without an oracle is compared against the SHA-256 digest of its sorted
rows, kept in `workloads.json`.
"""
import hashlib
import importlib.util

import duckdb
import pandas as pd


def load_check(root):
    """The `scripts/check.py` module of the program checkout at `root`."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", root / "scripts" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, root, fixtures):
        self.check_rules = load_check(root)
        self.con = duckdb.connect()
        for t in self.check_rules.TABLES:
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                             f"SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")

    def digest(self, df):
        """Order-independent digest of a result: its sorted, normalised rows."""
        norm = self.check_rules.norm
        cols = sorted(df.columns)
        rows = sorted(repr(tuple(norm(v) for v in r))
                      for r in df[cols].itertuples(index=False, name=None))
        h = hashlib.sha256(repr(cols).encode())
        for r in rows:
            h.update(r.encode())
        return h.hexdigest()

    def check(self, result_dir, sql, expected_digest):
        """None when the result is right, else why it is not."""
        try:
            got = pd.read_parquet(result_dir)
            if sql is not None:
                return self.check_rules.compare(got, self.con.execute(sql).df())
            if expected_digest is None:
                return "no oracle and no kept digest"
            d = self.digest(got)
            return None if d == expected_digest else f"digest {d[:12]}… differs"
        except Exception as exc:  # a crash is a wrong answer, not a run error
            return f"{type(exc).__name__}: {exc}"
