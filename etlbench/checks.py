"""Output checks.

Catalog ops are compared with their ``ORACLE`` SQL run in DuckDB on the
same parquet, normalised exactly as the repository's oracle tests do
(``tests/oracle_utils.py``). The tables are deterministic, so each
oracle answer is reduced to a digest once per dataset and cached.
Pipeline outputs are compared exactly, as multisets of rows, with
DuckDB computations written in ``workloads.py``."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd


def load_oracle_utils(root: str):
    """The repository's oracle-compare helpers, loaded by path: the
    ``tests`` directory is not a package."""
    path = os.path.join(root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("etlbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_digest(utils, frame: pd.DataFrame) -> dict:
    """Row count, sorted column names and a digest of the normalised
    values: two frames the oracle compare calls equal share all three."""
    canon_err = utils._driver_canon_guard(frame)
    norm = utils._normalize(frame)
    h = hashlib.sha256("\x1e".join(norm.columns).encode())
    for row in norm.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return {
        "rows": len(frame),
        "cols": sorted(frame.columns),
        "digest": h.hexdigest(),
        "canon_err": canon_err,
    }


def mismatch(actual: dict, expected: dict) -> str | None:
    """Why two digests differ, in the oracle compare's order of tests,
    or None when they match."""
    if actual["rows"] != expected["rows"]:
        return f"row count: got {actual['rows']}, expected {expected['rows']}"
    if actual["rows"] == 0:
        return "vacuous match: both sides empty"
    if actual["cols"] != expected["cols"]:
        return f"columns: got {actual['cols']}, expected {expected['cols']}"
    for side, d in (("actual", actual), ("expected", expected)):
        if d["canon_err"]:
            return f"{side}: {d['canon_err']}"
    if actual["digest"] != expected["digest"]:
        return "value mismatch"
    return None


def relation_mismatch(con: duckdb.DuckDBPyConnection, actual_sql: str, expected_sql: str) -> str | None:
    """Compare two DuckDB relations as multisets of rows, columns
    matched by name; values must be equal exactly."""
    a_cols = sorted(c[0] for c in con.sql(f"DESCRIBE {actual_sql}").fetchall())
    e_cols = sorted(c[0] for c in con.sql(f"DESCRIBE {expected_sql}").fetchall())
    if a_cols != e_cols:
        return f"columns: got {a_cols}, expected {e_cols}"
    cols = ", ".join(f'"{c}"' for c in a_cols)
    a, e = f"SELECT {cols} FROM ({actual_sql})", f"SELECT {cols} FROM ({expected_sql})"
    n, extra, missing = con.sql(
        f"SELECT (SELECT count(*) FROM ({a})), "
        f"(SELECT count(*) FROM ({a} EXCEPT ALL {e})), "
        f"(SELECT count(*) FROM ({e} EXCEPT ALL {a}))"
    ).fetchone()
    if n == 0:
        return "vacuous match: no rows"
    if extra or missing:
        return f"{extra} unexpected and {missing} missing rows of {n}"
    return None


def dataset_fingerprint(sf_dir: str, tables: list[str]) -> str:
    h = hashlib.sha256()
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{int(st.st_mtime)};".encode())
    return h.hexdigest()[:16]


class OracleCache:
    """Digests of oracle answers on one dataset, kept in a JSON file and
    keyed by the SQL text and the dataset fingerprint."""

    def __init__(self, utils, sf_dir: str, path: str) -> None:
        self.utils = utils
        self.sf_dir = sf_dir
        self.path = path
        self.fingerprint = dataset_fingerprint(sf_dir, utils.TABLES)
        self._con: duckdb.DuckDBPyConnection | None = None
        self._answers: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as fh:
                self._answers = json.load(fh)

    @property
    def con(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            self._con = self.utils.duckdb_con(self.sf_dir)
        return self._con

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256(f"{self.fingerprint}\n{sql}".encode()).hexdigest()
        hit = self._answers.get(key)
        if hit is None:
            hit = self._answers[key] = frame_digest(self.utils, self.con.sql(sql).df())
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = f"{self.path}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self._answers, fh)
            os.replace(tmp, self.path)
        return hit

    def check(self, sql: str, actual: pd.DataFrame) -> str | None:
        return mismatch(frame_digest(self.utils, actual), self.expected(sql))

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
