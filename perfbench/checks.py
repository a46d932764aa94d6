"""Output checks, run outside every timer.

Registry keys are compared with their DuckDB oracle on the same parquet
files, canonicalised the way the repository's own oracle comparison does
(``tests/oracle.py``, imported read-only). The ``etl_write`` outputs are
compared with the generator's bookkeeping (the Bang export) and with a
DuckDB latest-wins replay of base plus changelogs (the final table).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import duckdb


def _load_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_repo_oracle", os.path.join(root, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleChecker:
    """Compares a registry key's collected pandas frame with its oracle.

    Oracle answers are canonical rows, cached on disk under ``cache_dir``
    by a digest of the table directory and the oracle SQL: the tables are
    fixed per checkout, and some oracles take seconds in DuckDB."""

    def __init__(self, root: str, table_dir: str, registry: dict, cache_dir: str):
        self.oracle = _load_oracle_module(root)
        self.table_dir = table_dir
        self.registry = registry
        self.cache_dir = cache_dir
        self._expected: dict[str, tuple[list[str], list[tuple]] | None] = {}

    def _compute(self, sql: str) -> tuple[list[str], list[tuple]]:
        con = self.oracle.duck_con(self.table_dir)
        try:
            pdf = con.execute(sql).fetchdf()
        finally:
            con.close()
        pdf.columns = [c.lower() for c in pdf.columns]
        return sorted(pdf.columns), self.oracle.canonical_rows(pdf)

    def expected(self, key: str):
        if key not in self._expected:
            sql = self.registry[key].oracle
            if sql is None:
                self._expected[key] = None
                return None
            digest = hashlib.sha256(f"{self.table_dir}\n{sql}".encode()).hexdigest()[:24]
            path = os.path.join(self.cache_dir, f"{digest}.json")
            try:
                with open(path) as f:
                    cols, rows = json.load(f)
            except FileNotFoundError:
                cols, rows = self._compute(sql)
                os.makedirs(self.cache_dir, exist_ok=True)
                tmp = f"{path}.{os.getpid()}.tmp"
                with open(tmp, "w") as f:
                    json.dump([cols, rows], f)
                os.replace(tmp, path)
            self._expected[key] = (cols, [tuple(r) for r in rows])
        return self._expected[key]

    def check(self, key: str, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else the reason it does not.
        Keys without an oracle get a row-count check (at least one row)."""
        pdf = pdf.copy()
        pdf.columns = [c.lower() for c in pdf.columns]
        want = self.expected(key)
        if want is None:
            return None if len(pdf) else "rows-only check: no rows"
        cols, rows = want
        if sorted(pdf.columns) != cols:
            return f"schema mismatch: {sorted(pdf.columns)} vs {cols}"
        got = self.oracle.canonical_rows(pdf)
        if len(got) != len(rows):
            return f"row count {len(got)} vs oracle {len(rows)}"
        if got != rows:
            n = sum(a != b for a, b in zip(got, rows))
            return f"{n}/{len(rows)} rows differ from the oracle"
        return None


def rows_digest(rows) -> str:
    """Order-insensitive digest of an iterable of row tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(None if v != v else v for v in r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def check_export(export_dir: str, expected_rows: list[tuple]) -> str | None:
    """The partitioned Bang export against the generator's own rows."""
    con = duckdb.connect()
    try:
        got = con.execute(
            "SELECT batch_id, CAST(round AS INTEGER), user_id, viable, mood, team_id, "
            "n_msgs, total_chars FROM read_parquet(?, hive_partitioning = true)",
            [os.path.join(export_dir, "**", "*.parquet")],
        ).fetchall()
    finally:
        con.close()
    norm = [tuple(None if v is None else (int(v) if isinstance(v, (int, float)) and
                                           not isinstance(v, bool) else v) for v in r)
            for r in got]
    want = [tuple(None if v is None else (int(v) if isinstance(v, int) else v) for v in r)
            for r in expected_rows]
    if len(norm) != len(want):
        return f"export has {len(norm)} rows, generator wrote {len(want)}"
    if rows_digest(norm) != rows_digest(want):
        return "export rows differ from the generator's bookkeeping"
    return None


def check_table(live_files: list[str], base_path: str, changelogs: list[str]) -> str | None:
    """The live table snapshot against a DuckDB latest-wins replay."""
    con = duckdb.connect()
    try:
        got = con.execute(
            "SELECT acct_id, name, balance, tier FROM read_parquet(?)", [live_files]
        ).fetchall()
        want = con.execute(
            """
            WITH cdc AS (
                SELECT * FROM read_parquet(?)
                QUALIFY row_number() OVER (
                    PARTITION BY acct_id ORDER BY ts_us DESC, event_id DESC) = 1
            )
            SELECT acct_id, name, balance, tier FROM read_parquet(?)
            WHERE acct_id NOT IN (SELECT acct_id FROM cdc)
            UNION ALL
            SELECT acct_id, name, balance, tier FROM cdc WHERE NOT is_delete
            """,
            [changelogs, os.path.join(base_path, "*.parquet")],
        ).fetchall()
    finally:
        con.close()
    if len(got) != len(want):
        return f"table has {len(got)} rows, replay has {len(want)}"
    if rows_digest(got) != rows_digest(want):
        return "table rows differ from the latest-wins replay"
    return None
