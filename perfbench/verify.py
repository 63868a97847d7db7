"""Output checks, all run outside the timed window.

Query ops are hash-compared with their DuckDB oracle using the
normalisation of ``tools/check_oracle.py``. The oracle side depends only
on the fixed base tables, so its answer is computed once per checkout
and cached next to them, keyed by the oracle text.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import duckdb

from baronbatch_etl_spark.io import TABLES, table_path
from tools.check_oracle import _hash_rows


def _connect(sf_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(str(sf_dir), t)}')")
    return con


def _sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


class OracleCache:
    """DuckDB answers (sorted columns, row count, value hash) per query."""

    def __init__(self, sf_dir: Path) -> None:
        self.sf_dir = sf_dir
        self.path = sf_dir.parent / f"{sf_dir.name}.oracle.json"
        self.entries: dict = json.loads(self.path.read_text()) if self.path.exists() else {}

    def ensure(self, specs: dict) -> None:
        """Compute and store the answer of every spec not cached yet."""
        todo = {
            n: s for n, s in specs.items()
            if s.oracle is not None and self.entries.get(n, {}).get("sql") != _sql_key(s.oracle)
        }
        if not todo:
            return
        con = _connect(self.sf_dir)
        try:
            for name, spec in todo.items():
                res = con.execute(spec.oracle)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                self.entries[name] = {
                    "sql": _sql_key(spec.oracle),
                    "cols": sorted(cols),
                    "rows": len(rows),
                    "hash": _hash_rows(cols, rows),
                }
        finally:
            con.close()
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(self.entries, indent=1, sort_keys=True))
        tmp.replace(self.path)

    def check(self, name: str, oracle: str | None, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the Spark result matches, else what differs."""
        if oracle is None:
            return None if rows else "no rows and no oracle"
        want = self.entries[name]
        if sorted(cols) != want["cols"]:
            return f"columns {sorted(cols)} != {want['cols']}"
        if len(rows) != want["rows"]:
            return f"rows {len(rows)} != {want['rows']}"
        if _hash_rows(cols, rows) != want["hash"]:
            return "value hash differs"
        return None


def check_gold(gold_rows: list[tuple], event_glob: str) -> str | None:
    """``read_gold`` totals against a DuckDB group-by over the event
    files the stream ingested."""
    con = duckdb.connect()
    try:
        want = {
            (u, t): (g, s)
            for u, t, g, s in con.execute(
                "SELECT user_id, event_type, count(*), sum(value) "
                f"FROM read_parquet('{event_glob}') GROUP BY ALL"
            ).fetchall()
        }
    finally:
        con.close()
    got = {(u, t): (g, s) for u, t, g, s in gold_rows}
    if got.keys() != want.keys():
        return f"gold has {len(got)} groups, events give {len(want)}"
    for k, (g, s) in want.items():
        gg, gs = got[k]
        if gg != g or not math.isclose(gs, s, rel_tol=1e-9, abs_tol=1e-6):
            return f"gold {k}: ({gg}, {gs}) != ({g}, {s})"
    return None


def check_admission(store_glob: str, accepted_glob: str) -> str | None:
    """No two accepted docs share an LSH band key or a text digest, the
    key store holds exactly the accepted docs, and each stored digest is
    the md5 of the accepted text (recomputed here, not read back)."""
    con = duckdb.connect()
    try:
        acc = f"read_parquet('{accepted_glob}', hive_partitioning = true)"
        store = f"read_parquet('{store_glob}', hive_partitioning = true)"
        n_acc, n_digest = con.execute(f"SELECT count(*), count(DISTINCT md5(text)) FROM {acc}").fetchone()
        if n_acc == 0:
            return "no document was accepted"
        if n_digest != n_acc:
            return f"{n_acc - n_digest} accepted docs repeat another's text"
        shared = con.execute(
            f"SELECT count(*) FROM (SELECT band, key FROM {store} GROUP BY ALL "
            "HAVING count(DISTINCT doc_id) > 1)"
        ).fetchone()[0]
        if shared:
            return f"{shared} keys are shared by two accepted docs"
        stray = con.execute(
            f"SELECT count(*) FROM ((SELECT DISTINCT doc_id FROM {store}) "
            f"EXCEPT (SELECT doc_id FROM {acc}))"
        ).fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM {acc} a ANTI JOIN "
            f"(SELECT doc_id, key FROM {store} WHERE band = -1) s "
            "ON a.doc_id = s.doc_id AND md5(a.text) = s.key"
        ).fetchone()[0]
    finally:
        con.close()
    if stray or missing:
        return f"key store and accepted docs disagree ({stray} stray, {missing} without digest)"
    return None


def check_snapshot(rebuilt_glob: str, new_dump: Path) -> str | None:
    """The partitioned rebuild equals the new dump, row for row."""
    con = duckdb.connect()
    try:
        out = []
        for src in (
            f"read_parquet('{rebuilt_glob}', hive_partitioning = true)",
            f"read_parquet('{new_dump}')",
        ):
            res = con.execute(f"SELECT * FROM {src}")
            out.append(([d[0] for d in res.description], res.fetchall()))
    finally:
        con.close()
    (c1, r1), (c2, r2) = out
    if sorted(c1) != sorted(c2):
        return f"columns {sorted(c1)} != {sorted(c2)}"
    if len(r1) != len(r2):
        return f"rows {len(r1)} != {len(r2)}"
    if _hash_rows(c1, r1) != _hash_rows(c2, r2):
        return "value hash differs"
    return None
