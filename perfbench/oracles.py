"""DuckDB oracles for every workload's outputs. All of them run outside the
timed regions.

- Ingest: the validity and sink rule of ``tests/test_pipeline.py`` evaluated
  over the generated input, compared with the sink parquet, the ``_metrics``
  tables, the quarantine parquet and the checkpoint log.
- Search: ``num_hits`` and non-empty ``date_histogram`` buckets recomputed
  over the index's sink parquet.
- Leaves: ``__spark_entry__.oracle_sql()`` over the generated tables, with
  ``scripts/check_oracle.py``'s row normalisation.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import math
import os
import pickle

import duckdb

# tests/test_pipeline.py: a turn is valid when its text carries a level and a
# tenant; its sink is the role, with tool turns fanned out per tool
VALID = r"regexp_matches(text, 'level=\w+') AND regexp_matches(text, 'tenant=[\w-]+')"
SINK = "CASE WHEN role='tool' THEN 'tool_' || coalesce(tool, 'nil') ELSE role END"


def _glob(*parts: str) -> str:
    return os.path.join(*parts).replace("'", "''")


class IngestOracle:
    """Expected ingest outputs for the rows of ``input_dir`` selected by an
    optional SQL predicate per commit."""

    def __init__(self, input_dir: str):
        self.con = duckdb.connect()
        self.src = f"read_parquet('{_glob(input_dir, 'transcripts.parquet', '*.parquet')}')"

    def valid_counts(self, slice_sql: str) -> list[int]:
        """Valid turns per slice id, where ``slice_sql`` maps a row to its
        slice id (0-based)."""
        rows = self.con.sql(
            f"SELECT {slice_sql} AS s, count(*) FROM {self.src} WHERE {VALID} "
            "GROUP BY s ORDER BY s"
        ).fetchall()
        return [n for _s, n in rows]

    def expected(self) -> dict:
        con, src = self.con, self.src
        total = con.sql(f"SELECT count(*) FROM {src}").fetchone()[0]
        valid = con.sql(f"SELECT count(*) FROM {src} WHERE {VALID}").fetchone()[0]
        per_sink = dict(con.sql(
            f"SELECT {SINK}, count(*) FROM {src} WHERE {VALID} GROUP BY 1").fetchall())
        per_day = {
            (s, d): n for s, d, n in con.sql(
                f"SELECT {SINK}, strftime(date_trunc('day', ts), '%Y-%m-%d'), count(*) "
                f"FROM {src} WHERE {VALID} GROUP BY 1, 2").fetchall()
        }
        return {"total": total, "valid": valid, "per_sink": per_sink, "per_day": per_day}

    def observed(self, out_dir: str) -> dict:
        con = self.con
        sinks = f"read_parquet('{_glob(out_dir, 'sinks', '*', '*', '*.parquet')}', hive_partitioning=true)"
        metrics = f"read_parquet('{_glob(out_dir, '_metrics', '*', '*.parquet')}')"
        quarantine = f"read_parquet('{_glob(out_dir, 'quarantine', '*', '*.parquet')}')"
        per_sink = dict(con.sql(f"SELECT sink, count(*) FROM {sinks} GROUP BY 1").fetchall())
        per_day = {
            (s, d): int(n) for s, d, n in con.sql(
                f"SELECT sink, strftime(bucket_start, '%Y-%m-%d'), sum(doc_count) "
                f"FROM {metrics} GROUP BY 1, 2").fetchall()
        }
        return {
            "valid": sum(per_sink.values()),
            "per_sink": per_sink,
            "per_day": per_day,
            "quarantined": con.sql(f"SELECT count(*) FROM {quarantine}").fetchone()[0],
        }


def ingest_mismatches(oracle: IngestOracle, want: dict, out_dir: str,
                      source_id: str, last_delta: dict, check_metrics: bool = True) -> list[str]:
    """Differences between an out dir and the expected outputs (empty when
    correct)."""
    from quickwit_spark.pipeline.checkpoint import CheckpointStore, format_position

    got = oracle.observed(out_dir)
    bad = []
    for key in ("valid", "per_sink"):
        if got[key] != want[key]:
            bad.append(f"{key}: got {got[key]!r} want {want[key]!r}")
    if check_metrics and got["per_day"] != want["per_day"]:
        diff = {k for k in set(got["per_day"]) | set(want["per_day"])
                if got["per_day"].get(k) != want["per_day"].get(k)}
        bad.append(f"_metrics doc_count differs on {len(diff)} (sink, day) keys")
    if got["quarantined"] != want["total"] - want["valid"]:
        bad.append(f"quarantine: got {got['quarantined']} want {want['total'] - want['valid']}")
    position = CheckpointStore(out_dir).current(source_id)
    final = {pid: format_position(to) for pid, (_frm, to) in last_delta.items()}
    if position != final:
        bad.append(f"checkpoint: got {position} want {final}")
    return bad


# --------------------------------------------------------------------------
# search
# --------------------------------------------------------------------------


def _ts_literal(epoch: float) -> str:
    return "TIMESTAMP '" + dt.datetime.fromtimestamp(epoch, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S") + "'"


def search_expected(out_dir: str, where: str, start=None, end=None, histogram: bool = False):
    """(num_hits, {day_epoch_ms: doc_count}) over the index's sink parquet
    for an SQL predicate and an optional [start, end) epoch-second bound."""
    con = duckdb.connect()
    src = f"read_parquet('{_glob(out_dir, 'sinks', '*', '*', '*.parquet')}', hive_partitioning=true)"
    cond = [where]
    if start is not None:
        cond.append(f"ts >= {_ts_literal(start)}")
    if end is not None:
        cond.append(f"ts < {_ts_literal(end)}")
    pred = " AND ".join(cond)
    hits = con.sql(f"SELECT count(*) FROM {src} WHERE {pred}").fetchone()[0]
    buckets = {}
    if histogram:
        buckets = {
            int(ms): n for ms, n in con.sql(
                f"SELECT epoch_ms(date_trunc('day', ts)), count(*) FROM {src} "
                f"WHERE {pred} GROUP BY 1").fetchall()
        }
    return hits, buckets


# --------------------------------------------------------------------------
# leaves
# --------------------------------------------------------------------------


def _check_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class LeafOracle:
    """Expected row sets of the registry leaves over the generated tables;
    a leaf without oracle SQL is checked by row count and doc ids (the two
    such headline leaves return one row per document). Expected results are
    cached next to the tables, keyed by a hash of the oracle SQL (one of
    them takes seconds in DuckDB)."""

    def __init__(self, root: str, tables_dir: str, oracle_sql: dict[str, str]):
        self.co = _check_oracle(root)
        self.tables_dir = tables_dir
        self.con = duckdb.connect()
        for t in self.co.TABLES:
            p = os.path.join(tables_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{_glob(p)}'")
        self.sql = oracle_sql
        self._want: dict[str, tuple] = {}
        self.tolerated: list[str] = []

    def _compute(self, name: str) -> tuple:
        if name not in self.sql:
            ids = sorted(r[0] for r in self.con.sql("SELECT doc_id FROM documents").fetchall())
            return None, ids
        key = hashlib.sha1(self.sql[name].encode()).hexdigest()[:16]
        path = os.path.join(self.tables_dir, f"expected-{name}-{key}.pickle")
        if os.path.exists(path):
            with open(path, "rb") as fh:  # written by this class, below
                return pickle.load(fh)
        cur = self.con.sql(self.sql[name])
        cols = [d[0] for d in cur.description]
        want = (sorted(cols), self.co.rowset(cur.fetchall(), cols))
        with open(f"{path}.tmp", "wb") as fh:
            pickle.dump(want, fh)
        os.replace(f"{path}.tmp", path)
        return want

    def expected(self, name: str) -> tuple:
        if name not in self._want:
            self._want[name] = self._compute(name)
        return self._want[name]

    def add_wrong_row(self, name: str) -> None:
        """Expect one row too many for ``name`` (the smoke test's
        deliberately wrong expectation)."""
        cols, want = self.expected(name)
        self._want[name] = (cols, [*want, want[-1]])

    def mismatch(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the rows match the oracle. Row sets compare exactly after
        normalisation; failing that, floats may differ by one unit in the
        fourth decimal, since a float32 kernel and DuckDB's doubles can round
        a value on a 4-decimal boundary (x.xxxx5) to neighbouring results.
        Matches that needed the tolerance are listed in ``tolerated``."""
        want_cols, want = self.expected(name)
        if want_cols is None:
            got = sorted(r[cols.index("doc_id")] for r in rows)
            return None if got == want else f"{len(rows)} rows, want one per document ({len(want)})"
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} want {want_cols}"
        if len(rows) != len(want):
            return f"{len(rows)} rows, want {len(want)}"
        got = self.co.rowset(rows, cols)
        if got == want:
            return None
        if all(map(_close_rows, got, want)):
            self.tolerated.append(name)
            return None
        return "row values differ"


def _close_rows(a: tuple, b: tuple) -> bool:
    return all(
        x == y or (isinstance(x, float) and isinstance(y, float)
                   and math.isclose(x, y, rel_tol=0.0, abs_tol=1.0001e-4))
        for x, y in zip(a, b))
