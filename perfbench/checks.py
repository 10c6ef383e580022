"""Output checks for the benchmark, computed with DuckDB on the generated
files.

* Registry keys are compared with ``tools/parity.py``'s ``compare_query``
  (imported from the checkout, unmodified). Oracle results are computed
  once per input directory and reused for every pass over it.
* The lifecycle state the snapshot stream folds is compared with a DuckDB
  recomputation of ``added_at`` / ``updated_at`` / ``removed_at`` over all
  weekly snapshots.
* The ingest corpus must hold no duplicate fingerprints or doc ids, and
  every survivor must be an input document.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb


def load_parity(root: str):
    """Import ``tools/parity.py`` from the checkout at ``root``."""
    spec = importlib.util.spec_from_file_location("perfbench_parity", os.path.join(root, "tools", "parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Frame:
    """Stands in for a DataFrame or DuckDB result whose pandas form is
    already known."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - DataFrame API
        return self.pdf

    def fetchdf(self):
        return self.pdf


class OracleCache:
    """DuckDB oracle results for one input directory, each computed once.
    Acts as the ``con`` argument of ``compare_query``."""

    def __init__(self, parity, lake_dir: str) -> None:
        self.parity = parity
        self.lake_dir = lake_dir
        self.con = parity.duck_connection(lake_dir)
        self.results: dict[str, object] = {}

    def execute(self, sql: str) -> _Frame:
        if sql not in self.results:
            self.results[sql] = self.con.execute(sql).fetchdf()
        return _Frame(self.results[sql])

    def check(self, spark, name: str, sql: str, pdf) -> str | None:
        """None when ``pdf`` (the engine's result) matches the oracle,
        otherwise a one-line reason."""
        r = self.parity.compare_query(spark, self, name, lambda _s, _d: _Frame(pdf), sql, self.lake_dir)
        if r["ok"]:
            return None
        detail = r.get("cols") or {k: r.get(k) for k in ("sample_only_spark", "sample_only_duck")}
        return f"rows spark={r['rows_spark']} duck={r['rows_duck']} {detail}"

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# lake_maintenance
# ---------------------------------------------------------------------------

_DATA_COLS = ("key_skills", "specializations", "employer_id", "salary_from", "salary_to", "name", "area_id", "area_name")


def lifecycle_mismatches(snapshot_root: str, state_dir: str) -> int:
    """Rows that differ between the folded state and a DuckDB recomputation
    of the lifecycle over every weekly snapshot (0 = identical)."""
    cols = ", ".join(_DATA_COLS)
    snaps = f"read_parquet('{snapshot_root}/snapshot_date=*/*.parquet', hive_partitioning = true)"
    sql = f"""
    WITH raw AS (SELECT *, CAST(snapshot_date AS DATE) AS d FROM {snaps}),
    weeks AS (SELECT DISTINCT d FROM raw),
    live AS (SELECT * FROM raw WHERE NOT coalesce(archived, false)),
    seq AS (
        SELECT id, d, {cols},
               struct_pack({cols}) AS cur,
               lag(struct_pack({cols})) OVER (PARTITION BY id ORDER BY d) AS prev
        FROM live
    ),
    per_id AS (
        SELECT id,
               min(d) AS added_at,
               max(d) FILTER (WHERE prev IS NULL OR prev IS DISTINCT FROM cur) AS updated_at,
               max(d) AS last_seen,
               arg_max(cur, d) AS last
        FROM seq GROUP BY id
    ),
    oracle AS (
        SELECT p.id, {", ".join(f"p.last.{c} AS {c}" for c in _DATA_COLS)},
               p.added_at, p.updated_at,
               (SELECT min(w.d) FROM weeks w WHERE w.d > p.last_seen) AS removed_at
        FROM per_id p
    ),
    state AS (
        SELECT id, {cols}, added_at, updated_at, removed_at
        FROM read_parquet('{state_dir}/*.parquet')
    )
    SELECT (SELECT count(*) FROM (SELECT * FROM state EXCEPT ALL SELECT * FROM oracle))
         + (SELECT count(*) FROM (SELECT * FROM oracle EXCEPT ALL SELECT * FROM state))
    """
    con = duckdb.connect()
    try:
        return int(con.execute(sql).fetchone()[0])
    finally:
        con.close()


def read_expected(state_dir: str, as_of: str) -> tuple[dict[int, int], int]:
    """DuckDB's answer to the read op: live IT vacancies per area, and the
    number of vacancies live as of ``as_of`` (ISO date)."""
    con = duckdb.connect()
    try:
        state = f"read_parquet('{state_dir}/*.parquet')"
        per_area = con.execute(
            f"""SELECT area_id, count(*) FROM {state}
            WHERE removed_at IS NULL
              AND len(list_filter(string_split(specializations, chr(10)),
                      x -> split_part(split_part(x, ' ', 1), '.', 1) = '1')) > 0
            GROUP BY area_id"""
        ).fetchall()
        as_of_n = con.execute(
            f"""SELECT count(*) FROM {state}
            WHERE added_at <= DATE '{as_of}' AND (removed_at IS NULL OR removed_at > DATE '{as_of}')"""
        ).fetchone()[0]
        return {int(a): int(n) for a, n in per_area}, int(as_of_n)
    finally:
        con.close()


def corpus_problems(corpus_dir: str, batch_glob: str) -> list[str]:
    """Violations of the ingest corpus contract: duplicate fingerprints or
    doc ids, or survivors that are not input documents."""
    con = duckdb.connect()
    try:
        corpus = f"read_parquet('{corpus_dir}/*.parquet')"
        n, n_fp, n_id = con.execute(
            f"SELECT count(*), count(DISTINCT fingerprint), count(DISTINCT doc_id) FROM {corpus}"
        ).fetchone()
        foreign = con.execute(
            f"""SELECT count(*) FROM (SELECT doc_id, text FROM {corpus}
            EXCEPT SELECT doc_id, text FROM read_parquet('{batch_glob}'))"""
        ).fetchone()[0]
    finally:
        con.close()
    out = []
    if n == 0:
        out.append("corpus is empty")
    if n_fp != n:
        out.append(f"{n - n_fp} duplicate fingerprints")
    if n_id != n:
        out.append(f"{n - n_id} duplicate doc ids")
    if foreign:
        out.append(f"{foreign} survivors not in the input")
    return out
