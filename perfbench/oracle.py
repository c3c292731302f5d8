"""Correctness oracles that share no code path with the engine under test.

- CDC state: DuckDB picks the max-seq event per key over the generated log
  (a delete drops the key); the row digest is the package's single-threaded
  Python mirror (``datagen.oracle.table_sha256``) of ``cdc.verify``.
- Catalogue queries: each query's ``oracle_sql()`` twin on DuckDB over the
  same parquet files, compared as ``tools/check_correctness.py`` does:
  column names, row count and the sorted multiset of canonical row strings.
"""

from __future__ import annotations

import hashlib
import json

import duckdb


def cdc_live_rows(log_dirs: list[str]) -> list[dict]:
    """Final live rows of a change log under max-seq-wins, with the payload
    keys as columns and ``content_sha`` derived from ``content``."""
    con = duckdb.connect()
    try:
        res = con.sql(f"""
            SELECT repo, path, "commit", lang, content, op, payload_json FROM (
              SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM read_parquet({[f"{d}/*.parquet" for d in log_dirs]!r}))
            WHERE rn = 1""")
        names = res.columns
        rows = res.fetchall()
    finally:
        con.close()
    out = []
    for r in rows:
        d = dict(zip(names, r))
        if d.pop("op") == "D":
            continue
        payload = d.pop("payload_json")
        if payload:
            d.update(json.loads(payload))
        d["content_sha"] = hashlib.sha256(d["content"].encode("utf-8")).hexdigest()
        out.append(d)
    return out


def state_digest(rows: list[dict], columns: list[str]) -> str:
    """Order-insensitive digest of oracle rows over ``columns``, comparable
    with ``cdc.verify.table_sha256`` on the engine's table."""
    from table2qb_spark.datagen.oracle import table_sha256

    return table_sha256(rows, columns)


class QueryOracle:
    """DuckDB views over a fixture directory plus the comparison rule."""

    def __init__(self, sf_dir: str, table_names: list[str]):
        self.con = duckdb.connect()
        for t in table_names:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def compare(self, sql: str, spark_cols: list[str], spark_rows: list[dict]) -> str | None:
        """None when the Spark result matches the oracle, else the reason."""
        from tools.check_correctness import row_key

        rel = self.con.sql(sql)
        ocols = sorted(rel.columns)
        orows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
        scols = sorted(spark_cols)
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            return f"schema {scols} vs {ocols}"
        if len(spark_rows) != len(orows):
            return f"rowcount {len(spark_rows)} vs {len(orows)}"
        cols = [c.lower() for c in scols]

        def multiset(rows):
            return sorted(row_key({k.lower(): v for k, v in r.items()}, cols) for r in rows)

        if multiset(spark_rows) != multiset(orows):
            return "values differ"
        return None


def lake_cube_expectation(rows: list[dict], codelist: set[str]) -> dict:
    """Expected lake-cube figures from the oracle state: one Content-Length
    observation per live row plus one File-Count per (repo, lang) group; one
    used code per repo, per language and per measure type; and the languages
    absent from the codelist as the unresolved ones."""
    groups = {(r["repo"], r["lang"]) for r in rows}
    repos = {r["repo"] for r in rows}
    langs = {r["lang"] for r in rows}
    return {
        "observations": len(rows) + len(groups),
        "used_codes": len(repos) + len(langs) + 2,
        "unresolved": sorted(langs - codelist),
    }

