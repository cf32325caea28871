"""Expected outputs, computed by DuckDB from the same input files, and the
checks that compare a produced artifact against them.

A table is compared by its row count and a digest of its sorted rows, so
the check is independent of row order in the artifact.
"""

from __future__ import annotations

import hashlib
import sqlite3
import zipfile
from dataclasses import dataclass
from pathlib import Path

import duckdb

# Column lists of the artifact's tables, in the order the checks read them.
COLUMNS = {
    "prices": ["date", "premise_code", "item_code", "price"],
    "premises": ["premise_code", "premise", "address", "premise_type", "state", "district"],
    "items": ["item_code", "item", "unit", "item_group", "item_category"],
}


@dataclass(frozen=True)
class Expected:
    rows: int
    digest: str


def digest(rows: list[tuple]) -> Expected:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return Expected(len(rows), h.hexdigest())


def _prices_sql(source: str) -> str:
    return f"""
        WITH cleansed AS (
            SELECT trim(strftime(date, '%Y-%m-%d')) AS date,
                   CAST(premise_code AS BIGINT) AS premise_code,
                   CAST(item_code AS BIGINT) AS item_code,
                   CAST(price AS DOUBLE) AS price
            FROM read_parquet({source})
        )
        SELECT date, premise_code, item_code, price FROM (
            SELECT *, row_number() OVER (
                PARTITION BY premise_code, item_code
                ORDER BY date DESC, price DESC) AS rn
            FROM cleansed)
        WHERE rn = 1
    """


def _clean(col: str) -> str:
    return f"trim(coalesce({col}, 'UNKNOWN'))"


# The oracles computed at set-up run beside the Spark warm-up: one thread
# each, so they take little of the cores the warm-up needs.
_SETUP_CONFIG = {"threads": 1}


def rebuild_oracle(paths: dict[str, Path]) -> dict[str, Expected]:
    """The cleanse + latest-per-(premise, item) transform of plans.pipeline,
    restated in DuckDB: one Expected per output table."""
    con = duckdb.connect(config=_SETUP_CONFIG)
    try:
        prices = con.execute(_prices_sql(f"'{paths['prices']}'")).fetchall()
        premises = con.execute(f"""
            SELECT CAST(round(TRY_CAST(premise_code AS DOUBLE)) AS BIGINT),
                   {_clean('premise')}, {_clean('address')}, {_clean('premise_type')},
                   {_clean('state')}, {_clean('district')}
            FROM read_parquet('{paths['premises']}')
            WHERE TRY_CAST(premise_code AS DOUBLE) IS NOT NULL
        """).fetchall()
        items = con.execute(f"""
            SELECT CAST(item_code AS BIGINT), {_clean('item')}, {_clean('unit')},
                   {_clean('item_group')}, {_clean('item_category')}
            FROM read_parquet('{paths['items']}')
        """).fetchall()
    finally:
        con.close()
    return {"prices": digest(prices), "premises": digest(premises), "items": digest(items)}


def latest_prices_oracle(files: list[Path]) -> Expected:
    """Latest price per (premise, item) over all the given price files."""
    con = duckdb.connect()
    try:
        source = "[" + ", ".join(f"'{p}'" for p in files) + "]"
        return digest(con.execute(_prices_sql(source)).fetchall())
    finally:
        con.close()


def sqlite_table(db: Path, table: str) -> Expected:
    con = sqlite3.connect(db)
    try:
        cols = ", ".join(f'"{c}"' for c in COLUMNS[table])
        return digest(con.execute(f'SELECT {cols} FROM "{table}"').fetchall())
    finally:
        con.close()


def check_rebuild(db: Path, zip_path: Path, expected: dict[str, Expected]) -> list[str]:
    """Problems with a rebuilt artifact; empty when it is correct.

    Checks the product's own ship gate (row counts, the nine reference
    indexes, integrity_check), every table against the oracle, and that the
    zip's pricecatcher.db member is the .db byte for byte."""
    from opendosm_parquet_to_sqlite_spark.sinks.sqlite import (
        REFERENCE_INDEXES,
        verify_sqlite_artifact,
    )

    indexes = [f"idx_{t}_{c}" for t, specs in REFERENCE_INDEXES.items() for c, _ in specs]
    gate = verify_sqlite_artifact(str(db), {t: e.rows for t, e in expected.items()}, indexes)
    problems = [] if gate["ok"] else [f"verify_sqlite_artifact: {gate}"]
    for table, want in expected.items():
        got = sqlite_table(db, table)
        if got != want:
            problems.append(f"{table}: {got.rows} rows, oracle {want.rows}; digests differ")
    with zipfile.ZipFile(zip_path) as z:
        if z.namelist() != ["pricecatcher.db"]:
            problems.append(f"zip members {z.namelist()}")
        elif hashlib.sha256(z.read("pricecatcher.db")).digest() != hashlib.sha256(db.read_bytes()).digest():
            problems.append("zip member differs from the .db")
    return problems


def _canonical(rows: list[tuple]) -> Expected:
    """Rows as strings, the way tests/oracle_check.py compares query output."""
    return digest([tuple("␀" if v is None else str(v) for v in r) for r in rows])


def corpus_oracle(docs: Path, sql: str) -> Expected:
    """The registered query's DuckDB SQL over the generated documents,
    columns in name order."""
    con = duckdb.connect(config=_SETUP_CONFIG)
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        rel = con.sql(sql)
        cols = sorted(rel.columns)
        return _canonical(rel.select(*[f'"{c}"' for c in cols]).fetchall())
    finally:
        con.close()


def dataset_rows(path: Path) -> Expected:
    """A split-partitioned parquet dataset read back, columns in name order."""
    con = duckdb.connect()
    try:
        rel = con.sql(
            f"SELECT * FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true,"
            " hive_types_autocast = false)"
        )
        cols = sorted(rel.columns)
        return _canonical(rel.select(*[f'"{c}"' for c in cols]).fetchall())
    finally:
        con.close()
