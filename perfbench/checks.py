"""Correctness of every benchmark response.

Registry rows are compared with their DuckDB oracle over the same parquet,
using ``tools/verify_local``'s typed comparison (exact values, a
type-sensitive hash, and DATE/TIMESTAMP/DECIMAL kind checks).  Responses
are reduced to a digest while timing; each distinct digest per kind is
compared once, after the timed phase.  Pipeline responses are checked
against invariants computed by DuckDB from the generated inputs.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import sys

import duckdb
import pandas as pd
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.verify_local import (  # noqa: E402
    TABLES,
    compare,
    duck_described_types,
    kind_mismatches,
    typed_hash,
)

# the index build must serve at least this recall@3 (the engine's level on
# its reference data)
MIN_RECALL = 0.80

_INT_DTYPES = {
    T.ByteType: "int8",
    T.ShortType: "int16",
    T.IntegerType: "int32",
    T.LongType: "int64",
}


def duck_connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def digest(rows: list) -> str:
    """Order-insensitive digest of collected rows (cheap; taken while timing)."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def rows_to_pandas(rows: list, schema: T.StructType) -> pd.DataFrame:
    """The frame ``DataFrame.toPandas()`` would give for these rows."""
    df = pd.DataFrame.from_records([tuple(r) for r in rows], columns=schema.fieldNames())
    for f in schema.fields:
        s, t = df[f.name], type(f.dataType)
        if t in _INT_DTYPES:
            df[f.name] = s.astype("float64" if s.isna().any() else _INT_DTYPES[t])
        elif t is T.FloatType:
            df[f.name] = s.astype("float32")
        elif t is T.DoubleType:
            df[f.name] = s.astype("float64")
        elif t is T.BooleanType and not s.isna().any():
            df[f.name] = s.astype("bool")
        elif t in (T.TimestampType, T.TimestampNTZType):
            df[f.name] = pd.to_datetime(s)
    return df


class RegistryOracle:
    """One registry row's oracle result, computed before timing."""

    def __init__(self, con: duckdb.DuckDBPyConnection, sql: str):
        cur = con.execute(sql)
        self.description = cur.description
        self.frame = cur.df()
        self.duck_types = duck_described_types(con, sql)

    def problems(self, name: str, rows: list, schema: T.StructType) -> list[str]:
        got = rows_to_pandas(rows, schema)
        out = kind_mismatches(schema, self.description, self.duck_types)
        out += compare(name, got, self.frame)
        if not out and typed_hash(got) != typed_hash(self.frame):
            out.append("typed hash differs (type drift, values equal)")
        return out


def etl_day_oracle(con: duckdb.DuckDBPyConnection, first_day: str, n_days: int) -> list[dict]:
    """Per consecutive day from ``first_day``: the day's order count and the
    cumulative distinct customer and supplier keys since ``first_day``."""
    lo = datetime.date.fromisoformat(first_day)
    days = [lo + datetime.timedelta(days=i) for i in range(n_days)]
    window = "CAST(o_orderdate AS DATE) BETWEEN ? AND ?"
    cust = con.execute(
        f"SELECT CAST(o_orderdate AS DATE), o_custkey FROM orders WHERE {window}",
        [days[0], days[-1]],
    ).fetchall()
    supp = con.execute(
        f"SELECT DISTINCT CAST(o_orderdate AS DATE), l_suppkey FROM orders "
        f"JOIN lineitem ON l_orderkey = o_orderkey WHERE {window}",
        [days[0], days[-1]],
    ).fetchall()
    out, seen_c, seen_s = [], set(), set()
    for day in days:
        todays = [c for d, c in cust if d == day]
        seen_c.update(todays)
        seen_s.update(s for d, s in supp if d == day)
        out.append(
            {"day": day.isoformat(), "orders": len(todays),
             "customers": len(seen_c), "suppliers": len(seen_s)}
        )
    return out


def etl_problems(audit, expect: dict, warehouse: str) -> list[str]:
    """A daily-ETL run against its day's invariants."""
    out = []
    rec = audit.records
    if audit.status != "success":
        out.append(f"status {audit.status}: {audit.error_message}")
    if rec.get("dq_failed") != 0:
        out.append(f"dq_failed {rec.get('dq_failed')}")
    if rec.get("staging") != expect["orders"]:
        out.append(f"staging {rec.get('staging')} != {expect['orders']} orders")
    con = duckdb.connect()
    for dim, key, want in (
        ("dim_customer", "c_custkey", expect["customers"]),
        ("dim_supplier", "s_suppkey", expect["suppliers"]),
    ):
        n, keys = con.execute(
            f"SELECT count(*), count(DISTINCT {key}) FROM "
            f"read_parquet('{warehouse}/{dim}/*.parquet') WHERE is_current"
        ).fetchone()
        if not n == keys == want:
            out.append(f"{dim}: {n} current rows, {keys} keys, want {want}")
    con.close()
    return out


def curation_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    frame = con.execute(sql).df()
    return {"n_docs": len(frame), "n_tokens": int(frame["n_tok"].sum())}


def curation_problems(result: dict, expect: dict) -> list[str]:
    return [
        f"{k} {result[k]} != {expect[k]}" for k in ("n_docs", "n_tokens") if result[k] != expect[k]
    ]


def index_problems(result: dict, n_vectors: int) -> list[str]:
    out = []
    if result["index_rows"] != n_vectors:
        out.append(f"index_rows {result['index_rows']} != {n_vectors}")
    if not result["recall_at_k"] >= MIN_RECALL:
        out.append(f"recall@3 {result['recall_at_k']} < {MIN_RECALL}")
    return out
