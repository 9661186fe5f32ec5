"""DuckDB oracle answers, cached on disk, and order-insensitive comparison.

An answer is keyed by the oracle SQL and the corpus digest, so it is
computed once per corpus and reused by every later run until either the
registered SQL or the data changes. Answers are stored as parquet (the
Arrow table DuckDB returned), which keeps the column types the
comparison checks.

The comparison follows the engine's parity rule: same column names,
same canonical type class per column, and the same multiset of rows
with columns taken in name order.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _canon_arrow(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_arrow(t.value_type)}>"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{_canon_arrow(f.type)}" for f in t) + ">"
    return str(t)


def _canon_spark(t) -> str:
    from pyspark.sql import types as T

    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(t, T.DecimalType):
        return "decimal"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, T.ArrayType):
        return f"list<{_canon_spark(t.elementType)}>"
    if isinstance(t, T.StringType):
        return "string"
    if isinstance(t, T.BinaryType):
        return "binary"
    if isinstance(t, T.StructType):
        return "struct<" + ",".join(f"{f.name}:{_canon_spark(f.dataType)}" for f in t.fields) + ">"
    return t.simpleString()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def multiset(cols: list[str], rows) -> Counter:
    """Rows as a multiset of tuples with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


class OracleCache:
    """DuckDB answers over one corpus directory, cached under ``cache_dir``."""

    def __init__(self, data_dir: str, data_digest: str, tables: tuple[str, ...], cache_dir: str):
        self.data_dir = data_dir
        self.data_digest = data_digest
        self.tables = tables
        self.cache_dir = cache_dir
        self.computed = 0  # answers not found in the cache during this run

    def _connect(self):
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return con

    def answer(self, sql: str) -> pa.Table:
        key = hashlib.sha256(f"{sql}\0{self.data_digest}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}.parquet")
        if os.path.exists(path):
            return pq.read_table(path)
        con = self._connect()
        try:
            tbl = con.execute(sql).arrow()
        finally:
            con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
        self.computed += 1
        return tbl

    def query_rows(self, sql: str, params: list) -> list[tuple]:
        """Uncached parameterised query (the lookup workload's checks)."""
        con = self._connect()
        try:
            return con.execute(sql, params).fetchall()
        finally:
            con.close()


def compare(spark_cols: list[str], spark_types: dict[str, str], spark_rows: list[tuple], oracle: pa.Table) -> list[str]:
    """Mismatch descriptions between a collected Spark result and an
    oracle answer (empty list = equal)."""
    o_cols = list(oracle.schema.names)
    if sorted(spark_cols) != sorted(o_cols):
        return [f"columns: spark={sorted(spark_cols)} oracle={sorted(o_cols)}"]
    problems = []
    o_types = {f.name: _canon_arrow(f.type) for f in oracle.schema}
    drift = {c: (spark_types[c], o_types[c]) for c in spark_cols if spark_types[c] != o_types[c]}
    if drift:
        problems.append(f"types (spark, oracle): {sorted(drift.items())}")
    o_rows = list(zip(*[c.to_pylist() for c in oracle.columns])) if oracle.num_rows else []
    if len(spark_rows) != len(o_rows):
        problems.append(f"rows: spark={len(spark_rows)} oracle={len(o_rows)}")
    sm, om = multiset(spark_cols, spark_rows), multiset(o_cols, o_rows)
    if sm != om:
        problems.append(f"values differ, e.g. spark-only={list((sm - om).items())[:2]} oracle-only={list((om - sm).items())[:2]}")
    return problems


def check_df(df, oracle: pa.Table) -> list[str]:
    """Collect a Spark DataFrame and compare it with an oracle answer."""
    types = {f.name: _canon_spark(f.dataType) for f in df.schema.fields}
    return compare(df.columns, types, [tuple(r) for r in df.collect()], oracle)
