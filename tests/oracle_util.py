"""Local mirror of the driver's DuckDB-differential correctness check:
row-count + schema-arity + order-insensitive value comparison, with
EXACT value equality (stricter than a hash — catches nondeterminism
early), PLUS Arrow-level type-family identity (the round-10 lesson:
``multimodal_shard_manifest`` was value-equal but hash-failed because
a DuckDB window SUM surfaced as decimal128 where Spark emits int64 —
row equality is NOT the driver-hasher contract; type identity is)."""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import pyarrow as pa

from data_pipeline_postgres_spark.catalog import TABLES


def spark_type_family(dt) -> str:
    """Collapse a Spark type to the family the driver's value-hasher
    canonicalizes by (ints of any width together; TIMESTAMP and
    TIMESTAMP_NTZ together for NON-NULL columns — LTZ-with-zero-nulls
    and NTZ both hold repeated driver hash-greens against tz-naive
    DuckDB timestamps, but NULL-BEARING LTZ is driver-hash-red
    (cdc_scd2_apply r13, FIXTURES.md F6) and is blocked separately in
    :func:`assert_matches_oracle`)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_type_family(dt.elementType)}>"
    return dt.simpleString()


def arrow_type_family(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_type_family(t.value_type)}>"
    return str(t)


def decimal_columns(spark_df) -> list[str]:
    """Output columns of DecimalType. The registry casts 2-decimal
    measures to double on both sides (plans/registry.py), and Spark's
    ``toPandas()`` hands Decimal objects where DuckDB's ``.df()`` hands
    float64, so no registered query may emit one."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, T.DecimalType)
    ]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def normalize(rows, columns):
    """Sort columns by name, canonicalize cells, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


# Queries allowed to emit null-bearing DATE columns (FIXTURES.md F6):
# empty until the shape ever earns a green driver row.
NULL_DATE_ALLOWED: frozenset = frozenset()

# Queries allowed to emit null-bearing TIMESTAMP (LTZ) columns
# (FIXTURES.md F6, round 14): the r13 driver history separates
# perfectly on this axis — every LTZ emitter with zero nulls is green,
# every NTZ emitter (nulls or not) is green, and the fleet's only
# null-bearing-LTZ emitter (cdc_scd2_apply r13) was its only red.
# Empty until the shape ever earns a green driver row; a nullable
# timestamp output must be cast to timestamp_ntz instead.
NULL_LTZ_ALLOWED: frozenset = frozenset()


def assert_matches_oracle(spark_df, con, sql: str, name: str = "?") -> None:
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    tbl = con.sql(sql).arrow()
    d_cols = list(tbl.schema.names)
    d_rows = [
        tuple(d[c] for c in d_cols) for d in tbl.to_pylist()
    ]

    assert sorted(s_cols) == sorted(d_cols), (
        f"[{name}] column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    decimals = decimal_columns(spark_df)
    assert not decimals, (
        f"[{name}] DecimalType output column(s) {decimals}: "
        "cast to double on both sides"
    )
    s_fams = {
        f.name: spark_type_family(f.dataType)
        for f in spark_df.schema.fields
    }
    d_fams = {f.name: arrow_type_family(f.type) for f in tbl.schema}
    fam_diffs = {
        c: (s_fams[c], d_fams[c]) for c in s_fams if s_fams[c] != d_fams[c]
    }
    assert not fam_diffs, (
        f"[{name}] Arrow type-family mismatch (driver-hasher contract, "
        f"see multimodal_shard_manifest r10): {fam_diffs}"
    )
    # FIXTURES.md F6 (round 13): null-bearing DATE output is the one
    # shape ever driver-hash-red while value- AND type-family-exact
    # (cdc_scd2_apply r12). Block it fleet-wide; a query that truly
    # needs it goes on this allowlist after earning a green driver row.
    import pyarrow.types as _pat

    null_dates = {
        f.name
        for f in tbl.schema
        if _pat.is_date(f.type) and tbl.column(f.name).null_count > 0
        and name not in NULL_DATE_ALLOWED
    }
    assert not null_dates, (
        f"[{name}] null-bearing DATE output column(s) {sorted(null_dates)} "
        "— driver-hash-suspect shape, emit TIMESTAMP_NTZ instead "
        "(FIXTURES.md F6, cdc_scd2_apply r12 precedent)"
    )
    # FIXTURES.md F6 (round 14): null-bearing LTZ (Spark TimestampType,
    # Arrow timestamp[us, tz=UTC]) is the OTHER driver-hash-red shape —
    # cdc_scd2_apply's r13 repin chose it and stayed red while
    # value/row/schema-exact. LTZ with zero nulls is many-round green;
    # nullable timestamps must be TIMESTAMP_NTZ.
    from pyspark.sql import types as _T

    ltz_cols = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, _T.TimestampType)
        and name not in NULL_LTZ_ALLOWED
    ]
    if ltz_cols:
        col_idx = {c: i for i, c in enumerate(s_cols)}
        null_ltz = sorted(
            c
            for c in ltz_cols
            if any(r[col_idx[c]] is None for r in s_rows)
        )
        assert not null_ltz, (
            f"[{name}] null-bearing LTZ output column(s) {null_ltz} "
            "— driver-hash-red shape, cast to timestamp_ntz instead "
            "(FIXTURES.md F6, cdc_scd2_apply r13 precedent)"
        )
    assert len(s_rows) == len(d_rows), (
        f"[{name}] row count: spark={len(s_rows)} duck={len(d_rows)}"
    )
    _, s_norm = normalize(s_rows, s_cols)
    _, d_norm = normalize(d_rows, d_cols)
    if s_norm != d_norm:
        diffs = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:5]
        raise AssertionError(f"[{name}] value mismatch; first diffs: {diffs}")
