"""Order-insensitive output fingerprints, computed the same way in Spark
and in DuckDB.

A row renders as its cells joined in column-name order, each cell tagged
with its kind: integers and strings as text, floating and decimal values
as ``round(x * 1e6)``, NULL as ``\\N``.  The fingerprint of a result is
(row count, sum over rows of the first 60 bits of md5(row)).  On the Spark
side the two aggregates ride along with the op's own ``noop`` write through
``DataFrame.observe``, so every timed op is checked without a second run.
"""

from __future__ import annotations

import re

import duckdb
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEP = "\x1f"
_INTEGRAL_SPARK = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL_SPARK = (T.FloatType, T.DoubleType, T.DecimalType)
_INTEGRAL_DUCK = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                  "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
_FRACTIONAL_DUCK = ("FLOAT", "DOUBLE", "REAL", "DECIMAL")

Fingerprint = tuple[int, int]

# a common table expression head: `WITH name AS (` or `, name AS (`
_CTE_HEAD = re.compile(r"(?i)(\bWITH\s+|,\s*)([A-Za-z_]\w*)\s+AS\s+\(")


def _spark_cell(name: str, dtype: T.DataType):
    c = F.col(f"`{name}`")
    if isinstance(dtype, _INTEGRAL_SPARK):
        tag, text = "i", c.cast("string")
    elif isinstance(dtype, _FRACTIONAL_SPARK):
        tag, text = "f", F.expr(
            f"try_cast(round(cast(`{name}` AS double) * 1000000D) AS bigint)"
        ).cast("string")
    elif isinstance(dtype, T.BooleanType):
        tag, text = "b", c.cast("string")
    else:
        tag, text = "s", c.cast("string")
    return F.concat(F.lit(tag), F.coalesce(text, F.lit("\\N")))


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its fingerprint aggregates attached."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row = F.concat_ws(SEP, *[_spark_cell(f.name, f.dataType) for f in fields])
    obs = Observation()
    bits = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(bits).alias("fp")), obs


def spark_fingerprint(obs: Observation) -> Fingerprint:
    got = obs.get
    return int(got["rows"]), int(got["fp"] or 0)


def noop_fingerprint(df: DataFrame) -> Fingerprint:
    """Consume ``df`` with a ``noop`` write; its output fingerprint."""
    odf, obs = observed(df)
    odf.write.format("noop").mode("overwrite").save()
    return spark_fingerprint(obs)


def _duck_cell(name: str, dtype: str) -> str:
    col = f'"{name}"'
    base = dtype.split("(")[0].upper()
    if base in _INTEGRAL_DUCK:
        tag, text = "i", f"CAST({col} AS VARCHAR)"
    elif base in _FRACTIONAL_DUCK:
        tag, text = "f", f"CAST(TRY_CAST(round(CAST({col} AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)"
    elif base == "BOOLEAN":
        tag, text = "b", f"CAST({col} AS VARCHAR)"
    else:
        tag, text = "s", f"CAST({col} AS VARCHAR)"
    return f"'{tag}' || coalesce({text}, '\\N')"


def _relation(con: duckdb.DuckDBPyConnection, sql: str) -> duckdb.DuckDBPyRelation:
    """The oracle query with every CTE materialized once.  DuckDB otherwise
    inlines a CTE at each reference, and the deep CTE chains of the
    similarity and funnel oracles then take tens of seconds instead of one.
    Texts where the rewrite does not parse (a WINDOW clause also reads
    `name AS (`) run as written."""
    try:
        return con.sql(_CTE_HEAD.sub(r"\1\2 AS MATERIALIZED (", sql))
    except duckdb.ParserException:
        return con.sql(sql)


def duck_fingerprint(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[Fingerprint, list[str]]:
    """Fingerprint and sorted column names of an oracle query."""
    rel = _relation(con, sql)
    cols = sorted(zip(rel.columns, [str(t) for t in rel.types]))
    row = f" || '{SEP}' || ".join(_duck_cell(n, t) for n, t in cols) or "''"
    rel.create_view("oracle_result", replace=True)
    hashes = con.sql(f"SELECT md5({row}) FROM oracle_result").fetchall()
    return (len(hashes), sum(int(h[0][:15], 16) for h in hashes)), [n for n, _ in cols]


def duck_connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con
