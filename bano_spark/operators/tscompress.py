"""Time-series timestamp compression advisor — Gorilla-style
delta-of-delta bit costing (Pelkonen et al., "Gorilla: A Fast,
Scalable, In-Memory Time Series Database", VLDB 2015, §4.1).

Why it matters at 100 TB: event/crawl timestamp columns dominate
warehouse bytes after dictionary-coding the rest; Gorilla's dod ladder
(regular cadence -> 1 bit/point) is the standard cost model for
choosing a timestamp encoding. This operator computes, per series
(and optionally per aligned block, mirroring Gorilla's 2-hour block
re-initialization), the EXACT bit cost the encoder would emit:

  point 1            -> 64 bits (block header timestamp)
  point 2            -> 14 bits (first delta, header-aligned)
  point k >= 3, dod=0        -> 1 bit  ('0')
  dod in [-63, 64]           -> 9 bits ('10'  + 7)
  dod in [-255, 256]         -> 12 bits('110' + 9)
  dod in [-2047, 2048]       -> 16 bits('1110'+ 12)
  else                       -> 36 bits('1111'+ 32)

Everything is two lag windows + integer CASE arithmetic — keyed
windows partitioned by the series id, so the 100-TB plan is one hash
exchange on the series key and per-partition sorts; no global order,
no Python.

Ref parity: the reference ships raw ISO timestamps in its cumul/CSV
sinks (bano/sql/export_csv_dept.sql); this is the storage-side cost
model the Spark rebuild uses to pick encodings for the same columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["dod_point_bits", "BIT_LADDER"]

# (class, bits) in ladder order; classification below must match.
BIT_LADDER = [("head64", 64), ("delta14", 14), ("dod0", 1),
              ("dod7", 9), ("dod9", 12), ("dod12", 16), ("dod32", 36)]


def dod_point_bits(df: DataFrame, series_cols: list[str], s_col: str,
                   order_col: str) -> DataFrame:
    """Adds rn / delta / dod / cls / bits per point of each series.

    ``series_cols`` is the full partition key (include the block
    column for block-reinitialized costing); ordering is
    (s_col, order_col) — total and engine-identical.
    """
    w = Window.partitionBy(*series_cols).orderBy(s_col, order_col)
    s = F.col(s_col)
    d = (s - F.lag(s).over(w)).alias("delta")
    out = (df
           .withColumn("rn", F.row_number().over(w))
           .withColumn("delta", s - F.lag(s).over(w))
           .withColumn("dod", F.col("delta") - F.lag("delta").over(w)))
    dod = F.col("dod")
    cls = (F.when(F.col("rn") == 1, F.lit("head64"))
           .when(F.col("rn") == 2, F.lit("delta14"))
           .when(dod == 0, F.lit("dod0"))
           .when((dod >= -63) & (dod <= 64), F.lit("dod7"))
           .when((dod >= -255) & (dod <= 256), F.lit("dod9"))
           .when((dod >= -2047) & (dod <= 2048), F.lit("dod12"))
           .otherwise(F.lit("dod32")))
    bits = F.create_map(
        *[x for c, b in BIT_LADDER for x in (F.lit(c), F.lit(b))]
    )[F.col("cls")]
    return (out.withColumn("cls", cls)
            .withColumn("bits", bits.cast("bigint")))


def dod_case_sql(dialect: str = "duckdb") -> str:
    """The identical classification as an SQL CASE over columns
    (rn, dod) — the oracle-side single source of truth."""
    return """CASE
  WHEN rn = 1 THEN 'head64'
  WHEN rn = 2 THEN 'delta14'
  WHEN dod = 0 THEN 'dod0'
  WHEN dod >= -63 AND dod <= 64 THEN 'dod7'
  WHEN dod >= -255 AND dod <= 256 THEN 'dod9'
  WHEN dod >= -2047 AND dod <= 2048 THEN 'dod12'
  ELSE 'dod32' END"""


def bits_case_sql() -> str:
    return """CASE cls
  WHEN 'head64' THEN 64 WHEN 'delta14' THEN 14 WHEN 'dod0' THEN 1
  WHEN 'dod7' THEN 9 WHEN 'dod9' THEN 12 WHEN 'dod12' THEN 16
  ELSE 36 END"""
