"""Column statistics: the reference's aggregation layer, Spark-native.

Reimplements the semantics of src/writer/statistics/* (S1-S9 in SURVEY.md
section 2.3) as one distributed ``agg``: count / present-count / min /
max / sum per column, typed per column class:

- integer columns  -> LongStatistics   (long.rs: min/max/sum)
- float columns    -> DoubleStatistics (double.rs)
- string columns   -> StringStatistics (string.rs: lexicographic min/max,
                      sum of byte lengths)
- boolean columns  -> BooleanStatistics (boolean.rs: true/false counts)
- timestamp columns-> TimestampStatistics (timestamp.rs:131 — min/max in
                      epoch *milliseconds*)
- decimal columns  -> DecimalStatistics (decimal.rs:70-84 — exact i128
                      min/max/sum; surfaced as canonical decimal strings,
                      never lossy doubles)
- binary columns   -> BinaryStatistics (binary.rs:19-23 — sum of byte
                      lengths only, no min/max)

The reference's three-level merge tree (row group -> stripe -> file,
long.rs:84-94 / writer.rs:121-130) is exactly Spark's partial+final
aggregation; expressing it as ``agg`` lets Catalyst run it map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

STATS_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("n_present", T.LongType()),
        T.StructField("min_long", T.LongType()),
        T.StructField("max_long", T.LongType()),
        T.StructField("sum_long", T.LongType()),
        T.StructField("min_double", T.DoubleType()),
        T.StructField("max_double", T.DoubleType()),
        T.StructField("sum_double", T.DoubleType()),
        T.StructField("min_str", T.StringType()),
        T.StructField("max_str", T.StringType()),
        T.StructField("sum_lengths", T.LongType()),
        T.StructField("n_true", T.LongType()),
        T.StructField("min_decimal", T.StringType()),
        T.StructField("max_decimal", T.StringType()),
        T.StructField("sum_decimal", T.StringType()),
    ]
)

_LONGS = {"tinyint", "smallint", "int", "bigint"}
_DOUBLES = {"float", "double"}


def column_statistics(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One stats row per column, computed in a single distributed agg."""
    spark = df.sparkSession
    cols = cols or df.columns
    dtypes = dict(df.dtypes)
    exprs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        dt = dtypes[c]
        exprs.append(F.count(c).alias(f"{c}__present"))
        if dt in _LONGS:
            exprs += [
                F.min(c).cast("long").alias(f"{c}__min_long"),
                F.max(c).cast("long").alias(f"{c}__max_long"),
                F.sum(c).cast("long").alias(f"{c}__sum_long"),
            ]
        elif dt in _DOUBLES:
            exprs += [
                F.min(c).cast("double").alias(f"{c}__min_double"),
                F.max(c).cast("double").alias(f"{c}__max_double"),
                F.sum(c).cast("double").alias(f"{c}__sum_double"),
            ]
        elif dt == "string":
            exprs += [
                F.min(c).alias(f"{c}__min_str"),
                F.max(c).alias(f"{c}__max_str"),
                F.sum(F.octet_length(c)).cast("long").alias(f"{c}__sum_lengths"),
            ]
        elif dt == "boolean":
            exprs.append(
                F.sum(F.col(c).cast("long")).cast("long").alias(f"{c}__n_true")
            )
        elif dt.startswith("timestamp"):
            # reference stores timestamp min/max as epoch millis. For
            # TIMESTAMP_NTZ use pure wall-clock arithmetic from the epoch
            # (unix_millis only accepts LTZ, and an NTZ->LTZ cast would
            # shift by the session timezone)
            if dt == "timestamp_ntz":
                ms = (
                    "timestampdiff(MILLISECOND, "
                    "timestamp_ntz'1970-01-01 00:00:00', {v})"
                )
                exprs += [
                    F.expr(ms.format(v=f"min({c})")).alias(f"{c}__min_long"),
                    F.expr(ms.format(v=f"max({c})")).alias(f"{c}__max_long"),
                ]
            else:
                exprs += [
                    F.unix_millis(F.min(c)).alias(f"{c}__min_long"),
                    F.unix_millis(F.max(c)).alias(f"{c}__max_long"),
                ]
        elif dt.startswith("decimal"):
            # exact, like the reference's i128 accumulators
            # (decimal.rs:70-84): Spark's decimal agg widens the sum to
            # precision 38; strings keep full precision in the stats row
            exprs += [
                F.min(c).cast("string").alias(f"{c}__min_decimal"),
                F.max(c).cast("string").alias(f"{c}__max_decimal"),
                F.sum(c).cast("string").alias(f"{c}__sum_decimal"),
            ]
        elif dt == "binary":
            # BinaryStatistics (binary.rs:19-23): sum of lengths, no order
            exprs.append(
                F.sum(F.octet_length(c)).cast("long").alias(f"{c}__sum_lengths")
            )
    row = df.agg(*exprs).first().asDict()
    out = []
    for c in cols:
        d = {f.name: None for f in STATS_SCHEMA.fields}
        d["column"] = c
        d["n_values"] = row["__n"]
        d["n_present"] = row[f"{c}__present"]
        for k in (
            "min_long",
            "max_long",
            "sum_long",
            "min_double",
            "max_double",
            "sum_double",
            "min_str",
            "max_str",
            "sum_lengths",
            "n_true",
            "min_decimal",
            "max_decimal",
            "sum_decimal",
        ):
            key = f"{c}__{k}"
            if key in row:
                d[k] = row[key]
        out.append(d)
    return spark.createDataFrame(out, STATS_SCHEMA)
