"""Column profiling (SURVEY §2.9 T11, §2.4 A4/A9) — the reference's
``analyze_schema`` (``src/schema_generator/schema_analyzer.py:24-102``)
as ONE Spark aggregate.

The reference computes count / null_count / unique_count /
unique_ratio, uniqueness & monotonicity flags, and 5 sample values
per column from a 10 k-row pandas sample. Here every statistic and
every sample for ALL columns comes from one SQL aggregate over the
caller's DataFrame: the distinct count and the samples both read one
``array_distinct(collect_set(c))`` per column, so stats and samples
see the same rows and the call costs one query (at most 2 Spark
jobs) whatever the column count.

Memory contract: each column's ``collect_set`` holds up to one value
per input row in the final aggregate buffer, so callers pass a
sample — ``Pipeline._emit_schema`` passes ``df.limit(10_000)``, and at
100 TB the input is ``sampling.random_sample`` output by design.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .inference import ColumnProfile, infer_sql_type


@dataclass
class ColumnInfo:
    """Mirror of the reference's BaseColumnInfo
    (``src/schema_generator/base_scema_analyzer.py:7-16``)."""

    name: str
    data_type: str  # inferred SQL type
    nullable: bool
    original_type: str  # Spark dtype string
    stats: dict[str, Any] = field(default_factory=dict)
    sample_values: list[Any] = field(default_factory=list)
    metadata: dict[str, Any] = field(default_factory=dict)


def _kind(dt: T.DataType) -> str:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "timestamp"
    if isinstance(dt, T.NumericType):
        return "numeric"
    return "string"


def _quote(name: str) -> str:
    """SQL identifier for a raw column name: dots and backticks in it
    stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def profile_columns(
    df: DataFrame, sample_values: int = 5
) -> list[ColumnInfo]:
    """T11: per-column type inference + stats + recommendations.

    One ``selectExpr`` aggregate (A4's single-pass idiom) computes
    every stat for every column as SQL text, one projection turns each
    column's ``array_distinct(collect_set(c))`` into its distinct
    count and its samples, and one ``first()`` brings the row back.
    ``array_distinct`` matters: ``collect_set`` alone may keep several
    NaNs, where ``count(DISTINCT)`` counts NaN once. The samples are
    the ``sample_values`` smallest distinct non-null values.
    """
    fields = df.schema.fields
    aggs = ["count(1) AS total"]
    proj = ["total"]
    for i, f in enumerate(fields):
        c, k = _quote(f.name), _kind(f.dataType)
        aggs += [
            f"count({c}) AS c{i}_count",
            f"array_distinct(collect_set({c})) AS c{i}_set",
        ]
        proj += [
            f"c{i}_count",
            f"size(c{i}_set) AS c{i}_distinct",
            f"slice(array_sort(c{i}_set), 1, {sample_values}) AS c{i}_samples",
        ]
        if k == "numeric":
            d = f"CAST({c} AS DOUBLE)"
            aggs += [
                f"min({d}) AS c{i}_min",
                f"max({d}) AS c{i}_max",
                # integral ⇔ every value equals its rounding
                f"min(CAST({d} = round({d}) AS INT)) AS c{i}_integral",
                # max decimal places from the plain string form;
                # pandas parity: trailing '.0' counts as 0 places
                f"max(length(regexp_extract(CAST({c} AS STRING), "
                f"'[.]([0-9]*[1-9])$', 1))) AS c{i}_dec",
            ]
            proj += [f"c{i}_min", f"c{i}_max", f"c{i}_integral", f"c{i}_dec"]
        elif k == "string":
            aggs.append(f"max(length({c})) AS c{i}_len")
            proj.append(f"c{i}_len")
    row = df.selectExpr(*aggs).selectExpr(*proj).first()
    total = row["total"]

    out: list[ColumnInfo] = []
    for i, f in enumerate(fields):
        k = _kind(f.dataType)
        count = row[f"c{i}_count"]
        distinct = row[f"c{i}_distinct"]
        prof = ColumnProfile(
            name=f.name,
            kind=k if count else "empty",
            count=count,
            min_val=row[f"c{i}_min"] if k == "numeric" else None,
            max_val=row[f"c{i}_max"] if k == "numeric" else None,
            all_integral=(
                isinstance(f.dataType, T.IntegralType)
                or (k == "numeric" and row[f"c{i}_integral"] == 1)
            ),
            max_decimal_places=(row[f"c{i}_dec"] or 0) if k == "numeric" else 0,
            max_str_len=(row[f"c{i}_len"] or 0) if k == "string" else 0,
            has_tz=isinstance(f.dataType, T.TimestampType),
        )
        null_count = total - count
        is_unique = distinct == total
        unique_ratio = distinct / total if total else 0
        recs = []  # reference wording, schema_analyzer.py:95-101
        if is_unique:
            recs.append("Consider as primary key candidate")
        if unique_ratio < 0.1:
            recs.append("Low cardinality - consider using as categorical")
        out.append(
            ColumnInfo(
                name=f.name,
                data_type=infer_sql_type(prof),
                nullable=null_count > 0,
                original_type=f.dataType.simpleString(),
                stats={
                    "count": total,
                    "null_count": null_count,
                    "unique_count": distinct,
                    "unique_ratio": unique_ratio,
                },
                sample_values=row[f"c{i}_samples"],
                metadata={
                    "is_unique": is_unique,
                    "contains_nulls": null_count > 0,
                    "recommendations": recs,
                },
            )
        )
    return out


def is_monotonic(
    df: DataFrame, col: str, order_col: str | None = None
) -> bool:
    """A9: monotonicity (non-decreasing or non-increasing) in
    ``order_col`` order — the distributed upgrade of the reference's
    pandas ``is_monotonic_*`` (``schema_analyzer.py:88``), which only
    ever saw file order.

    Scale: NO global window. The rows are range-partitioned by the
    order column, each partition is lag-checked independently (a
    pid-keyed window — hash-parallel), and the partition boundaries
    are stitched by a driver-side pass over the P-row partition
    summary (first/last value per partition — metadata-sized by
    construction, the ``scale.global_row_index`` offsets precedent).
    Globally monotonic ⟺ every partition is monotonic AND each
    partition's last value relates to the next partition's first
    value the same way. NULLs in ``col`` are ignored (the reference's
    pandas semantics); duplicate order keys make the per-key order —
    and thus the verdict on ties — unspecified, exactly as the old
    global-window form did.
    """
    if order_col is None:
        ordered = df.select(
            F.col(col).alias("__c"),
            F.monotonically_increasing_id().alias("__ord"),
        )
    else:
        # rows with a NULL order key carry no position in the order
        # and are excluded (a null-__ord-only range partition would
        # otherwise yield first_o=None and crash the driver-side
        # boundary stitch — ADVICE r5 #2)
        ordered = df.select(
            F.col(col).alias("__c"), F.col(order_col).alias("__ord")
        ).filter(F.col(order_col).isNotNull())
    ordered = ordered.filter(F.col("__c").isNotNull())
    rp = ordered.repartitionByRange(F.col("__ord")).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy("__ord")
    prev = F.lag("__c").over(w)
    summary = (
        rp.select("__pid", "__c", "__ord", prev.alias("__prev"))
        .groupBy("__pid")
        .agg(
            F.min(
                F.coalesce(F.col("__c") >= F.col("__prev"), F.lit(True))
            ).alias("inc_ok"),
            F.min(
                F.coalesce(F.col("__c") <= F.col("__prev"), F.lit(True))
            ).alias("dec_ok"),
            F.min_by("__c", "__ord").alias("first_c"),
            F.max_by("__c", "__ord").alias("last_c"),
            F.min("__ord").alias("first_o"),
        )
        .collect()
    )
    parts = sorted(summary, key=lambda r: r["first_o"])
    inc = all(r["inc_ok"] for r in parts) and all(
        parts[i]["last_c"] <= parts[i + 1]["first_c"]
        for i in range(len(parts) - 1)
    )
    dec = all(r["dec_ok"] for r in parts) and all(
        parts[i]["last_c"] >= parts[i + 1]["first_c"]
        for i in range(len(parts) - 1)
    )
    return bool(inc or dec)
