"""Transform layer (SURVEY §2.9 T1–T5, §2.12).

The reference processes pandas chunks through pluggable callables
(``src/data_transformation/data_transformer.py:125-211,240-290``);
here the same transforms are whole-DataFrame Spark ops — chunking,
temp files, and the concat barrier (``:292-316``) disappear into
partitioned execution.

Scale notes per transform are on the functions; the common theme:
everything is a narrow map or a 1-row broadcast join — no wide
shuffle anywhere in this module.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType
from pyspark.util import inheritable_thread_target

if TYPE_CHECKING:  # pandas only crosses the wire inside mapInPandas
    import pandas as pd

#: the reference's pluggable per-chunk transform signature
#: (``process_function(chunk, meter_type)``,
#: ``data_transformer.py:240-269``)
ChunkTransform = Callable[["pd.DataFrame", str], "pd.DataFrame"]

_T = TypeVar("_T")
_R = TypeVar("_R")


# ---------------------------------------------------------------------------
# T1 — melt / unpivot (wide meter matrix → long fact table)
# ---------------------------------------------------------------------------


def melt_wide(
    df: DataFrame,
    meter_type: str,
    id_col: str = "timestamp",
    var_name: str = "building_id",
    value_name: str = "meter_reading",
) -> DataFrame:
    """T1: unpivot ``timestamp × building`` matrix into the long
    ``(timestamp, building_id, meter_reading, meter)`` fact table —
    ``melt_chunk`` (``data_transformer.py:169-211``) as a native
    unpivot.

    Scale: unpivot is a generator (rows × n_buildings) inside the
    scan stage — no shuffle; downstream writes partition by ``meter``.

    A CSV column with no values at all is inferred as string, where
    pandas reads float64 NaN and the reference melts null readings;
    such columns are cast to the other readings' numeric type (double
    when there are none). Spotting them costs one job, run only when a
    string-typed value column exists; a column holding text is left
    alone, so the unpivot still rejects it beside numeric readings.
    """
    fields = [f for f in df.schema.fields if f.name != id_col]
    value_cols = [f.name for f in fields]
    text_cols = [
        f.name for f in fields if isinstance(f.dataType, StringType)
    ]
    if text_cols:
        counts = df.select([F.count(df[c]) for c in text_cols]).first()
        empty = [c for c, n in zip(text_cols, counts) if n == 0]
        numeric = next(
            (f.dataType for f in fields if f.name not in text_cols),
            DoubleType(),
        )
        df = df.withColumns({c: df[c].cast(numeric) for c in empty})
    return df.unpivot(
        [id_col], value_cols, var_name, value_name
    ).withColumn("meter", F.lit(meter_type))


# ---------------------------------------------------------------------------
# T2 — min-max normalization (global, fixing the chunk-local bug)
# ---------------------------------------------------------------------------


def normalize_min_max(
    df: DataFrame,
    value_col: str = "meter_reading",
    out_col: str = "normalized_reading",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """T2: ``(x - min) / (max - min)`` → ``out_col``.

    The reference normalizes per 50 k-row chunk
    (``data_transformer.py:139-167``) — chunk-local bounds, a
    correctness bug this engine deliberately fixes: bounds are GLOBAL
    (or per ``partition_by`` group, e.g. ``["meter"]``).

    Scale: bounds come from a map-side-combined agg collapsed to
    |groups| rows, broadcast back — no windowing over a single
    partition, no full shuffle of the fact table.
    """
    keys = partition_by or []
    bounds = df.groupBy(*keys).agg(
        F.min(value_col).alias("__min"), F.max(value_col).alias("__max")
    )
    joined = (
        df.join(F.broadcast(bounds), keys, "left")
        if keys
        else df.crossJoin(F.broadcast(bounds))
    )
    return joined.withColumn(
        out_col,
        (F.col(value_col) - F.col("__min")) / (F.col("__max") - F.col("__min")),
    ).drop("__min", "__max")


# ---------------------------------------------------------------------------
# T5 — pandas-style coercing integer cast
# ---------------------------------------------------------------------------


def coerce_int64(df: DataFrame, cols: list[str]) -> DataFrame:
    """T5: ``to_numeric(errors='coerce').round(0).astype('Int64')``
    (``data_loader.py:551-579``): invalid → NULL, floats rounded,
    nullable 64-bit ints. ``try_cast`` gives the coerce-to-null
    semantics Spark's ANSI cast would reject. Applies only to columns
    actually present (P2, ``data_loader.py:582-604``).

    ``bround`` (HALF_EVEN), not ``round`` (HALF_UP): pandas/numpy
    ``.round()`` is banker's rounding, so '0.5' must coerce to 0 —
    found by the hypothesis property test against ``to_numeric``.
    """
    present = [c for c in cols if c in df.columns]
    return df.withColumns(
        {
            c: F.bround(F.col(c).try_cast("double")).cast("long")
            for c in present
        }
    )


# ---------------------------------------------------------------------------
# F1 — identifier cleaning
# ---------------------------------------------------------------------------


def clean_identifier(name: str, is_table: bool = False) -> str:
    """Identifier cleaning (``schema_analyzer.py:68-72,174-187``):
    lowercase, non-alphanumerics → ``_``, digit-leading names get a
    ``col_``/``tbl_`` prefix."""
    cleaned = re.sub(r"[^a-z0-9_]", "_", name.strip().lower())
    if cleaned and cleaned[0].isdigit():
        cleaned = ("tbl_" if is_table else "col_") + cleaned
    return cleaned


# ---------------------------------------------------------------------------
# T4 / §2.12 — pluggable per-chunk transform pipeline
# ---------------------------------------------------------------------------


def apply_chunked(
    df: DataFrame,
    fn: ChunkTransform,
    meter_type: str,
    schema,  # StructType | DDL string of fn's output
) -> DataFrame:
    """§2.12: run a reference-style ``process_function(chunk,
    meter_type)`` over the DataFrame via ``mapInPandas`` — the chunk
    IS the Arrow batch, preserving the reference's pluggability
    contract for user transforms that genuinely need pandas.

    Built-in transforms (melt/normalize/coerce) should use the native
    ops above — this is the escape hatch, ~10-100× slower per byte
    than codegen expressions, but Arrow-vectorized and fully
    distributed (never a driver-side loop).
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for chunk in batches:
            out = fn(chunk, meter_type)
            if out is not None and len(out):
                yield out

    return df.mapInPandas(run, schema)


#: folder-name dispatch (``data_transformer.py:376-382``): metadata /
#: weather pass through unchanged, everything else is a meter matrix
#: to melt. Keys are regexes matched against the folder name.
DEFAULT_DISPATCH: dict[str, Callable[[DataFrame, str], DataFrame]] = {
    r"metadata|weather": lambda df, _mt: df,
    r".*": melt_wide,
}


def _run_concurrently(
    spark: SparkSession, fn: Callable[[_T], _R], items: list[_T]
) -> list[_R]:
    """Run ``fn`` over independent ``items`` on a driver thread pool,
    ``min(len(items), defaultParallelism)`` threads wide.

    A source here is usually many small files, each a one-task Spark
    job, so one driver thread leaves most task slots idle; the pool
    overlaps those jobs. Each call runs under
    ``inheritable_thread_target``, so the caller's job group,
    description, scheduler pool and session tags carry into the jobs
    it launches (a plain pool thread has none of them). Results come
    back in input order, after every item has finished; the first
    failure in input order is re-raised.
    """
    if not items:
        return []
    target = inheritable_thread_target(spark)(fn)
    workers = min(len(items), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(target, item) for item in items]
    return [f.result() for f in futures]


def transform_sources(
    spark: SparkSession,
    folders: dict[str, list[str]],
    output_root: str,
    dispatch: dict[str, Callable[[DataFrame, str], DataFrame]] | None = None,
    partition_by: dict[str, list[str]] | None = None,
) -> dict[str, str]:
    """T4 / §3.2: the CSV-corpus → Parquet pipeline
    (``process_and_convert_to_parquet_in_chunks``,
    ``data_transformer.py:367-389``): per source folder, read every
    CSV, apply the first dispatch transform whose pattern matches the
    folder name (meter_type = file stem, ``:259-269``), union, and
    write one Parquet dataset per folder.

    Returns ``{folder_name: output_path}``. The reference's temp
    chunk files + concat barrier (``:292-316``) are replaced by one
    lazy plan per folder with an atomic directory write.

    Like the reference's ``ThreadPoolExecutor``, files and folders
    are independent work run concurrently: every file's schema pass
    and dispatch transform on a driver pool, then every folder's
    union and write. A dispatch callable therefore runs on worker
    threads and must be thread-safe; the built-ins are. Folders that
    share a name share one output directory, so only the last of
    them is written, as a sequential overwrite would leave it.
    """
    import os

    dispatch = dispatch or DEFAULT_DISPATCH
    partition_by = partition_by or {}
    by_name = {os.path.basename(os.path.normpath(f)): f for f in folders}
    files = [
        (name, path)
        for name, folder in by_name.items()
        for path in folders[folder]
    ]

    def read(item: tuple[str, str]) -> DataFrame:
        name, path = item
        fn = next(
            fn for pat, fn in dispatch.items() if re.search(pat, name)
        )
        stem = os.path.splitext(os.path.basename(path))[0]
        df = spark.read.option("header", "true").option(
            "inferSchema", "true"
        ).csv(path)
        return fn(df, stem)

    parts: dict[str, list[DataFrame]] = {name: [] for name in by_name}
    for (name, _path), df in zip(files, _run_concurrently(spark, read, files)):
        parts[name].append(df)

    def write(name: str) -> str:
        unioned = functools.reduce(DataFrame.unionByName, parts[name])
        dest = os.path.join(output_root, name)
        writer = unioned.write.mode("overwrite")
        if name in partition_by:
            writer = writer.partitionBy(*partition_by[name])
        writer.parquet(dest)
        return dest

    return dict(zip(by_name, _run_concurrently(spark, write, list(by_name))))
