"""Parquet reads: the driver-provided tables (TESTDATA.md) and every store.

:func:`read_parquet` is the package's one parquet read. Without a schema,
every ``spark.read.parquet`` starts a Spark job to read the footers and
infer one, before any of the query's own work. ``read_parquet`` infers a
path's schema once and hands it back to
``spark.read.schema(...)`` for as long as the path's data files (name,
size, mtime) and the session's parquet-inference confs are unchanged.
Only the schema is kept, never a DataFrame: Spark still lists the files
on every read, so an append is visible to the next read, and Catalyst
still gets full pushdown/pruning.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; read it as long nanos and convert
        # (floor to micros, matching DuckDB's nanos->micros truncation).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _ltz(df)
    return _ltz(read_parquet(spark, f"{sf_dir}/{name}.parquet"))


# the confs that change what schema parquet inference returns for the same
# files; a flip re-infers (load_table sets nanosAsLong at runtime)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# absolute path -> ((file signature, conf values), schema); one entry per
# path, the latest. Shared by every session in the process: the key pins
# the files and the confs, so a session can only reuse a schema it would
# have inferred itself
_schemas: dict[str, tuple[tuple, T.StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file set.

    A repeat read of an unchanged local path starts no Spark job. A URI, a
    missing path or one without data files goes to a plain
    ``spark.read.parquet``, so Spark's own error surfaces unchanged."""
    return _read_parquet(spark, path, file_signature(path))


def read_layout(spark: SparkSession, path: str) -> DataFrame | None:
    """:func:`read_parquet` of a published layout directory, or None when
    the directory holds no data files: its source had no rows, so there is
    no schema to read, and every probe of it matches nothing. The path's
    files are listed once for both answers."""
    files = file_signature(path)
    if not files and os.path.isdir(path):
        return None
    return _read_parquet(spark, path, files)


def _read_parquet(spark: SparkSession, path: str, files: tuple) -> DataFrame:
    if not files:
        return spark.read.parquet(path)
    # the key is taken before the inferring read: if the files change during
    # it, the entry's key names the old file set, which no later read matches
    key = (files, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    entry = os.path.abspath(path)
    hit = _schemas.get(entry)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[entry] = (key, df.schema)
    return df


def file_signature(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relative name, size, mtime_ns) of each data file under a local
    ``path``, sorted; empty for a URI, a missing path or no data files.
    Skips the ``_``/``.`` names Spark's file index skips (success
    markers, ``.crc``), but not ``_``-prefixed partition directories."""
    if urlparse(path).scheme:
        return ()
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if _is_data_name(d)]
            for name in filter(_is_data_name, names):
                full = os.path.join(root, name)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    except OSError:  # a file removed mid-walk: let Spark list the path
        return ()
    return tuple(sorted(files))


def _is_data_name(name: str) -> bool:
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _ltz(df: DataFrame) -> DataFrame:
    """Normalize every TIMESTAMP_NTZ column to session-zone TIMESTAMP.

    The testdata has shipped timestamps both as TIMESTAMP(MICROS,
    isAdjustedToUTC=false) — which Spark reads as TIMESTAMP_NTZ — and as
    UTC-adjusted/nanos layouts that land as TIMESTAMP. NTZ breaks epoch
    arithmetic (cast to long / unix_micros are illegal on NTZ) and changes
    toPandas dtypes, so the engine pins one semantic: the session is UTC
    (session.get_spark), where the NTZ->LTZ cast is micros-identity and
    every downstream expression and the DuckDB oracle agree."""
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, suffix: str = "", replace: bool = True
) -> list[str]:
    """Register every testdata table as a temp view (``lineitem``, ``orders``
    ... optionally suffixed) so the whole engine surface is reachable from
    raw ``spark.sql`` — the same contract the DuckDB oracle gets. Returns
    the view names.

    CLOBBERS same-named temp views by default (createOrReplaceTempView) —
    a session mixing its own ``orders`` view loses it. Pass a ``suffix``
    to namespace the views, or ``replace=False`` to keep any view that
    already exists under the name (whatever data it points at)."""
    names = []
    for name in TABLES:
        view = f"{name}{suffix}"
        if not replace and spark.catalog.tableExists(view):
            names.append(view)
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(view)
        names.append(view)
    return names


def run_sql(spark: SparkSession, sf_dir: str, sql: str, suffix: str = ""):
    """One-call SQL interface: register views (optionally suffixed —
    reference the suffixed names in ``sql`` to avoid clobbering caller
    views), run the statement."""
    register_views(spark, sf_dir, suffix=suffix)
    return spark.sql(sql)
