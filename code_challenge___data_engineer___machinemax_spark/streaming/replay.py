"""The life of a finite stream: scratch dir, staged waves, drain, read-back.

A streaming query proven against a batch oracle replays a table through a
real Structured Streaming pipeline: the table is split into waves, each
wave is staged as ONE file in a landing directory, and a file source with
``maxFilesPerTrigger=1`` turns each file into one micro-batch, so the
stream's cross-batch state is actually exercised. The stream is then
drained (started, run until every available file is processed, stopped)
and its result is read back and pinned before the scratch directory goes.

Every piece of that life lives here, so the cleanup rule is stated once:
:func:`scratch_dir` removes its directory on the way out, whether the
query returned or raised, and :func:`drain` stops its stream the same way.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType
from pyspark.sql.utils import AnalysisException


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh temp directory, removed on exit even when the body raises.
    Pin (``localCheckpoint``) anything read from it before the block ends."""
    base = tempfile.mkdtemp(prefix=prefix)
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stage_wave(df: DataFrame, landing: str, name: str, fmt: str = "parquet") -> None:
    """Write ``df`` as the single file ``landing/<name>.<fmt>``. The file
    source reads top-level files, so one file per wave keeps wave
    boundaries equal to micro-batch boundaries (``coalesce(1)``); the write
    goes through a staging dir so the stream never sees a partial file."""
    stage = os.path.join(landing, f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").format(fmt).save(stage)
    part = glob.glob(os.path.join(stage, "part-*"))[0]
    shutil.move(part, os.path.join(landing, f"{name}.{fmt}"))
    shutil.rmtree(stage, ignore_errors=True)


def stage_waves(waves: Sequence[DataFrame], landing: str, fmt: str = "parquet") -> str:
    """Stage ``waves`` in order as ``wave0``, ``wave1``, ...; returns ``landing``."""
    for i, wave in enumerate(waves):
        stage_wave(wave, landing, f"wave{i}", fmt)
    return landing


def wave_stream(
    spark: SparkSession, landing: str, schema: StructType | str, fmt: str = "parquet"
) -> DataFrame:
    """The staged waves as a file stream, one wave file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format(fmt)
        .load(landing)
    )


def drain(writer: DataStreamWriter) -> None:
    """Start the stream, process everything available, and stop it (also
    when processing raises)."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_to_memory(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain a finite stream into the in-memory table ``name`` and return
    its rows pinned (``localCheckpoint``). The table itself is dropped
    before returning, so no sink rows outlive the call in the session."""
    spark = df.sparkSession
    try:
        drain(
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(processingTime="0 seconds")
        )
        return spark.table(name).localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The parquet table at ``path`` under ``schema``, or no rows under
    ``schema`` when nothing was ever written there (a stream that admitted
    nothing leaves no directory)."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], schema)
