"""Streaming semantics: batch/stream parity for windowed aggs, streaming
dedup, custom stateful operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from code_challenge___data_engineer___machinemax_spark.streaming.events import (
    dedup_stream,
    read_event_stream,
    user_running_totals,
    windowed_counts,
)
from code_challenge___data_engineer___machinemax_spark.streaming.replay import run_to_memory
from code_challenge___data_engineer___machinemax_spark.tables import load_table


def test_windowed_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir, str(tmp_path))
    run_to_memory(windowed_counts(stream), "win_counts", "complete").createOrReplaceTempView("win_counts")
    got = {
        (r.win_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = load_table(spark, sf_dir, "events")
    want = {
        (r.win_start, r.event_type): (r.n, r.total_value)
        for r in windowed_counts(batch).collect()
    }
    assert set(got) == set(want)
    # counts identical; float sums compared rounded (already rounded to 4)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-3


def test_dedup_stream_drops_replays(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir, str(tmp_path))
    # replay the same file: union of the stream with itself via two reads
    run_to_memory(dedup_stream(stream), "dedup_once", "append").createOrReplaceTempView("dedup_once")
    n_once = spark.sql("SELECT COUNT(*) AS n FROM dedup_once").collect()[0].n
    n_batch = load_table(spark, sf_dir, "events").count()
    n_distinct = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert n_once == n_distinct <= n_batch


def test_user_running_totals_state(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir, str(tmp_path))
    run_to_memory(user_running_totals(stream), "user_totals", "update").createOrReplaceTempView("user_totals")
    # final state per user == batch aggregation
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY n_events DESC) rn FROM user_totals) WHERE rn = 1"""
        ).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
    )
    want = {r.user_id: (r.n, r.v) for r in batch.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-2


def test_append_mode_watermark_drops_late_rows(spark, tmp_path):
    """Watermark EVICTION semantics (append mode) — the half the
    streamed_hourly_counts oracle deliberately does not exercise (complete
    mode ignores the watermark; its docstring says so). Wave 1 carries a
    far-future row that advances the watermark past wave 2's old events,
    so in append mode wave 2 must be dropped and hour-0 emits wave-1
    counts only."""
    import datetime as dt
    import os

    from code_challenge___data_engineer___machinemax_spark.streaming.events import windowed_counts
    from code_challenge___data_engineer___machinemax_spark.streaming.replay import run_to_memory

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, user_id long, event_type string, value double, ts timestamp"
    waves = [
        [
            (1, 1, "view", 1.0, base + dt.timedelta(minutes=10)),
            (2, 1, "view", 1.0, base + dt.timedelta(minutes=20)),
            # sentinel far in the future: watermark advances to 10:00 - 2h
            (3, 2, "view", 1.0, base + dt.timedelta(hours=10)),
        ],
        # the watermark computed from wave 0 takes effect from the NEXT
        # batch on (it lags one batch); this filler batch lets it land
        [(6, 4, "view", 1.0, base + dt.timedelta(hours=9, minutes=30))],
        [
            # older than the in-force watermark (8:00) -> late, dropped
            (4, 3, "view", 1.0, base + dt.timedelta(minutes=30)),
            (5, 3, "view", 1.0, base + dt.timedelta(minutes=40)),
        ],
    ]
    landing = str(tmp_path / "landing")
    os.makedirs(landing, exist_ok=True)
    import glob
    import shutil

    # one file per wave = one micro-batch each under maxFilesPerTrigger=1
    for i, data in enumerate(waves):
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"w{i}"))
        f = glob.glob(str(tmp_path / f"w{i}" / "*.parquet"))[0]
        shutil.copy(f, f"{landing}/wave_{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    run_to_memory(windowed_counts(stream), "late_drop", "append").createOrReplaceTempView("late_drop")
    got = {
        (r.win_start.hour, r.event_type): r.n
        for r in spark.sql("SELECT * FROM late_drop").collect()
    }
    # hour-0 window emitted once the watermark passed: wave-1 rows only
    assert got.get((0, "view")) == 2, got


def test_append_session_windows_merge_finalize_and_boundary(spark, tmp_path):
    """Append-mode SESSION windows (the streamed_session_windows_append
    semantics, pinned on a crafted corpus): a session spanning the wave
    boundary MERGES in the state store before emission; a session whose
    end EQUALS the final watermark is emitted (the <= boundary the
    oracle's HAVING encodes); a session still open inside the watermark
    horizon is ABSENT."""
    import datetime as dt
    import glob
    import os
    import shutil

    from code_challenge___data_engineer___machinemax_spark.streaming.events import session_windows
    from code_challenge___data_engineer___machinemax_spark.streaming.replay import run_to_memory

    base = dt.datetime(2024, 1, 1, 8, 0, 0)
    schema = "event_id long, user_id long, event_type string, value double, ts timestamp"
    # final max ts = 12:00 -> final watermark 10:00 (2h delay)
    waves = [
        [   # wave 0: historical bulk
            (1, 1, "view", 1.0, base),                            # A 8:00
            (2, 1, "view", 1.0, base + dt.timedelta(minutes=20)), # A 8:20
            (3, 2, "view", 1.0, base + dt.timedelta(minutes=10)), # B 8:10
            (4, 4, "view", 1.0, base + dt.timedelta(minutes=90)), # D 9:30
        ],
        [   # wave 1: strictly newer rows
            # merges with A's open session (gap to 8:20 is 20min < 30min)
            (5, 1, "view", 1.0, base + dt.timedelta(minutes=40)), # A 8:40
            (6, 3, "view", 1.0, base + dt.timedelta(hours=4)),    # C 12:00
        ],
    ]
    landing = str(tmp_path / "landing")
    os.makedirs(landing, exist_ok=True)
    for i, data in enumerate(waves):
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"w{i}"))
        f = glob.glob(str(tmp_path / f"w{i}" / "*.parquet"))[0]
        shutil.copy(f, f"{landing}/wave_{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    run_to_memory(
        session_windows(stream, gap="30 minutes"), "sess_append", "append"
    ).createOrReplaceTempView("sess_append")
    got = {
        r.user_id: (r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_append").collect()
    }
    # A: one MERGED session across the wave boundary, 3 events, end 9:10
    assert got[1] == (base, base + dt.timedelta(minutes=70), 3)
    # B: closed singleton, end 8:40
    assert got[2] == (
        base + dt.timedelta(minutes=10),
        base + dt.timedelta(minutes=40),
        1,
    )
    # D: end 10:00 == final watermark -> the <= boundary emits it
    assert got[4] == (
        base + dt.timedelta(minutes=90),
        base + dt.timedelta(minutes=120),
        1,
    )
    # C: last event 12:00, still open inside the horizon -> absent
    assert 3 not in got
