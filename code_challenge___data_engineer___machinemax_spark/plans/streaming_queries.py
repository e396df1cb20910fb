"""Oracle-checked STREAMING-maintained state.

Each query here actually runs a Structured Streaming pipeline (file source ->
foreachBatch sink into a parquet store) and returns the post-ingest state;
the DuckDB oracle is the single-pass batch SQL the incremental pipeline must
converge to. This closes the loop the unit tests only pin pairwise: the
driver gate itself now certifies stream-maintained state == batch semantics.

Reference parity: the reference's pipeline is also incremental (crawl ->
Mongo upsert, index.py:117-129); these queries are the engine's equivalent
discipline under the same correctness gate as the batch operators.

How a query replays its table (streaming/replay.py, the one harness):
- ``scratch_dir`` gives the query a temp directory that is removed when
  the query returns OR raises; results are pinned (``localCheckpoint``)
  inside the block, before the directory goes.
- ``stage_waves`` / ``stage_wave`` write each wave (a deterministic filter
  of the table: id parity, a time cut) as ONE file in ``landing/``, and
  ``wave_stream`` reads them with ``maxFilesPerTrigger=1``, so each wave is
  one micro-batch and cross-batch state merges are really exercised. The
  ingest twins (``streamed_corpus_state`` and the two admission queries)
  instead stage a wave and drain the ingest stream once per wave.
- ``run_to_memory`` drains the stream into a memory table and returns its
  rows pinned, dropping the table; ``drain`` is the same
  start/processAllAvailable/stop for foreachBatch sinks. Both stop the
  stream even when a batch raises.

Determinism notes (the reason these CAN be oracle-checked):
- streamed_corpus_state: the ingest's within-batch survivor is min-doc_id
  (window, not dropDuplicates), and wave membership is a pure function of
  doc_id parity — so the stored corpus is a deterministic function of the
  documents table, expressible as one grouped CASE in SQL.
- streamed_event_rollup: the store carries v_e6, an exact scaled-integer
  value sum (doubles re-associate across micro-batch merges; 64-bit ints
  don't). n and v_e6 are bit-reproducible against DuckDB's one-pass GROUP
  BY; the double v column is intentionally NOT part of the checked output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize, tokenize_sql
from ..streaming.events import read_event_stream, stream_upsert_to_store
from ..streaming.ingest import CORPUS_SCHEMA, dedup_ingest_stream
from ..streaming.replay import (
    read_or_empty,
    run_to_memory,
    scratch_dir,
    stage_wave,
    stage_waves,
    wave_stream,
)
from ..tables import load_table
from .feature_queries import psi_contrib_sql
from .registry import query

_DIGEST_SQL = "md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')))"


def _event_waves(spark: SparkSession, sf_dir: str, base: str) -> tuple[str, DataFrame]:
    """Stage events as two parquet waves (event_id parity — deterministic
    membership) under ``base``; returns the landing dir and the events
    table (its schema is the stream's)."""
    ev = load_table(spark, sf_dir, "events")
    landing = stage_waves(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)],
        os.path.join(base, "landing"),
    )
    return landing, ev


def _event_wave_stream(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    landing, ev = _event_waves(spark, sf_dir, base)
    return wave_stream(spark, landing, ev.schema)


def _document_wave_stream(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    """Documents as two disjoint JSON waves (evens, then odds) under ``base``."""
    docs = load_table(spark, sf_dir, "documents")
    landing = stage_waves(
        [docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)],
        os.path.join(base, "landing"),
        "json",
    )
    return wave_stream(spark, landing, docs.schema, "json")


def _hourly_windows(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type under a 2-hour watermark:
    exact counts and the scaled-integer value sum."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(value * 1e6 AS BIGINT)")).alias("v_e6"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "v_e6",
        )
    )


@query(
    "streamed_corpus_state",
    oracle=f"""
    SELECT {_DIGEST_SQL} AS fingerprint,
           COALESCE(MIN(CASE WHEN doc_id % 2 = 0 THEN doc_id END),
                    MIN(doc_id)) AS doc_id
    FROM documents
    WHERE text IS NOT NULL
    GROUP BY fingerprint
    """,
)
def streamed_corpus_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the incremental-exact-dedup ingest stream over two waves (evens,
    then everything — so wave 2 contains both novel documents and
    re-deliveries) and return the resulting corpus state.

    The oracle is the closed form of that process: per fingerprint group the
    surviving doc is the min even doc_id if the group reached wave 1, else
    the min doc_id (wave-2-only group). Each wave is one micro-batch (one
    landing file per wave, all files available at start of each drain)."""
    with scratch_dir("ccdem_streamed_corpus_") as base:
        landing = os.path.join(base, "landing")
        store = os.path.join(base, "store")
        docs = load_table(spark, sf_dir, "documents")
        stage_wave(docs.filter(F.col("doc_id") % 2 == 0), landing, "wave1", "json")
        dedup_ingest_stream(spark, landing, store)
        # wave 2: every document — odd ids are new, even ids are re-delivered
        stage_wave(docs, landing, "wave2", "json")
        dedup_ingest_stream(spark, landing, store)
        return (
            read_or_empty(spark, os.path.join(store, "corpus"), CORPUS_SCHEMA)
            .select("fingerprint", "doc_id")
            .localCheckpoint()  # pin rows before the temp store is removed
        )


@query(
    "streamed_sessions",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sno
    """,
)
def streamed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-minute gap), driven over two
    micro-batches so sessions spanning the wave boundary must merge in the
    state store; the oracle is the batch gaps-and-islands closed form
    (session_end = last event + gap, Spark's session_window end; an exactly-
    gap-spaced event MERGES — verified — hence the strict '>' in the gap
    test). The streaming twin of the oracle-green batch `event_sessions`."""
    from ..streaming.events import session_windows

    with scratch_dir("ccdem_streamed_sessions_") as base:
        stream = _event_wave_stream(spark, sf_dir, base)
        sess = session_windows(stream, gap="30 minutes")
        return run_to_memory(sess, "ccdem_streamed_sessions", "complete")


@query(
    "streamed_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(trunc(value * 1000000) AS BIGINT)) AS BIGINT) AS value_e6
    FROM events
    GROUP BY user_id
    """,
)
def streamed_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) run over two
    micro-batches: per-user running totals emitted every update; the FINAL
    emission per user (the one with the max running n_events — emissions are
    strictly increasing) must equal the one-pass batch aggregation. value_e6
    is the exact scaled-integer sum: int accumulation commutes across
    batch/partition order, so the check is bit-exact (the double column is
    display-only and excluded here)."""
    from pyspark.sql import Window as W

    from ..streaming.events import user_running_totals

    with scratch_dir("ccdem_streamed_totals_") as base:
        stream = _event_wave_stream(spark, sf_dir, base)
        emitted = run_to_memory(
            user_running_totals(stream), "ccdem_streamed_totals", "update"
        ).select("user_id", "n_events", "value_e6")
        w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            emitted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )


@query(
    "streamed_hourly_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(trunc(value * 1000000) AS BIGINT)) AS BIGINT) AS v_e6
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streamed_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows maintained by the stream over two
    micro-batches (complete mode: windows spanning the wave boundary must
    merge in the state store); oracle = the batch date_trunc GROUP BY.
    Counts and the scaled-int value sum are exact across micro-batch
    merge order; the double sum stays out of the checked columns.

    Watermark caveat (round-3 advice): in COMPLETE output mode the
    watermark neither drops late rows nor evicts state — Spark keeps and
    re-emits every window. That no-op is exactly what makes the batch
    oracle equality hold (wave 2 is older than wave 1's max ts minus the
    2h horizon; in append mode those rows would be dropped and the oracle
    would NOT match). The withWatermark call is kept to pin that complete
    mode ignores it — the append-mode eviction path is exercised by
    tests/test_streaming.py's late-data test instead."""
    with scratch_dir("ccdem_streamed_hourly_") as base:
        stream = _event_wave_stream(spark, sf_dir, base)
        agg = _hourly_windows(stream)
        return run_to_memory(agg, "ccdem_streamed_hourly", "complete")


@query(
    "streamed_event_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(trunc(value * 1000000) AS BIGINT)) AS BIGINT) AS v_e6
    FROM events
    GROUP BY event_type
    """,
)
def streamed_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events through the foreachBatch read-modify-merge sink
    (streaming/events.py) and return the final per-event_type rollup state;
    the oracle is the equivalent one-pass batch aggregation."""
    from ..streaming.events import read_state_store

    with scratch_dir("ccdem_streamed_rollup_") as base:
        store = os.path.join(base, "store")
        stream_upsert_to_store(read_event_stream(spark, sf_dir, base), store)
        return read_state_store(spark, store).select("event_type", "n", "v_e6").localCheckpoint()


def _near_dedup_oracle_sql() -> str:
    """Closed-form batch SQL for the two-wave streaming near-dup admission
    (streaming/ingest.py::near_dedup_ingest_stream; waves = evens, then all
    documents re-delivered + odds).

    Epoch-by-epoch CTEs mirror the stream's per-batch steps exactly:
    within-batch exact survivor (min doc_id per digest) -> digest history
    filter -> band-collision filter vs the stored bands -> within-batch
    band-collision components (WITH RECURSIVE transitive closure, min-label
    canonical — the fixpoint the Spark label propagation converges to).
    NULL-signature (shingle-less) documents are excluded from banding in
    both engines; they are admitted via the digest path only.
    """
    from ..functions.text import shingles_sql

    def comp(prefix: str, src: str) -> str:
        return f"""
    {prefix}pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM {src} a JOIN {src} b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    {prefix}edges AS (
        SELECT id_a AS src, id_b AS dst FROM {prefix}pairs
        UNION SELECT id_b, id_a FROM {prefix}pairs
    ),
    {prefix}reach(id, r) AS (
        SELECT src, src FROM {prefix}edges
        UNION
        SELECT e.src, {prefix}reach.r
        FROM {prefix}edges e JOIN {prefix}reach ON e.dst = {prefix}reach.id
    ),
    {prefix}comp AS (SELECT id, MIN(r) AS component FROM {prefix}reach GROUP BY id)"""

    return f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id, source, n_chars, {_DIGEST_SQL} AS fp
        FROM documents WHERE text IS NOT NULL
    ),
    banded_all AS (
        SELECT doc_id, b AS band,
               md5(array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '|'))
                   AS band_key
        FROM (
            SELECT doc_id,
                   list_transform(range(0, 8),
                       i -> list_aggregate(
                           list_transform({shingles_sql('text', 3)},
                                          s -> md5(i || ':' || s)), 'min')) AS sig
            FROM documents WHERE text IS NOT NULL
        ), (SELECT unnest(range(0, 4)) AS b)
        WHERE sig[1] IS NOT NULL
    ),
    e1x AS (SELECT MIN(doc_id) AS doc_id FROM docs
            WHERE doc_id % 2 = 0 GROUP BY fp),
    e1b AS (SELECT banded_all.* FROM banded_all JOIN e1x USING (doc_id)),
    {comp('e1', 'e1b')},
    e1admit AS (
        SELECT e1x.doc_id FROM e1x LEFT JOIN e1comp ON e1comp.id = e1x.doc_id
        WHERE e1comp.id IS NULL OR e1comp.component = e1x.doc_id
    ),
    s1_digests AS (SELECT DISTINCT fp FROM docs JOIN e1admit USING (doc_id)),
    s1_bands AS (SELECT DISTINCT band, band_key FROM e1b),
    e2x AS (SELECT MIN(doc_id) AS doc_id FROM docs GROUP BY fp),
    e2f AS (
        SELECT e2x.doc_id FROM e2x JOIN docs USING (doc_id)
        WHERE docs.fp NOT IN (SELECT fp FROM s1_digests)
    ),
    e2b0 AS (SELECT banded_all.* FROM banded_all JOIN e2f USING (doc_id)),
    e2coll AS (SELECT DISTINCT doc_id FROM e2b0
               JOIN s1_bands USING (band, band_key)),
    e2passed AS (SELECT doc_id FROM e2f
                 WHERE doc_id NOT IN (SELECT doc_id FROM e2coll)),
    e2b AS (SELECT e2b0.* FROM e2b0 JOIN e2passed USING (doc_id)),
    {comp('e2', 'e2b')},
    e2admit AS (
        SELECT e2passed.doc_id FROM e2passed
        LEFT JOIN e2comp ON e2comp.id = e2passed.doc_id
        WHERE e2comp.id IS NULL OR e2comp.component = e2passed.doc_id
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM docs d
    JOIN (SELECT doc_id FROM e1admit
          UNION SELECT doc_id FROM e2admit) adm USING (doc_id)
    """


@query("streamed_near_dedup", oracle=_near_dedup_oracle_sql())
def streamed_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup admission over two waves (evens, then everything
    re-delivered plus the odds) — the stateful MinHash-LSH generalization of
    streamed_corpus_state's exact dedup. The returned corpus contains only
    documents that were neither exact nor band-collision near-dups of
    anything seen in an earlier wave, with one canonical survivor per
    within-wave near-dup component. The oracle replays the same admission
    epoch-by-epoch in closed-form SQL (recursive-CTE components)."""
    from ..streaming.ingest import near_dedup_ingest_stream

    with scratch_dir("ccdem_streamed_neardup_") as base:
        landing = os.path.join(base, "landing")
        store = os.path.join(base, "store")
        docs = load_table(spark, sf_dir, "documents")
        stage_wave(docs.filter(F.col("doc_id") % 2 == 0), landing, "wave1", "json")
        near_dedup_ingest_stream(spark, landing, store)
        stage_wave(docs, landing, "wave2", "json")
        near_dedup_ingest_stream(spark, landing, store)
        return (
            read_or_empty(spark, os.path.join(store, "corpus"), CORPUS_SCHEMA)
            .select("doc_id", "source", "n_chars")
            .localCheckpoint()
        )


@query(
    "streamed_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def streamed_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TPC-H q1: lineitem arrives as two micro-batches (orderkey
    parity waves, maxFilesPerTrigger=1) and the pricing summary is
    MAINTAINED as streaming aggregation state — the relational flagship
    under the same gate as the batch q1 (its exact oracle is reused
    verbatim). Decimal accumulation is what makes this checkable: the
    DECIMAL sums merge exactly across micro-batch state updates in any
    arrival order, so the final complete-mode state is bit-identical to the
    one-pass batch aggregation (double sums would re-associate and drift).
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    with scratch_dir("ccdem_streamed_q1_") as base:
        landing = stage_waves(
            [li.filter(F.col("l_orderkey") % 2 == 0), li.filter(F.col("l_orderkey") % 2 == 1)],
            os.path.join(base, "landing"),
        )
        agg = (
            wave_stream(spark, landing, li.schema)
            .filter(F.col("l_shipdate") <= F.lit("2000-01-01 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(20,4)")).cast("double").alias("sum_qty"),
                F.sum(price.cast("decimal(20,4)")).cast("double").alias("sum_base_price"),
                F.sum(disc_price.cast("decimal(24,6)")).cast("double").alias("sum_disc_price"),
                F.sum((disc_price * (1 + F.col("l_tax"))).cast("decimal(24,6)"))
                .cast("double")
                .alias("sum_charge"),
                F.count("*").alias("count_order"),
            )
        )
        return run_to_memory(agg, "streamed_q1_state", "complete")


@query(
    "streamed_append_windows",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    kept AS (
        SELECT e.* FROM events e, mx
        WHERE e.ts >= date_trunc('hour', mx.m) - INTERVAL 72 HOUR
           OR e.event_id % 7 <> 0
    )
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(trunc(value * 1000000) AS BIGINT)) AS BIGINT) AS v_e6
    FROM kept
    GROUP BY 1, 2, 3
    HAVING win_end <= (SELECT m - INTERVAL 2 HOUR FROM mx)
    """,
)
def streamed_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode windowed aggregation where the watermark does real work
    (the half `streamed_hourly_counts` deliberately leaves to complete
    mode): three waves — the historical bulk, then the newest 72 hours
    (which advances the watermark to max-2h), then late stragglers
    (event_id % 7 == 0 rows held back from wave 1) that arrive BELOW the
    in-force watermark and are dropped. The emitted result is exactly the
    windows the watermark finalized.

    Why this is deterministic (and hence oracle-checkable): Spark filters
    late rows with the PREVIOUS trigger's watermark but evicts/emits with
    the CURRENT one (measured here: a 3-wave run kept stragglers newer
    than max(wave1)-2h — the stale filter watermark — while emitting with
    the fresh one; tests/test_streaming.py's filler-batch comment pins the
    same lag). The newest data therefore ships as TWO waves (newest half
    first, so the max event time is on the books one batch early): by the
    straggler batch both watermarks equal max(ts)-2h, every straggler —
    all older than cutoff <= max-2h — is dropped to a row, and no wave
    raises the max afterwards. The final emitted set is closed-form:
    hourly windows with win_end <= max(ts)-2h over {rows >= cutoff} +
    {rows with event_id % 7 != 0}, which is the oracle's HAVING. Windows
    in the last 2 hours stay open and are correctly ABSENT from append
    output.

    Scale: this is the production shape for late-tolerant rollups — state
    is bounded by the watermark horizon (open windows only), eviction is
    what bounds it, and emitted rows are written exactly once."""
    e = load_table(spark, sf_dir, "events")
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    cutoff = F.lit(max_ts.replace(minute=0, second=0, microsecond=0)) - F.expr(
        "interval 72 hours"
    )
    mid = F.lit(max_ts.replace(minute=0, second=0, microsecond=0)) - F.expr(
        "interval 36 hours"
    )
    waves = [
        e.filter((F.col("ts") < cutoff) & (F.col("event_id") % 7 != 0)),
        # newest half FIRST: puts the global max event time on the books one
        # batch early, so the (lagging) late-row filter watermark reaches
        # max-2h before the stragglers arrive
        e.filter(F.col("ts") >= mid),
        e.filter((F.col("ts") >= cutoff) & (F.col("ts") < mid)),
        e.filter((F.col("ts") < cutoff) & (F.col("event_id") % 7 == 0)),
    ]
    with scratch_dir("ccdem_streamed_append_") as base:
        landing = stage_waves(waves, os.path.join(base, "landing"))
        agg = _hourly_windows(wave_stream(spark, landing, e.schema))
        return run_to_memory(agg, "ccdem_streamed_append", "append")


@query(
    "streamed_session_windows_append",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
        FROM gaps
    ), agg AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sno
    )
    SELECT user_id, session_start, session_end, n_events
    FROM agg, mx WHERE session_end <= m - INTERVAL 2 HOUR
    """,
)
def streamed_session_windows_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode session windows where the watermark FINALIZES sessions
    (the session-window half of the semantic `streamed_append_windows`
    pins for tumbling windows): two chronological waves — the historical
    bulk, then the newest 36 hours — merge gap-spanning sessions in the
    state store, and the stream emits a session exactly when the event-
    time watermark (max seen ts - 2h) passes its end (last event + the
    30-minute gap). Complete-mode `streamed_sessions` re-emits every
    session including still-open ones; THIS twin's output is only the
    CLOSED sessions — the at-most-once-per-session artifact a downstream
    consumer (billing, feature extraction) actually wants, since a
    still-open session's (end, n_events) would be retracted later.

    Deterministic because the waves are chronological: wave 2's rows are
    all newer than wave 1's max, so the (one-trigger-lagging) late-row
    filter watermark never drops anything, and by stream end both
    watermarks equal max(ts) - 2h. The emitted set is the closed form:
    batch gaps-and-islands sessions with session_end <= max(ts) - 2h
    (boundary inclusive — measured: Spark evicts a session whose end
    EQUALS the final watermark). Sessions whose last event falls in the
    final 2.5 hours stay open and are correctly ABSENT.

    Scale: state is bounded by OPEN sessions only (eviction is the
    bound); emitted rows are written exactly once — unlike complete mode,
    whose state and re-emission grow with the corpus."""
    from ..streaming.events import session_windows

    e = load_table(spark, sf_dir, "events")
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    mid = F.lit(max_ts.replace(minute=0, second=0, microsecond=0)) - F.expr(
        "interval 36 hours"
    )
    with scratch_dir("ccdem_streamed_sess_append_") as base:
        landing = stage_waves(
            [e.filter(F.col("ts") < mid), e.filter(F.col("ts") >= mid)],
            os.path.join(base, "landing"),
        )
        sess = session_windows(wave_stream(spark, landing, e.schema), gap="30 minutes")
        return run_to_memory(sess, "ccdem_streamed_sess_append", "append")


@query(
    "streamed_dataset_card",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(len({tokenize_sql('text')}), 0)) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
    FROM documents
    """,
)
def streamed_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card counters maintained AS STREAMING STATE over two
    disjoint document ingest waves (evens, then odds — each wave one
    micro-batch): a complete-mode global aggregate whose final emission
    must equal the batch card over the full corpus, because every counter
    is a monotone exact-integer sum that commutes across micro-batch
    merges (the streamed_pricing_summary discipline applied to the corpus
    health report). Distinct-valued card columns (sources, digests) are
    deliberately absent — distinct aggregates aren't streamable; the
    batch dataset_card_report carries those."""
    with scratch_dir("ccdem_streamed_card_") as base:
        card = _document_wave_stream(spark, sf_dir, base).agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.size(tokenize("text")), F.lit(0)))
            .cast("bigint").alias("n_tokens"),
            F.sum(F.col("text").isNull().cast("int")).cast("bigint").alias("n_null_text"),
            F.sum((F.col("lang") == "en").cast("int")).cast("bigint").alias("n_en"),
        )
        return run_to_memory(card, "ccdem_streamed_card", "complete")


@query(
    "streamed_segment_enrichment",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(trunc(e.value * 1000000) AS BIGINT)) AS BIGINT) AS v_e6
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
    """,
)
def streamed_segment_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the event stream enriched against the static
    customer dimension (the fixture maps user_id + 1 onto c_custkey), then
    aggregated per (segment, event_type) across two micro-batches — the
    canonical streaming-enrichment topology (clickstream x profile table).
    The static side is planned per micro-batch as an ordinary broadcast
    hash join — no stream state for the dimension at all, which is the
    point: only the aggregation holds state. Complete-mode counts and the
    scaled-int value sum are exact across batch merge order, so the batch
    join+GROUP BY oracle must match bit-for-bit.

    Scale: the dimension broadcasts per batch (or bucket-joins via L1 when
    the profile table outgrows broadcast); stream state is bounded by the
    (segment x type) domain, KB-sized forever."""
    with scratch_dir("ccdem_streamed_enrich_") as base:
        stream = _event_wave_stream(spark, sf_dir, base)
        cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        agg = (
            stream.join(F.broadcast(cust), cust.c_custkey == stream.user_id + 1)
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.expr("CAST(value * 1e6 AS BIGINT)")).alias("v_e6"),
            )
        )
        return run_to_memory(agg, "ccdem_streamed_enrich", "complete")


@query(
    "streamed_purchase_attribution",
    oracle="""
    SELECT v.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MAX(epoch_us(p.ts) - epoch_us(v.ts)) AS BIGINT) AS max_gap_us
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
)
def streamed_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join: view events joined to purchase events of the
    same user within the following hour — last-touch attribution — with
    both sides arriving as independent streams over two micro-batches, so
    the join state genuinely buffers rows across batches (a wave-0 view
    matches a wave-1 purchase and vice versa). Joined pairs are emitted
    append-mode into the sink; the per-user rollup runs as a batch step
    over the emitted pairs (Spark restricts aggs stacked on stream-stream
    joins — and the two-phase shape is the production one anyway: the
    join's append log is the durable artifact, rollups are cheap replays).
    The oracle is the batch self-join: equality certifies no pair was
    dropped or duplicated across the batch boundary.

    The 90-day watermark exceeds the fixture's 30-day span, pinning the
    no-eviction semantics the oracle needs; production shrinks the horizon
    to bound state (evicting exactly the rows that can no longer match the
    1-hour range — the range condition is what lets Spark compute that
    bound per side)."""
    from ..streaming.events import purchases_with_recent_view

    with scratch_dir("ccdem_streamed_attr_") as base:
        landing, ev = _event_waves(spark, sf_dir, base)

        def side(event_type: str) -> DataFrame:
            return wave_stream(spark, landing, ev.schema).filter(
                F.col("event_type") == event_type
            )

        # the operator's predicate (v_ts in [p_ts - 1h, p_ts]) is algebraically
        # the attribution window (p_ts in [v_ts, v_ts + 1h])
        pairs = purchases_with_recent_view(
            side("purchase"), side("view"), horizon="1 hour", watermark="90 days"
        )
        return (
            run_to_memory(pairs, "ccdem_streamed_attr", "append")
            .groupBy(F.col("p_user").alias("user_id"))
            .agg(
                F.count("*").alias("n_pairs"),
                F.max(
                    F.unix_micros("p_ts") - F.unix_micros("v_ts")
                ).cast("bigint").alias("max_gap_us"),
            )
        )


@query(
    "python_stream_source_rollup",
    oracle="""
    WITH r AS (SELECT unnest(range(3000)) AS i),
    h AS (SELECT i, md5('st42:' || CAST(i AS VARCHAR)) AS h FROM r),
    ev AS (
        SELECT CAST(('0x' || substring(h, 1, 8)) AS BIGINT) % 1000 AS user_id,
               ['view','click','purchase','error'][
                   CAST(CAST(('0x' || substring(h, 9, 2)) AS BIGINT) % 4 AS INT) + 1
               ] AS event_type,
               CAST(('0x' || substring(h, 11, 8)) AS BIGINT) % 1000000 AS value_e6
        FROM h)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(value_e6) AS BIGINT) AS total_value_e6,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ev GROUP BY event_type
    """,
)
def python_stream_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource read as a STREAM (Spark 4
    SimpleDataSourceStreamReader: driver-planned row-index offsets, 700
    rows per micro-batch over a 3000-row domain, deterministic
    readBetweenOffsets replay), aggregated per event type in complete
    mode. The oracle replays the md5 generator in SQL, so the whole
    streaming path — offset planning, batch slicing, cross-batch
    aggregation state — must converge to the one-pass batch answer.
    Companion to `python_datasource_rollup` (same API, batch reader with
    partition planning + filter pushdown)."""
    from ..sources.pyds import register_synthetic_source

    register_synthetic_source(spark)
    sdf = (
        spark.readStream.format("synthetic_events")
        .option("rows", "3000")
        .option("rows_per_batch", "700")
        .option("seed", "st42")
        .load()
    )
    # streaming aggregations forbid COUNT(DISTINCT ...): hold state at the
    # finer (event_type, user_id) grain instead, and derive the distinct
    # count as a batch rollup over the emitted state (one row per pair)
    agg = sdf.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("value_e6").cast("bigint").alias("v"),
    )
    return (
        run_to_memory(agg, "ccdem_pystream_rollup", "complete")
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("total_value_e6"),
            F.count("*").cast("bigint").alias("n_users"),
        )
    )


@query(
    "streamed_psi_monitor",
    oracle=f"""
    WITH ref AS (
        SELECT LEAST(CAST(trunc(value) AS BIGINT) // 50, 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_ref
        FROM events WHERE event_type = 'view' GROUP BY 1
    ), live AS (
        SELECT LEAST(CAST(trunc(value) AS BIGINT) // 50, 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_live
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), tot AS (
        SELECT (SELECT CAST(SUM(n_ref) AS BIGINT) FROM ref) AS ta,
               (SELECT CAST(SUM(n_live) AS BIGINT) FROM live) AS tb
    ), grid AS (SELECT CAST(unnest(range(10)) AS BIGINT) AS bin)
    SELECT g.bin,
           COALESCE(r.n_ref, 0) AS n_ref,
           COALESCE(l.n_live, 0) AS n_live,
           CAST(trunc({psi_contrib_sql('COALESCE(r.n_ref, 0)',
                                        'COALESCE(l.n_live, 0)')})
                AS BIGINT) AS contrib_e9
    FROM grid g
    LEFT JOIN ref r ON g.bin = r.bin
    LEFT JOIN live l ON g.bin = l.bin
    CROSS JOIN tot
    ORDER BY g.bin
    """,
)
def streamed_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor: the live purchase-value distribution is
    accumulated from the event stream (complete-mode per-bin counts — the
    only stream state is the 10-bin histogram, KB-sized forever), then
    scored against a STATIC reference profile (the view-value histogram)
    with the same dense-grid Laplace-smoothed PSI arithmetic as
    psi_drift_report — the production shape for "alert when today's
    traffic stops looking like the baseline".

    The histogram-shaped state is the entire point at scale: a drift
    monitor must never buffer raw events, and binned counts merge
    associatively across micro-batches, so complete-mode output equals
    the batch twin bit-for-bit (the oracle). The PSI scoring runs as a
    batch projection over the finished 10-row state against the
    broadcast reference — per-bin shared-expression contributions over
    exact int64 counts, trunc-scaled."""
    with scratch_dir("ccdem_streamed_psi_") as base:
        live_agg = (
            _event_wave_stream(spark, sf_dir, base)
            .filter(F.col("event_type") == "purchase")
            .select(F.expr("LEAST(CAST(value AS BIGINT) DIV 50, 9)").alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").cast("bigint").alias("n_live"))
        )
        live = run_to_memory(live_agg, "ccdem_streamed_psi", "complete")

    e = load_table(spark, sf_dir, "events")
    ref = (
        e.filter(F.col("event_type") == "view")
        .select(F.expr("LEAST(CAST(value AS BIGINT) DIV 50, 9)").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("n_ref"))
    )
    tot = (
        ref.agg(F.sum("n_ref").cast("bigint").alias("ta"))
        .crossJoin(live.agg(F.sum("n_live").cast("bigint").alias("tb")))
    )
    grid = spark.range(10).select(F.col("id").cast("bigint").alias("bin"))
    contrib = psi_contrib_sql("n_ref", "n_live")
    return (
        grid.join(ref, "bin", "left")
        .join(live, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("n_live", F.lit(0)).cast("bigint").alias("n_live"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_live",
            F.expr(f"CAST({contrib} AS BIGINT)").alias("contrib_e9"),
        )
        .orderBy("bin")
    )


@query(
    "streamed_unconverted_views",
    oracle="""
    WITH v AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), wm AS (
        SELECT least((SELECT MAX(ts) FROM v), (SELECT MAX(ts) FROM p))
               - INTERVAL 2 HOUR AS w
    ), matched AS (
        SELECT v.user_id, v.event_id
        FROM v JOIN p
          ON p.user_id = v.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ), unconv AS (
        SELECT v.user_id FROM v, wm
        WHERE v.ts + INTERVAL 1 HOUR < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = v.user_id
                AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
    )
    SELECT user_id,
           CAST(SUM(pair) AS BIGINT) AS n_pairs,
           CAST(SUM(unc) AS BIGINT) AS n_unconverted
    FROM (
        SELECT user_id, 1 AS pair, 0 AS unc FROM matched
        UNION ALL
        SELECT user_id, 0, 1 FROM unconv
    ) GROUP BY user_id
    """,
)
def streamed_unconverted_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join under a working watermark: every view
    either attributes to a purchase of the same user within the following
    hour (inner rows, emitted on match) or — once the eviction watermark
    proves no purchase can still arrive — is emitted null-augmented as an
    unconverted impression. The outer half is what
    `streamed_purchase_attribution` (inner, eviction disabled) leaves
    untested: state cleanup itself producing rows.

    Determinism: waves are staged in STRICT time order (three global-ts
    tercile files), so no row ever arrives below the lagging late-filter
    watermark, and the 2-hour delay exceeds the 1-hour match range, so a
    cross-wave view is still in state when its purchase arrives — the
    emitted inner set is exactly the batch join. The final no-data
    micro-batch advances the eviction watermark to min(max view ts, max
    purchase ts) - 2h and flushes null rows for precisely the unmatched
    views whose whole match window [v_ts, v_ts + 1h] closed strictly
    below it; newer unmatched views stay open in state and are correctly
    ABSENT. Both halves are therefore closed-form — the oracle states
    them directly. Scale: join state is bounded by the watermark horizon
    per side; the per-user rollup is a cheap batch replay of the append
    log (the production shape for attribution pipelines)."""
    e = load_table(spark, sf_dir, "events")
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    t1 = F.lit(max_ts) - F.expr("interval 20 days")
    t2 = F.lit(max_ts) - F.expr("interval 10 days")
    waves = [
        e.filter(F.col("ts") < t1),
        e.filter((F.col("ts") >= t1) & (F.col("ts") < t2)),
        e.filter(F.col("ts") >= t2),
    ]
    with scratch_dir("ccdem_streamed_outer_") as base:
        landing = stage_waves(waves, os.path.join(base, "landing"))

        def side(event_type: str, pfx: str) -> DataFrame:
            return (
                wave_stream(spark, landing, e.schema)
                .filter(F.col("event_type") == event_type)
                .select(
                    F.col("user_id").alias(f"{pfx}_user"),
                    F.col("ts").alias(f"{pfx}_ts"),
                    F.col("event_id").alias(f"{pfx}_id"),
                )
                .withWatermark(f"{pfx}_ts", "2 hours")
            )

        joined = side("view", "v").join(
            side("purchase", "p"),
            F.expr(
                "p_user = v_user AND p_ts >= v_ts"
                " AND p_ts <= v_ts + interval 1 hour"
            ),
            "leftOuter",
        )
        return (
            run_to_memory(joined, "ccdem_streamed_outer", "append")
            .groupBy(F.col("v_user").alias("user_id"))
            .agg(
                F.sum(
                    F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)
                ).cast("bigint").alias("n_pairs"),
                F.sum(
                    F.when(F.col("p_ts").isNull(), 1).otherwise(0)
                ).cast("bigint").alias("n_unconverted"),
            )
        )


def _cms_oracle() -> str:
    from . import sketch_queries  # noqa: F401  (registers the batch twin first)
    from .registry import get as _get

    return _get("cms_heavy_hitters").oracle


@query("streamed_cms_heavy_hitters", oracle=_cms_oracle())
def streamed_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING count-min sketch: the 4x512 CMS cell table is maintained
    as complete-mode streaming aggregation state over micro-batched event
    waves — the only stream state is the fixed <=2048-cell table, KB-sized
    forever, and CMS cells merge associatively so the cross-batch state
    equals the batch sketch bit-for-bit. The heavy-hitter probe (the
    deterministic user_id % 25 = 0 candidate set, min over the 4 rows'
    cells) then runs batch-side against the finished state, so this query
    shares cms_heavy_hitters' oracle VERBATIM — the streaming path must
    land on the identical sketch or the estimates diverge. The streaming
    twin of the drift monitor's histogram-state pattern, for the
    frequency-sketch family: at 100 TB this is the top-talker monitor
    that never buffers raw events."""
    from .sketch_queries import _CMS_D, _CMS_W

    rows = F.explode(F.array(*[F.lit(str(r)) for r in range(_CMS_D)])).alias("r")

    def bucket(key: F.Column) -> F.Column:
        cell = F.md5(F.concat(F.col("r"), F.lit(":"), key.cast("string")))
        return F.conv(F.substring(cell, 1, 8), 16, 10).cast("bigint") % _CMS_W

    with scratch_dir("ccdem_streamed_cms_") as base:
        cells_agg = (
            _event_wave_stream(spark, sf_dir, base)
            .select("user_id", rows)
            .select("r", bucket(F.col("user_id")).alias("bucket"))
            .groupBy("r", "bucket")
            .agg(F.count("*").alias("c"))
        )
        cells = run_to_memory(cells_agg, "ccdem_streamed_cms", "complete")

    e = load_table(spark, sf_dir, "events")
    probes = (
        e.filter(F.col("user_id") % 25 == 0)
        .select("user_id")
        .distinct()
        .select("user_id", rows)
        .select("user_id", "r", bucket(F.col("user_id")).alias("bucket"))
    )
    est = (
        F.broadcast(probes)
        .join(cells, ["r", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_n"))
    )
    truth = (
        e.filter(F.col("user_id") % 25 == 0)
        .groupBy("user_id")
        .agg(F.count("*").alias("true_n"))
    )
    return est.join(truth, "user_id").select(
        "user_id",
        "est_n",
        "true_n",
        (F.col("est_n") - F.col("true_n")).alias("overcount"),
    )


@query(
    "streamed_mask_rate_monitor",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS p
        FROM (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents),
             unnest(range(0, len(toks))) t(i)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN ('0x' || substr(md5(doc_id || ':' || p), 1, 15))
                              ::BIGINT % 100 < 15 THEN 1 ELSE 0 END)
                AS BIGINT) AS masked_tokens,
           CAST(SUM(CASE WHEN ('0x' || substr(md5(doc_id || ':' || p), 1, 15))
                              ::BIGINT % 100 < 15 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS mask_rate_e6
    FROM pos
    """,
)
def streamed_mask_rate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-corruption mask-rate counters maintained AS STREAMING
    STATE over two disjoint document ingest waves: because the mask is a
    pure hash of (doc_id, position) (`span_corruption_mask_stats`), the
    monitor needs NO stored noise and every counter is a monotone
    exact-integer sum that commutes across micro-batch merges — the final
    complete-mode emission must equal the batch corpus numbers exactly.
    This is the ingest-time guardrail a training pipeline runs while data
    lands: a mask rate drifting off the 15% contract flags a tokenizer or
    id-assignment regression in the producing job."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.col("p"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    with scratch_dir("ccdem_streamed_mask_") as base:
        pos = _document_wave_stream(spark, sf_dir, base).select(
            "doc_id", F.posexplode(tokenize("text")).alias("p", "tok")
        ).select("doc_id", F.col("p").cast("bigint").alias("p"))
        marked = pos.select(F.when(h % 100 < 15, 1).otherwise(0).alias("m"))
        agg = marked.agg(
            F.count("*").cast("bigint").alias("total_tokens"),
            F.sum("m").cast("bigint").alias("masked_tokens"),
            F.expr("SUM(m) * 1000000 div COUNT(*)").cast("bigint").alias("mask_rate_e6"),
        )
        return run_to_memory(agg, "ccdem_streamed_mask", "complete")


@query(
    "streamed_quantile_sketch_monitor",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) // 1600 AS bin
        FROM events
    ),
    sk AS (
        SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b GROUP BY event_type, bin
    ),
    cum AS (
        SELECT event_type, bin, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        FROM sk
    ),
    tot AS (
        SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_bins
        FROM sk GROUP BY event_type
    )
    SELECT c.event_type,
           MAX(t.n_rows) AS n_rows,
           MAX(t.n_bins) AS n_bins,
           CAST(MIN(CASE WHEN c.cum >= (t.n_rows * 50 + 99) // 100
                         THEN c.bin END) * 1600 AS BIGINT) AS p50_lo_cents,
           CAST(MIN(CASE WHEN c.cum >= (t.n_rows * 90 + 99) // 100
                         THEN c.bin END) * 1600 AS BIGINT) AS p90_lo_cents,
           CAST(MIN(CASE WHEN c.cum >= (t.n_rows * 99 + 99) // 100
                         THEN c.bin END) * 1600 AS BIGINT) AS p99_lo_cents
    FROM cum c JOIN tot t USING (event_type)
    GROUP BY c.event_type
    """,
)
def streamed_quantile_sketch_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING equi-width quantile sketch: the (event_type, $16-bin)
    count table is maintained as complete-mode streaming aggregation state
    over micro-batched event waves — the latency-percentile monitor an
    ingest pipeline runs on a value stream. The only stream state is the
    fixed bin table (types x ~31 bins, KB-sized forever), and bin counts
    merge by summation, so the cross-batch state equals the batch sketch
    exactly — the streaming twin of `quantile_bin_sketch`'s shard-merge
    law, with the micro-batch boundary as the shard. The p50/p90/p99
    read (cumulative counts over the finished state) runs batch-side;
    values are positive cents so floor == trunc cross-engine."""
    with scratch_dir("ccdem_streamed_qsk_") as base:
        sk_agg = (
            _event_wave_stream(spark, sf_dir, base)
            .select(
                "event_type",
                F.expr(
                    "CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) div 1600"
                ).alias("bin"),
            )
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("cnt"))
        )
        sk = run_to_memory(sk_agg, "ccdem_streamed_qsk", "complete")

    from pyspark.sql import Window as W

    cum = sk.withColumn(
        "cum", F.sum("cnt").over(W.partitionBy("event_type").orderBy("bin"))
    )
    tot = sk.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_bins"),
    )

    def lo(q: int):
        target = F.expr(f"(n_rows * {q} + 99) div 100")
        return (
            F.min(F.when(F.col("cum") >= target, F.col("bin"))) * 1600
        ).cast("bigint")

    return (
        cum.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("n_bins").alias("n_bins"),
            lo(50).alias("p50_lo_cents"),
            lo(90).alias("p90_lo_cents"),
            lo(99).alias("p99_lo_cents"),
        )
    )


def _taxonomy_tag_oracle() -> str:
    """The batch taxonomy_tag_counts oracle verbatim: the per-doc tag
    state merges by summation across waves, so the final streamed
    emission must equal the batch rollup exactly."""
    from .registry import get

    return get("taxonomy_tag_counts").oracle


@query("streamed_taxonomy_tag_monitor", oracle=_taxonomy_tag_oracle())
def streamed_taxonomy_tag_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary tagging maintained AS STREAMING STATE over two disjoint
    document ingest waves — the 16th streaming twin: the broadcast
    keyword->topic taxonomy join (`taxonomy_tag_counts`) runs inside the
    micro-batch, and the state table is the per-(source, topic, doc)
    occurrence count in complete mode — the per-document tag assignment a
    labeling pipeline actually persists, merged by summation across
    batches (a doc's tokens all arrive in its wave, so cross-wave merge
    is pure union). The monitor emission rolls the state up to
    (source, topic): docs reached + total occurrences, and must equal the
    batch `taxonomy_tag_counts` rollup exactly — pinned by the shared
    golden and tests/test_streaming_extra.py's batch==stream check.

    Scale: state is one row per (doc, topic) MATCHED — bounded by the
    tagged fraction of the corpus, not by token volume; the taxonomy stays
    a broadcast dimension inside the stream plan. The rows-only
    registration is the streaming-suite convention (the driver records a
    rows-only check; batch==stream equality is the value pin)."""
    from .text_pipeline import _TAXONOMY

    dict_df = spark.createDataFrame(
        [(t, topic) for topic, ts in _TAXONOMY.items() for t in ts],
        "token string, topic string",
    )
    with scratch_dir("ccdem_streamed_tax_") as base:
        tok = _document_wave_stream(spark, sf_dir, base).select(
            "doc_id", "source", F.explode(tokenize("text")).alias("token")
        )
        state = (
            tok.join(F.broadcast(dict_df), "token")
            .groupBy("source", "topic", "doc_id")
            .agg(F.count("*").cast("bigint").alias("n_occ"))
        )
        return (
            run_to_memory(state, "ccdem_streamed_tax", "complete")
            .groupBy("source", "topic")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_occ").cast("bigint").alias("n_occurrences"),
            )
        )


def _vector_admission_oracle_sql(radius: int = 3) -> str:
    """Closed-form batch SQL for the two-wave streaming vector admission
    (streaming/ingest.py::vector_admission_stream; waves = plain evens,
    then everything re-delivered + odds + deterministic sign-flip
    mutants). Because the MIH banding is LOSSLESS for radius < 4, the
    oracle needs no banding model at all: the admission predicate is a
    direct ``bit_count(xor()) <= radius`` — epoch CTEs mirror the
    stream's seen-filter, history-reject and within-batch component
    steps, with the same WITH RECURSIVE min-label closure the other
    streamed admission twin uses. Mutants replay as sign flips in the
    unnested bits (dim <= 2 for the even-parent mutants at +10000,
    dim = 1 for the odd-parent mutants at +20000), so both engines pack
    the exact same signatures."""
    comp = """
    {p}edges AS (
        SELECT id_a AS src, id_b AS dst FROM {p}pairs
        UNION SELECT id_b, id_a FROM {p}pairs
    ),
    {p}reach(id, r) AS (
        SELECT src, src FROM {p}edges
        UNION
        SELECT e.src, {p}reach.r
        FROM {p}edges e JOIN {p}reach ON e.dst = {p}reach.id
    ),
    {p}comp AS (SELECT id, MIN(r) AS component FROM {p}reach GROUP BY id)"""
    return f"""
    WITH RECURSIVE base_bits AS (
        SELECT vec_id, label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ),
    all_bits AS (
        SELECT vec_id, label, v, dim FROM base_bits
        UNION ALL
        SELECT vec_id + 10000, label, CASE WHEN dim <= 2 THEN -v ELSE v END, dim
        FROM base_bits WHERE vec_id % 10 = 0
        UNION ALL
        SELECT vec_id + 20000, label, CASE WHEN dim = 1 THEN -v ELSE v END, dim
        FROM base_bits WHERE vec_id % 10 = 1
    ),
    sigs AS (
        SELECT vec_id, label,
               bit_or(CASE WHEN v <= 0 THEN 0::BIGINT
                           WHEN dim = 64 THEN (-9223372036854775807 - 1)::BIGINT
                           ELSE (1::BIGINT << (dim - 1)) END) AS sig
        FROM all_bits GROUP BY vec_id, label
    ),
    e1 AS (SELECT * FROM sigs WHERE vec_id < 10000 AND vec_id % 2 = 0),
    e1pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e1 a JOIN e1 b
          ON a.vec_id < b.vec_id
         AND bit_count(xor(a.sig, b.sig)) <= {radius}
    ),
    {comp.format(p='e1')},
    e1admit AS (
        SELECT e1.vec_id FROM e1 LEFT JOIN e1comp ON e1comp.id = e1.vec_id
        WHERE e1comp.id IS NULL OR e1comp.component = e1.vec_id
    ),
    e2f AS (SELECT * FROM sigs
            WHERE NOT (vec_id < 10000 AND vec_id % 2 = 0)),
    e2passed AS (
        SELECT o.* FROM e2f o
        WHERE NOT EXISTS (SELECT 1 FROM e1 h
                          WHERE bit_count(xor(o.sig, h.sig)) <= {radius})
    ),
    e2pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e2passed a JOIN e2passed b
          ON a.vec_id < b.vec_id
         AND bit_count(xor(a.sig, b.sig)) <= {radius}
    ),
    {comp.format(p='e2')},
    e2admit AS (
        SELECT e2passed.vec_id FROM e2passed
        LEFT JOIN e2comp ON e2comp.id = e2passed.vec_id
        WHERE e2comp.id IS NULL OR e2comp.component = e2passed.vec_id
    )
    SELECT s.vec_id, s.label
    FROM sigs s
    JOIN (SELECT vec_id FROM e1admit
          UNION SELECT vec_id FROM e2admit) adm USING (vec_id)
    """


@query("streamed_vector_admission", oracle=_vector_admission_oracle_sql())
def streamed_vector_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector admission over two waves — the 18th streaming
    twin: binary-signature (sign-bit) near-duplicate gating for an
    embedding ingest pipeline, stateful across micro-batches. Wave 1 is
    the even vec_ids; wave 2 re-delivers everything and adds the odds
    PLUS deterministic sign-flip mutants: a 2-dim flip of every
    vec_id % 10 == 0 vector (Hamming 2 from its wave-1 parent — must be
    rejected against HISTORY) and a 1-dim flip of every vec_id % 10 == 1
    vector (Hamming 1 from a parent arriving in the SAME batch — the
    within-batch component must keep the min-id parent and drop the
    mutant). The natural corpus carries no Hamming-<=3 pairs (measured
    min cross distance 15), so every admission decision the query
    exercises is a planted, deterministic one — the discriminating-
    fixture discipline of the containment family applied to streaming.

    Candidate generation inside the stream is lossless multi-index
    Hamming (4 x 16-bit bands, pigeonhole-exact for radius < 4), so the
    DuckDB oracle replays admission with a direct bit_count predicate —
    stronger than the LSH twin's oracle, which must model banding.
    Emits the admitted (vec_id, label) corpus: exactly the originals,
    every mutant rejected through one of the two paths."""
    from ..streaming.ingest import ADMITTED_VECTOR_SCHEMA, vector_admission_stream

    e = load_table(spark, sf_dir, "embeddings")
    flip2 = F.expr("transform(embedding, (v, i) -> IF(i < 2, -v, v))")
    flip1 = F.expr("transform(embedding, (v, i) -> IF(i < 1, -v, v))")
    mut_even = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        flip2.alias("embedding"),
        "label",
    )
    mut_odd = e.filter(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        flip1.alias("embedding"),
        "label",
    )
    wave2 = (
        e.select("vec_id", "embedding", "label")
        .unionByName(mut_even)
        .unionByName(mut_odd)
    )
    with scratch_dir("ccdem_streamed_vecadm_") as base:
        landing = os.path.join(base, "landing")
        store = os.path.join(base, "store")
        stage_wave(e.filter(F.col("vec_id") % 2 == 0), landing, "wave1", "json")
        vector_admission_stream(spark, landing, store)
        stage_wave(wave2, landing, "wave2", "json")
        vector_admission_stream(spark, landing, store)
        return (
            read_or_empty(spark, os.path.join(store, "corpus"), ADMITTED_VECTOR_SCHEMA)
            .select("vec_id", "label")
            .localCheckpoint()
        )
