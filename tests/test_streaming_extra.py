"""Session windows (stream vs batch parity) and the foreachBatch upsert
sink; partitioned-store pruning."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from code_challenge___data_engineer___machinemax_spark.crawl.ingest import ArticleStore
from code_challenge___data_engineer___machinemax_spark.schemas import ARTICLE
from code_challenge___data_engineer___machinemax_spark.streaming.events import (
    read_event_stream,
    session_windows,
    stream_upsert_to_store,
)
from code_challenge___data_engineer___machinemax_spark.streaming.replay import run_to_memory
from code_challenge___data_engineer___machinemax_spark.tables import load_table


def test_session_windows_stream_matches_batch(spark, sf_dir, tmp_path):
    stream = read_event_stream(spark, sf_dir, str(tmp_path))
    run_to_memory(session_windows(stream), "sess_win", "complete").createOrReplaceTempView("sess_win")
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }
    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in session_windows(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    # Two single-file micro-batches for one user: the applyInPandasWithState
    # operator must ADD batch 2 onto batch 1's state. Regression: with only
    # one batch the state.exists branch never ran, hiding that
    # GroupState.get is a property (calling it raised TypeError).
    from datetime import datetime

    from code_challenge___data_engineer___machinemax_spark.streaming.events import (
        user_running_totals,
    )

    land = tmp_path / "land"
    land.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    w1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0, 0), 7, "view", 1.5, None)], schema
    )
    w2 = spark.createDataFrame(
        [(2, datetime(2024, 1, 1, 0, 10, 0), 7, "view", 2.25, None)], schema
    )
    w1.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w1"))
    w2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w2"))
    import glob as g
    import shutil

    for i, d in enumerate(["w1", "w2"]):
        shutil.move(g.glob(str(tmp_path / d / "part-*.parquet"))[0], str(land / f"{i}.parquet"))
    stream = (
        spark.readStream.schema(w1.schema).option("maxFilesPerTrigger", 1).parquet(str(land))
    )
    run_to_memory(user_running_totals(stream), "totals_xbatch", "update").createOrReplaceTempView("totals_xbatch")
    rows = spark.sql(
        "SELECT * FROM totals_xbatch ORDER BY n_events DESC LIMIT 1"
    ).collect()
    assert rows[0].n_events == 2
    assert rows[0].total_value == 3.75
    assert rows[0].value_e6 == 3_750_000


def test_foreachbatch_upsert(spark, sf_dir, tmp_path):
    path = str(tmp_path / "agg_store")
    stream = read_event_stream(spark, sf_dir, str(tmp_path))
    stream_upsert_to_store(stream, path)
    from code_challenge___data_engineer___machinemax_spark.streaming.events import (
        read_state_store,
    )

    got = {r.event_type: (r.n, round(r.v, 4)) for r in read_state_store(spark, path).collect()}
    e = load_table(spark, sf_dir, "events")
    want = {
        r.event_type: (r.n, round(r.v, 4))
        for r in e.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-2


def test_foreachbatch_upsert_replay_is_idempotent(spark, sf_dir, tmp_path):
    # foreachBatch is at-least-once: a replayed epoch must not double-count
    from code_challenge___data_engineer___machinemax_spark.streaming.events import (
        merge_epoch_into_store,
        read_state_store,
    )

    path = str(tmp_path / "replay_store")
    batch = load_table(spark, sf_dir, "events").limit(500)
    assert merge_epoch_into_store(batch, 0, path) is True
    first = {r.event_type: (r.n, r.v) for r in read_state_store(spark, path).collect()}
    assert merge_epoch_into_store(batch, 0, path) is False  # replay skipped
    replayed = {r.event_type: (r.n, r.v) for r in read_state_store(spark, path).collect()}
    assert replayed == first
    assert merge_epoch_into_store(batch, 1, path) is True  # new epoch applies
    second = {r.event_type: (r.n, r.v) for r in read_state_store(spark, path).collect()}
    assert {k: v[0] for k, v in second.items()} == {k: 2 * v[0] for k, v in first.items()}


def test_store_merge_rewrites_only_touched_buckets(spark, sf_dir, tmp_path):
    """The r3 O(store)-per-epoch fix, now under the manifest layer: data
    files are immutable — an epoch ADDS a commit directory for its touched
    buckets and every pre-existing file stays byte-identical at its path;
    untouched buckets' manifest entries keep pointing at their old
    directories. Per-epoch IO is bounded by the epoch's key set, not
    accumulated state size."""
    import glob
    import os

    from code_challenge___data_engineer___machinemax_spark.streaming.events import (
        _store_bucket,
        merge_epoch_into_store,
        read_state_store,
    )
    from code_challenge___data_engineer___machinemax_spark.txn import ManifestStore

    path = str(tmp_path / "bucketed_store")
    events = load_table(spark, sf_dir, "events")
    assert merge_epoch_into_store(events.limit(2000), 0, path) is True
    store = ManifestStore(path)
    m0 = store.manifest()
    assert len(m0["buckets"]) > 1  # event types spread over multiple buckets

    def snapshot():
        return {
            f: (os.path.getmtime(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/data/*/__pb=*/*.parquet")
        }

    before = snapshot()
    one_type = events.filter(F.col("event_type") == "view").limit(100)
    assert merge_epoch_into_store(one_type, 1, path) is True
    after = snapshot()
    touched = {
        r.b
        for r in one_type.select(_store_bucket(F.col("event_type")).alias("b"))
        .distinct()
        .collect()
    }
    assert len(touched) == 1
    # immutability: every file of the previous snapshot is still there,
    # byte-for-byte; the epoch only added files
    for f, meta in before.items():
        assert after.get(f) == meta, f"pre-existing file rewritten: {f}"
    # untouched buckets still point at their ORIGINAL commit dirs
    m1 = store.manifest()
    for b, entry in m0["buckets"].items():
        if int(b) not in touched:
            assert m1["buckets"][b]["dir"] == entry["dir"]
    # and the store still reads consistently: n for 'view' grew by 100
    got = {
        r.event_type: r.n
        for r in read_state_store(spark, path).select("event_type", "n").collect()
    }
    base = {
        r.event_type: r.n
        for r in events.limit(2000).groupBy("event_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got["view"] == base["view"] + 100
    for k in base:
        if k != "view":
            assert got[k] == base[k]


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    from code_challenge___data_engineer___machinemax_spark.streaming.events import (
        purchases_with_recent_view,
    )

    stream = read_event_stream(spark, sf_dir, str(tmp_path))
    sp = stream.filter(F.col("event_type") == "purchase")
    sv = stream.filter(F.col("event_type") == "view")
    run_to_memory(purchases_with_recent_view(sp, sv), "ssj", "append").createOrReplaceTempView("ssj")
    got = {
        (r.purchase_id, r.view_id) for r in spark.sql("SELECT * FROM ssj").collect()
    }
    e = load_table(spark, sf_dir, "events")
    want = {
        (r.purchase_id, r.view_id)
        for r in purchases_with_recent_view(
            e.filter(F.col("event_type") == "purchase"),
            e.filter(F.col("event_type") == "view"),
        ).collect()
    }
    # streaming append emits only pairs inside the watermark horizon; with a
    # single input file everything is in one micro-batch, so sets match
    assert got == want


def test_streaming_search_over_store(spark, tmp_path):
    from code_challenge___data_engineer___machinemax_spark.streaming.search import (
        streaming_match_counts,
    )

    rows = [
        ("http://s/a", "t", None, None, "news", None, "spark engines win"),
        ("http://s/b", "t", None, None, "news", None, "nothing relevant"),
        ("http://s/c", "t", None, None, "sport", None, "spark again"),
    ]
    store = ArticleStore(spark, str(tmp_path / "arts"))
    store.append(spark.createDataFrame(rows, ARTICLE), version=1)
    run_to_memory(
        streaming_match_counts(spark, store.path, "spark"), "stream_hits", "complete"
    ).createOrReplaceTempView("stream_hits")
    got = {r.section: r.n_matches for r in spark.sql("SELECT * FROM stream_hits").collect()}
    assert got == {"news": 1, "sport": 1}


def test_partitioned_store_prunes(spark, tmp_path):
    rows = [
        ("http://s/a", "t1", None, None, "news", None, "alpha body"),
        ("http://s/b", "t2", None, None, "sport", None, "beta body"),
        ("http://s/c", "t3", None, None, None, None, "gamma body"),
    ]
    df = spark.createDataFrame(rows, ARTICLE)
    store = ArticleStore(spark, str(tmp_path / "arts"), partition_by="section")
    store.append(df, version=1)

    # null section round-trips
    got = {r.url: r.section for r in store.latest().collect()}
    assert got == {"http://s/a": "news", "http://s/b": "sport", "http://s/c": None}

    # section filter prunes at partition level
    q = store._raw().filter(F.col("section") == "news")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    txt = buf.getvalue()
    assert "PartitionFilters" in txt
    assert "section" in txt.split("PartitionFilters", 1)[1][:200]
    assert {r.url for r in q.collect()} == {"http://s/a"}


def test_dedup_ingest_stream_never_duplicates(spark, tmp_path):
    # two ingest waves with within-wave dups, cross-wave dups, and a
    # re-delivered wave: the corpus must hold exactly the distinct texts
    import json

    from code_challenge___data_engineer___machinemax_spark.streaming.ingest import (
        dedup_ingest_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    store = str(tmp_path / "store")

    def drop(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    wave1 = [
        {"doc_id": 1, "text": "alpha beta gamma", "lang": "en", "source": "w1", "n_chars": 16},
        {"doc_id": 2, "text": "delta epsilon", "lang": "en", "source": "w1", "n_chars": 13},
        {"doc_id": 3, "text": "Alpha  beta GAMMA!", "lang": "en", "source": "w1", "n_chars": 18},  # dup of 1 (normalized)
    ]
    drop("w1.jsonl", wave1)
    stats1 = dedup_ingest_stream(spark, str(landing), store)
    assert stats1 == {"corpus_docs": 2, "distinct_fingerprints": 2}

    wave2 = [
        {"doc_id": 4, "text": "delta epsilon", "lang": "en", "source": "w2", "n_chars": 13},  # cross-wave dup
        {"doc_id": 5, "text": "zeta eta theta", "lang": "en", "source": "w2", "n_chars": 14},
    ]
    drop("w2.jsonl", wave2)
    stats2 = dedup_ingest_stream(spark, str(landing), store)
    assert stats2 == {"corpus_docs": 3, "distinct_fingerprints": 3}

    # re-deliver wave 2 under a new name (at-least-once delivery): no change
    drop("w2_redelivered.jsonl", wave2)
    stats3 = dedup_ingest_stream(spark, str(landing), store)
    assert stats3 == {"corpus_docs": 3, "distinct_fingerprints": 3}

    texts = {r.text for r in spark.read.parquet(store + "/corpus").collect()}
    assert texts == {"alpha beta gamma", "delta epsilon", "zeta eta theta"}


def test_foreachbatch_upsert_new_run_merges_not_noops(spark, sf_dir, tmp_path):
    # epoch ids are per-run: a NEW query run against an existing store
    # restarts at epoch 0 and must MERGE, not be silently dropped by the
    # previous run's last_epoch (round-2 advice)
    from code_challenge___data_engineer___machinemax_spark.streaming.events import (
        merge_epoch_into_store,
        read_state_store,
    )

    path = str(tmp_path / "scoped_store")
    batch = load_table(spark, sf_dir, "events").limit(200)
    assert merge_epoch_into_store(batch, 0, path, run_scope="run-A") is True
    assert merge_epoch_into_store(batch, 5, path, run_scope="run-A") is True
    first = {r.event_type: r.n for r in read_state_store(spark, path).collect()}
    # same run, stale epoch -> skipped (replay protection intact)
    assert merge_epoch_into_store(batch, 5, path, run_scope="run-A") is False
    # new run, epoch restarts at 0 -> merges
    assert merge_epoch_into_store(batch, 0, path, run_scope="run-B") is True
    merged = {r.event_type: r.n for r in read_state_store(spark, path).collect()}
    assert merged == {k: v + v // 2 for k, v in first.items()}
    # and the new run's own replay is now guarded
    assert merge_epoch_into_store(batch, 0, path, run_scope="run-B") is False


def test_dedup_ingest_crash_window_loses_nothing(spark, tmp_path):
    # simulate a crash BETWEEN the corpus append and the fingerprint append:
    # the corpus row exists, its fingerprint doesn't. A replay re-appends
    # the document (duplicate, never loss) and corpus_view() restores the
    # exactly-once view.
    import json

    from code_challenge___data_engineer___machinemax_spark.operators.dedup import text_digest
    from code_challenge___data_engineer___machinemax_spark.sources.jsonl import DOCUMENT_SCHEMA
    from code_challenge___data_engineer___machinemax_spark.streaming.ingest import (
        corpus_view,
        dedup_ingest_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    store = str(tmp_path / "store")
    rows = [
        {"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "w", "n_chars": 10},
        {"doc_id": 2, "text": "gamma delta", "lang": "en", "source": "w", "n_chars": 11},
    ]
    with open(landing / "w1.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    dedup_ingest_stream(spark, str(landing), store)

    # crash simulation: doc 3 reached the corpus but not the fingerprint
    # store (the post-fix failure direction — corpus is written first)
    crashed = (
        spark.createDataFrame(
            [(3, "epsilon zeta", "en", "w", 12)], schema=DOCUMENT_SCHEMA
        ).withColumn("fingerprint", text_digest("text"))
    )
    crashed.write.mode("append").parquet(store + "/corpus")

    # the source replays the batch containing doc 3 (new file = redelivery)
    with open(landing / "w1_replay.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": "epsilon zeta", "lang": "en", "source": "w", "n_chars": 12}) + "\n")
    stats = dedup_ingest_stream(spark, str(landing), store)

    # nothing lost: doc 3 is in the corpus (twice — at-least-once storage)
    assert stats["distinct_fingerprints"] == 3
    assert stats["corpus_docs"] == 4
    # exactly-once view: one row per fingerprint, all three texts present
    view = corpus_view(spark, store)
    assert view.count() == 3
    assert {r.text for r in view.collect()} == {"alpha beta", "gamma delta", "epsilon zeta"}


def _write_doc_wave(tmp_path, landing_name, docs):
    import json as _json
    import os as _os

    landing = str(tmp_path / "landing")
    _os.makedirs(landing, exist_ok=True)
    with open(_os.path.join(landing, landing_name), "w") as f:
        for doc_id, text in docs:
            f.write(_json.dumps({
                "doc_id": doc_id, "text": text, "lang": "en",
                "source": "t", "n_chars": len(text),
            }) + "\n")
    return landing


def test_near_dedup_ingest_stream_semantics(spark, tmp_path):
    """Crafted two-wave run pinning every admission rule: within-wave
    canonical per near-dup component, cross-wave band blocking, transitive
    blocking through a DROPPED doc's stored bands, the digest path for
    shingle-less docs, and re-delivery rejection."""
    from code_challenge___data_engineer___machinemax_spark.streaming.ingest import (
        near_dedup_ingest_stream,
    )

    base = " ".join(f"tok{i}" for i in range(200))
    near_a = base + " ending alpha"
    near_b = base + " ending beta"      # near-dup of near_a (shares bands)
    near_d = base + " ending delta"     # near-dup of the family, wave 2
    near_f = base + " ending gamma"     # near-dup of the family, wave 2
    uniq_c = " ".join(f"other{i}" for i in range(50))
    short_e = "hi"                      # < 3 tokens: no shingles, no bands

    store = str(tmp_path / "store")
    landing = _write_doc_wave(tmp_path, "w1.jsonl", [(1, near_a), (2, near_b), (3, uniq_c)])
    near_dedup_ingest_stream(spark, landing, store)
    _write_doc_wave(
        tmp_path, "w2.jsonl",
        [(1, near_a), (2, near_b), (4, near_d), (5, short_e), (6, near_f)],
    )
    near_dedup_ingest_stream(spark, landing, store)

    admitted = sorted(
        r.doc_id for r in spark.read.parquet(store + "/corpus").select("doc_id").collect()
    )
    # wave 1: doc 1 is the canonical of {1,2}; 3 unique. wave 2: 1/2 are
    # digest re-deliveries; 4 and 6 band-collide with wave-1's stored bands
    # (6 only via DROPPED doc 2's bands — transitive blocking); 5 has no
    # bands and a novel digest -> admitted.
    assert admitted == [1, 3, 5]

    # replay with no new files: nothing changes
    near_dedup_ingest_stream(spark, landing, store)
    again = sorted(
        r.doc_id for r in spark.read.parquet(store + "/corpus").select("doc_id").collect()
    )
    assert again == [1, 3, 5]


def test_near_dedup_band_store_probe_prunes(spark, tmp_path):
    """The band-store history probe reads only the buckets the epoch's band
    keys hash into: the scan plans PartitionFilters on the bucket column
    (the L5 discipline applied to the near-dup admission store)."""
    from code_challenge___data_engineer___machinemax_spark.streaming.ingest import (
        near_dedup_ingest_stream,
    )
    from tests.test_plans import explain_text

    base = " ".join(f"tok{i}" for i in range(60))
    landing = _write_doc_wave(tmp_path, "w1.jsonl", [(1, base + " one"), (2, base + " two")])
    store = str(tmp_path / "store")
    near_dedup_ingest_stream(spark, landing, store)

    from pyspark.sql import functions as F

    bands = spark.read.parquet(store + "/bands")
    probe = bands.filter(F.col("bucket").isin(0, 3, 7)).select("band", "band_key")
    txt = explain_text(probe)
    assert "PartitionFilters" in txt
    assert "bucket" in txt.split("PartitionFilters", 1)[1][:200]


def test_transform_with_state_totals_or_gate(spark, sf_dir):
    """Spark 4 transformWithStateInPandas twin of user_running_totals:
    runs when protobuf is available (final state == batch agg), otherwise
    the operator must fail with the documented capability error."""
    import pytest

    from code_challenge___data_engineer___machinemax_spark.streaming.events import (
        type_running_totals_tws,
    )
    from code_challenge___data_engineer___machinemax_spark.tables import load_table

    try:
        from google.protobuf import descriptor  # noqa: F401
        has_proto = True
    except ImportError:
        has_proto = False

    if not has_proto:
        events = load_table(spark, sf_dir, "events")
        with pytest.raises(RuntimeError, match="protobuf"):
            type_running_totals_tws(events)
        return

    import shutil, tempfile

    from code_challenge___data_engineer___machinemax_spark.streaming.replay import run_to_memory
    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="ccdem_tws_test_")
    events = load_table(spark, sf_dir, "events")
    landing = f"{base}/landing"
    events.coalesce(1).write.parquet(landing)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    run_to_memory(type_running_totals_tws(stream), "ccdem_tws_test", "update").createOrReplaceTempView("ccdem_tws_test")
    got = {
        r.event_type: (r.n_events, r.value_e6)
        for r in spark.sql(
            "SELECT event_type, max(n_events) AS n_events, max(value_e6) AS value_e6 "
            "FROM ccdem_tws_test GROUP BY event_type"
        ).collect()
    }
    want = {
        r.event_type: (r.n, r.v)
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.sum((F.col("value") * 1e6).cast("bigint")).alias("v"))
        .collect()
    }
    shutil.rmtree(base, ignore_errors=True)
    assert got == want


def test_purchase_attribution_fixture_requires_cross_batch_state(spark, sf_dir):
    """The wave split (event_id parity) must put at least one (view,
    purchase) attribution pair on OPPOSITE sides of the micro-batch
    boundary — otherwise the stream-stream join query would pass without
    ever buffering state across batches and the oracle equality would
    prove nothing about the join state machine."""
    from pyspark.sql import functions as F

    from code_challenge___data_engineer___machinemax_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("ts").alias("vts"),
        (F.col("event_id") % 2).alias("vw"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("ts").alias("pts"),
        (F.col("event_id") % 2).alias("pw"),
    )
    pairs = v.join(p, "u").filter(
        (F.col("pts") >= F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR"))
    )
    cross = pairs.filter(F.col("vw") != F.col("pw")).count()
    assert cross > 0
    assert pairs.count() > cross  # and some same-batch pairs too


def test_streamed_cms_state_equals_batch_sketch(spark, sf_dir):
    # cells merge associatively, so the cross-wave streaming state must
    # reproduce the batch sketch bit-for-bit -> identical estimates
    import __spark_entry__ as mod

    qs = mod.queries()
    streamed = sorted(
        tuple(r) for r in qs["streamed_cms_heavy_hitters"](spark, sf_dir).collect()
    )
    batch = sorted(tuple(r) for r in qs["cms_heavy_hitters"](spark, sf_dir).collect())
    assert streamed == batch
    assert all(r[3] >= 0 for r in streamed)  # CMS never undercounts


def test_streamed_taxonomy_monitor_equals_batch_rollup(spark, sf_dir):
    """The streamed per-doc tag state, rolled up at emission, must equal
    the batch taxonomy_tag_counts result exactly — per-doc tag counts
    merge by summation across the two ingest waves."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get

    batch = {
        (r.source, r.topic): (r.n_docs, r.n_occurrences)
        for r in get("taxonomy_tag_counts").fn(spark, sf_dir).collect()
    }
    streamed = {
        (r.source, r.topic): (r.n_docs, r.n_occurrences)
        for r in get("streamed_taxonomy_tag_monitor").fn(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_vector_admission_radius_boundary_and_replay(spark, tmp_path):
    """Crafted pins for the streamed vector admission: Hamming 3 rejects
    against history (and MIH banding catches it — pigeonhole at radius <
    4), Hamming 4 is admitted (strict radius boundary), a Hamming-1
    within-batch pair keeps the min id, and a re-delivered id appends
    nothing."""
    import json as _json
    import os as _os

    from code_challenge___data_engineer___machinemax_spark.streaming.ingest import (
        vector_admission_stream,
    )

    landing = tmp_path / "landing"
    store = str(tmp_path / "store")
    landing.mkdir()

    def vec(flips):
        return [(-1.0 if i in flips else 1.0) for i in range(64)]

    def wave(name, rows):
        with open(landing / f"{name}.jsonl", "w") as f:
            for vid, flips in rows:
                f.write(
                    _json.dumps(
                        {"vec_id": vid, "embedding": vec(flips), "label": 1}
                    )
                    + "\n"
                )

    wave("wave1", [(10, set())])
    r1 = vector_admission_stream(spark, str(landing), store)
    assert r1["admitted"] == 1
    wave(
        "wave2",
        [
            (10, set()),            # re-delivery: seen-dropped
            (20, {0, 1, 2}),        # Hamming 3 vs id 10 -> history reject
            (30, {0, 1, 2, 3}),     # Hamming 4 -> outside radius, admitted
            (31, {0, 1, 2, 3, 10}), # Hamming 1 vs 30 (same batch) -> dropped
        ],
    )
    r2 = vector_admission_stream(spark, str(landing), store)
    assert r2["admitted"] == 2
    got = {
        r.vec_id
        for r in spark.read.parquet(_os.path.join(store, "corpus")).collect()
    }
    assert got == {10, 30}
