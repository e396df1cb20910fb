"""Streaming corpus ingest with incremental exact-dedup.

The LLM-pipeline ingest shape: documents stream in (a landing directory
here; Kafka at production scale — the code is source-agnostic past
``readStream``), each micro-batch is fingerprinted, deduped within itself,
anti-joined against the persistent fingerprint store, and only NOVEL
documents are appended to the corpus — so re-delivered or re-crawled
content can never duplicate the corpus, no matter how many times it
arrives.

This is the streaming generalization of the crawl frontier's
"never process twice" set discipline (reference index.py:117-119) applied
to document content instead of URLs: the dedup key is
:func:`~..operators.dedup.text_digest` (md5 of normalized text), the same
32-byte key batch exact-dedup groups on.

Scale notes: the store keeps ONLY fingerprints (32-byte strings) next to
the corpus — the anti-join probe reads the narrow fingerprint table, never
the document bodies. At production scale the fingerprint table is a Delta
table with a MERGE (or a bloom-filter-fronted key-value store); the
append+anti-join here is the plain-parquet equivalent with the same
semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.dedup import _bucket_pairs, text_digest
from ..sources.jsonl import DOCUMENT_SCHEMA
from .replay import drain, read_or_empty

#: the ``corpus/`` table of the two document ingests
CORPUS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long, fingerprint string"
)
#: the ``corpus/`` table of :func:`vector_admission_stream`
ADMITTED_VECTOR_SCHEMA = "vec_id long, label int"


def dedup_ingest_stream(spark: SparkSession, landing_dir: str, store_dir: str) -> dict[str, int]:
    """Drain the landing directory (JSONL documents) into a deduped corpus.

    Blocks until the stream quiesces, then returns counts. Layout under
    ``store_dir``: ``corpus/`` (unique documents + fingerprint column) and
    ``fingerprints/`` (the narrow dedup-key table the anti-join probes).
    Restart-safe: the checkpoint dir pins source progress, and a replayed
    batch's documents are already in the fingerprint store, so clean replays
    append nothing. The corpus is written BEFORE its fingerprints (see
    ``process``), so a crash between the two appends can only produce
    transient duplicates on replay — never document loss; read through
    :func:`corpus_view` for exactly-once semantics across that window.
    """
    corpus_dir = os.path.join(store_dir, "corpus")
    fp_dir = os.path.join(store_dir, "fingerprints")
    checkpoint_dir = os.path.join(store_dir, "_checkpoint")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        batch = _survivors(  # within-batch dedup first
            batch_df.filter(F.col("text").isNotNull())
            .withColumn("fingerprint", text_digest("text"))
        )
        seen = read_or_empty(sess, fp_dir, "fingerprint string")
        # materialize so the fingerprint append below can't feed back into
        # this batch's own anti-join (same discipline as the crawl stream's
        # visited table, crawl_stream.py)
        fresh = batch.join(seen, "fingerprint", "left_anti").localCheckpoint()
        if not fresh.take(1):
            return
        # CORPUS FIRST, fingerprints after (round-2 advice): the two appends
        # are not atomic, and the failure modes are asymmetric. Fingerprints-
        # first + crash loses documents FOREVER (replay finds the fingerprint
        # already present and filters the document out before it ever reaches
        # the corpus). Corpus-first + crash merely re-appends those documents
        # on replay (their fingerprints are still absent), so the corpus is
        # at-least-once for the crash window and loses nothing —
        # corpus_view() restores exactly-once by deduping on the fingerprint
        # column at read time. True atomicity needs a transactional table
        # format (Delta MERGE); this is the plain-parquet equivalent with a
        # safe failure direction.
        fresh.write.mode("append").parquet(corpus_dir)
        fresh.select("fingerprint").write.mode("append").parquet(fp_dir)

    drain(
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .json(landing_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )

    corpus = read_or_empty(spark, corpus_dir, CORPUS_SCHEMA)
    return {
        "corpus_docs": corpus.count(),
        "distinct_fingerprints": corpus.select("fingerprint").distinct().count(),
    }


def corpus_view(spark: SparkSession, store_dir: str) -> DataFrame:
    """Exactly-once read view of the ingested corpus: one row per
    fingerprint (first-writer wins via min doc_id for determinism).

    In steady state this is a no-op pass-through — the anti-join keeps the
    stored corpus unique. It exists for the crash window between the corpus
    append and the fingerprint append in :func:`dedup_ingest_stream`, where
    a replayed batch can re-append documents (at-least-once storage,
    exactly-once view)."""
    return _survivors(read_or_empty(spark, os.path.join(store_dir, "corpus"), CORPUS_SCHEMA))


def _survivors(df: DataFrame) -> DataFrame:
    """The one survivor rule of the document ingests: one row per
    fingerprint, the min ``(doc_id, source)`` (NOT dropDuplicates, whose
    surviving row depends on partition order), so the stored corpus is a
    deterministic function of the input — the property the
    streamed_corpus_state oracle checks (plans/streaming_queries.py). Same
    shuffle as dropDuplicates (hash on fingerprint)."""
    w = W.partitionBy("fingerprint").orderBy(F.asc("doc_id"), F.asc("source"))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def near_dedup_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    num_hashes: int = 8,
    bands: int = 4,
    n_buckets: int = 16,
) -> dict[str, int]:
    """Streaming NEAR-dup admission: drain the landing directory (JSONL
    documents), admitting only documents that are neither exact nor
    MinHash-LSH near-duplicates of anything seen before.

    Per micro-batch (the streaming generalization of the batch near-dup
    pipeline, operators/dedup.py):

    1. exact dedup within the batch (min doc_id per normalized-text digest
       — identical texts share identical shingles, so banding the exact
       survivors loses nothing);
    2. digest anti-join against the ``digests/`` store (drops re-deliveries
       and exact dups of history — including shingle-less short documents,
       which have no bands to collide on);
    3. LSH band rows (operators/dedup.py::band_rows) for the remainder,
       semi-joined against the ``bands/`` store: ANY shared band rejects
       the document as a near-dup of history. Admission is band-collision
       only — the streaming-cheap LSH criterion; the verified-Jaccard
       operator (near_dup_pairs) is the batch tool;
    4. within-batch near-dup groups: band-collision pairs -> connected
       components (operators/clustering.py) -> keep the min-doc_id
       canonical per component;
    5. append admitted docs to ``corpus/``, admitted digests to
       ``digests/``, and the band rows of EVERY doc that reached step 3 to
       ``bands/`` — storing bands of rejected docs too makes replays
       self-healing (a re-delivered dropped doc collides with its own
       stored bands) and transitively blocks future members of a dup
       chain whose stored representative was itself dropped.

    Scale: the ``bands/`` store is hash-bucketed on band_key (same
    discipline as the events state store, streaming/events.py): each epoch
    probes only the buckets its own band keys hash into (partition-pruned
    scan of 32-byte keys), and appends are per-bucket files — per-epoch IO
    is bounded by the epoch's bucket set, not store size. Duplicate band
    rows from crash-replay appends are harmless (the probe is a semi-join).
    """
    corpus_dir = os.path.join(store_dir, "corpus")
    digest_dir = os.path.join(store_dir, "digests")
    bands_dir = os.path.join(store_dir, "bands")
    checkpoint_dir = os.path.join(store_dir, "_checkpoint")

    from ..operators.clustering import connected_components
    from ..operators.dedup import band_rows

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        batch = _survivors(  # within-batch dedup first
            batch_df.filter(F.col("text").isNotNull())
            .withColumn("fingerprint", text_digest("text"))
        )
        seen_digests = read_or_empty(sess, digest_dir, "fingerprint string")
        fresh = batch.join(seen_digests, "fingerprint", "left_anti").localCheckpoint()
        if not fresh.take(1):
            return

        banded = (
            band_rows(fresh, "doc_id", "text", num_hashes, bands)
            .withColumn("bucket", F.pmod(F.xxhash64("band_key"), F.lit(n_buckets)).cast("int"))
            .localCheckpoint()
        )
        touched = [r.bucket for r in banded.select("bucket").distinct().collect()]
        seen_bands = read_or_empty(
            sess, bands_dir, "band int, band_key string, bucket int"
        )
        if touched:
            seen_bands = seen_bands.filter(F.col("bucket").isin(touched))
        collided = (
            banded.join(seen_bands, ["band", "band_key"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        passed = fresh.join(collided, "doc_id", "left_anti")
        passed_bands = banded.select("doc_id", "band", "band_key").join(
            passed.select("doc_id"), "doc_id", "left_semi"
        )
        pairs = _bucket_pairs(passed_bands, None, "doc_id", ["band", "band_key"])
        dropped = (
            connected_components(pairs)
            .filter(F.col("component") < F.col("id"))
            .select(F.col("id").alias("doc_id"))
        )
        admitted = passed.join(dropped, "doc_id", "left_anti").localCheckpoint()

        # corpus first, then the two filter stores (same failure-direction
        # argument as dedup_ingest_stream: a crash between appends can only
        # re-admit on replay, never lose documents)
        admitted.write.mode("append").parquet(corpus_dir)
        admitted.select("fingerprint").write.mode("append").parquet(digest_dir)
        banded.write.partitionBy("bucket").mode("append").parquet(bands_dir)

    drain(
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .json(landing_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )

    corpus = read_or_empty(spark, corpus_dir, CORPUS_SCHEMA)
    return {"corpus_docs": corpus.count()}


def vector_admission_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    radius: int = 3,
) -> dict[str, int]:
    """Streaming VECTOR admission: drain the landing directory (JSONL
    embeddings) admitting only vectors whose binary signature is NOT
    within Hamming ``radius`` of anything seen in an earlier batch, with
    one canonical survivor (min vec_id) per within-batch near-dup
    component — the embedding-space counterpart of
    :func:`near_dedup_ingest_stream`'s MinHash admission.

    Candidate generation is multi-index Hamming (Norouzi et al.'s MIH):
    each 64-bit signature word splits into four 16-bit bands; by
    pigeonhole, two signatures within Hamming radius < 4 share at least
    one band VERBATIM, so an equi-join on (band_id, band_val) is a
    LOSSLESS candidate filter — unlike the LSH text path, admission here
    is exact, and the oracle replays it with a direct
    ``bit_count(xor()) <= radius`` predicate, no banding model needed.

    Per micro-batch:

    1. re-delivery drop: vec_id anti-join against the ``seen/`` store;
    2. history rejection: batch band rows equi-join the ``bands/`` store,
       candidates verified at exact Hamming against ``sigs/``;
    3. within-batch: band self-join -> verified pairs -> connected
       components (operators/clustering.py) -> min-vec_id canonical;
    4. append admitted vectors to ``corpus/`` FIRST (the safe failure
       direction — see dedup_ingest_stream), then sigs, band rows and
       seen ids of EVERY processed vector, admitted or rejected, so a
       re-delivered rejected vector collides with its own stored bands
       (self-healing replays) and future members of its component stay
       blocked even though their representative was dropped.

    Scale: per-epoch probe IO is an equi-join on 16-bit band keys (the
    hash-bucketed layout of the text band store applies verbatim when the
    store outgrows one file); signatures are 8 bytes per 64 dims, so the
    resident state is ~32x smaller than the vectors it guards."""
    corpus_dir = os.path.join(store_dir, "corpus")
    sigs_dir = os.path.join(store_dir, "sigs")
    bands_dir = os.path.join(store_dir, "bands")
    seen_dir = os.path.join(store_dir, "seen")
    checkpoint_dir = os.path.join(store_dir, "_checkpoint")

    from ..operators.clustering import connected_components
    from ..operators.similarity import binary_signature, hamming_distance

    def band_rows(df: DataFrame) -> DataFrame:
        return (
            df.select("vec_id", F.posexplode("__sig").alias("__w", "__word"))
            .select(
                "vec_id",
                F.explode(
                    F.expr(
                        "transform(sequence(0, 3), j -> struct("
                        "CAST(__w * 4 + j AS INT) AS band_id, "
                        "CAST(shiftright(__word, 16 * j) & 65535 AS BIGINT)"
                        " AS band_val))"
                    )
                ).alias("__b"),
            )
            .select("vec_id", "__b.band_id", "__b.band_val")
        )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = read_or_empty(sess, seen_dir, "vec_id long")
        fresh = (
            batch_df.filter(F.col("embedding").isNotNull())
            .join(seen, "vec_id", "left_anti")
            .withColumn("__sig", binary_signature("embedding"))
            .localCheckpoint()
        )
        if not fresh.take(1):
            return
        new_bands = band_rows(fresh).localCheckpoint()
        hist_bands = read_or_empty(sess, bands_dir, "vec_id long, band_id int, band_val long")
        hist_sigs = read_or_empty(
            sess, sigs_dir, "vec_id long, __sig array<bigint>"
        ).select(F.col("vec_id").alias("id_b"), F.col("__sig").alias("__osig"))
        rejected = (
            _bucket_pairs(new_bands, hist_bands, "vec_id", ["band_id", "band_val"])
            .join(hist_sigs, "id_b")
            .join(fresh.select(F.col("vec_id").alias("id_a"), "__sig"), "id_a")
            .filter(hamming_distance(F.col("__sig"), F.col("__osig")) <= radius)
            .select(F.col("id_a").alias("vec_id"))
            .distinct()
        )
        passed = fresh.join(rejected, "vec_id", "left_anti").localCheckpoint()
        pb = new_bands.join(passed.select("vec_id"), "vec_id", "left_semi")
        cand = _bucket_pairs(pb, None, "vec_id", ["band_id", "band_val"])
        sig_of = passed.select("vec_id", "__sig")
        pairs = (
            cand.join(
                sig_of.select(
                    F.col("vec_id").alias("id_a"), F.col("__sig").alias("__sa")
                ),
                "id_a",
            )
            .join(
                sig_of.select(
                    F.col("vec_id").alias("id_b"), F.col("__sig").alias("__sb")
                ),
                "id_b",
            )
            .filter(hamming_distance(F.col("__sa"), F.col("__sb")) <= radius)
            .select("id_a", "id_b")
        )
        comp = connected_components(pairs).withColumnRenamed("id", "vec_id")
        admitted = (
            passed.join(comp, "vec_id", "left")
            .filter(
                F.col("component").isNull()
                | (F.col("component") == F.col("vec_id"))
            )
        )
        admitted.select("vec_id", "label").write.mode("append").parquet(corpus_dir)
        fresh.select("vec_id", "__sig").write.mode("append").parquet(sigs_dir)
        new_bands.write.mode("append").parquet(bands_dir)
        fresh.select("vec_id").write.mode("append").parquet(seen_dir)

    drain(
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .json(landing_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )

    corpus = read_or_empty(spark, corpus_dir, ADMITTED_VECTOR_SCHEMA)
    return {"admitted": corpus.count()}
