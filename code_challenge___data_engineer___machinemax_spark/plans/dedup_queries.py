"""Dedup queries over `documents`: exact, MinHash-LSH near-dup, n-gram
Jaccard. The md5-based hash family makes every step reproducible in the
DuckDB oracle. (SimHash is registered rows-only — its 60-bit vote SQL twin
is impractical; unit tests in tests/test_dedup.py pin its semantics.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import shingles_sql, tokenize_sql
from ..operators.dedup import (
    dedup_exact,
    minhash_signatures_df,
    near_dup_pairs,
    prefix_filter_pairs,
    simhash,
)
from ..tables import load_table, read_parquet
from .registry import get as _get_registered
from .registry import query


@query(
    "dedup_exact_groups",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents
    GROUP BY md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')))
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on the normalized-text digest, keep lowest id.
    Scale: the shuffle key is the 32-byte digest, never the document body."""
    d = load_table(spark, sf_dir, "documents")
    return dedup_exact(d, "text", "doc_id")


@query(
    "minhash_signatures",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {shingles_sql('text', 3)} AS shingles FROM documents)
    SELECT doc_id,
           list_aggregate(list_transform(shingles, s -> md5('0:' || s)), 'min') AS mh0,
           list_aggregate(list_transform(shingles, s -> md5('1:' || s)), 'min') AS mh1,
           list_aggregate(list_transform(shingles, s -> md5('2:' || s)), 'min') AS mh2,
           list_aggregate(list_transform(shingles, s -> md5('3:' || s)), 'min') AS mh3
    FROM sh
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (4 hash families over 3-token
    shingles) — the LSH input, checked value-exactly against the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_signatures_df(d, "doc_id", "text", num_hashes=4, k=3)


# shared by near_dup_pairs_minhash and near_dup_cluster_keep_one: the full
# MinHash-LSH pipeline (8 hashes, 4 bands, exact-Jaccard verify at 0.5)
_NEAR_DUP_PAIRS_ORACLE = f"""
    WITH sig AS (
        SELECT doc_id,
               list_transform(range(0, 8),
                   i -> list_aggregate(
                       list_transform({shingles_sql('text', 3)}, s -> md5(i || ':' || s)),
                       'min')) AS sig
        FROM documents
    ), banded AS (
        SELECT doc_id, b AS band,
               md5(array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '|')) AS band_key
        FROM sig, (SELECT unnest(range(0, 4)) AS b)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CASE WHEN len(list_distinct(list_concat(ta.toks, tb.toks))) > 0
                 THEN CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                      / len(list_distinct(list_concat(ta.toks, tb.toks)))
                 ELSE 0.0 END, 6) AS jaccard
    FROM cand
    JOIN (SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks FROM documents) ta
      ON ta.doc_id = id_a
    JOIN (SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks FROM documents) tb
      ON tb.doc_id = id_b
    WHERE ROUND(CASE WHEN len(list_distinct(list_concat(ta.toks, tb.toks))) > 0
                THEN CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                     / len(list_distinct(list_concat(ta.toks, tb.toks)))
                ELSE 0.0 END, 6) >= 0.5
    """


@query("near_dup_pairs_minhash", oracle=_NEAR_DUP_PAIRS_ORACLE)
def near_dup_pairs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding (8 hashes, 4 bands) -> candidate pairs ->
    exact-Jaccard verification at 0.5. The full scale pipeline; on the
    synthetic corpus the result set is small/empty, which the oracle
    confirms identically."""
    d = load_table(spark, sf_dir, "documents")
    return near_dup_pairs(d, "doc_id", "text", threshold=0.5, num_hashes=8, bands=4)


@query(
    "adjacent_doc_jaccard",
    oracle=f"""
    WITH t AS (SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) > 0
                 THEN CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.toks, b.toks)))
                 ELSE 0.0 END, 6) AS jaccard
    FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
    """,
)
def adjacent_doc_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (token-set) Jaccard on a deterministic pair set
    (adjacent ids) — pins the Jaccard arithmetic itself, independent of
    LSH candidate generation."""
    from ..functions.text import tokenize
    from ..operators.dedup import jaccard_arrays

    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokenize("text"))
    a = d.select(F.col("doc_id").alias("id_a"), toks.alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), toks.alias("tb"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b", F.round(jaccard_arrays(F.col("ta"), F.col("tb")), 6).alias("jaccard"))
    )


def _simhash_oracle_sql(bits: int = 60) -> str:
    """Generated DuckDB twin of operators.dedup.simhash: same md5-derived
    60-bit token hash (15 hex chars -> BIGINT), same per-bit majority vote.
    Mechanical but exact — it upgrades SimHash from rows-only to value-
    checked."""
    votes = ",\n               ".join(
        f"SUM((((h >> {i}) & 1) * 2 - 1)) AS v{i}" for i in range(bits)
    )
    fingerprint = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    toks = tokenize_sql("text")
    return f"""
    WITH exploded AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, unnest(list_distinct({toks})) AS t FROM documents)
    ), votes AS (
        SELECT doc_id,
               {votes}
        FROM exploded GROUP BY doc_id
    )
    SELECT doc_id, CAST({fingerprint} AS BIGINT) AS simhash FROM votes
    """


def _simhash_pairs_oracle_sql(
    bits: int = 60, bands: int = 4, max_hamming: int = 3
) -> str:
    """Generated DuckDB twin of operators.dedup.simhash_near_dup_pairs:
    same fingerprints (reuses the generated vote SQL as a CTE), same band
    extraction ((fp >> b*band_bits) & mask), same equi-join + xor/bit_count
    verify. Bit-for-bit reproducible — both engines do exact int64 ops."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    return f"""
    WITH fp AS ({_simhash_oracle_sql(bits)}),
    banded AS (
        SELECT doc_id, b AS band,
               (simhash >> (b * {band_bits})) & {mask} AS band_val
        FROM fp, (SELECT unnest(range(0, {bands})) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(fa.simhash, fb.simhash)) AS hamming
    FROM cand
    JOIN fp fa ON fa.doc_id = id_a
    JOIN fp fb ON fb.doc_id = id_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {max_hamming}
    """


@query("simhash_near_dup_pairs", oracle=_simhash_pairs_oracle_sql())
def simhash_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding near-dup pairs: 60-bit fingerprints, 4 bands of 15
    bits, exact Hamming<=3 verify. Pigeonhole gives perfect recall at that
    radius with zero all-pairs work — the SimHash twin of the MinHash-LSH
    pipeline, value-checked end to end against the generated DuckDB twin."""
    from ..operators.dedup import simhash_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, "doc_id", "text", bits=60, bands=4, max_hamming=3)


@query("simhash_near_dup_pairs_from_store", oracle=_simhash_pairs_oracle_sql())
def simhash_near_dup_pairs_from_store_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`simhash_near_dup_pairs` over the persisted L4 fingerprint table
    (DEPLOY.md L4) — the production read path. The 61-sum explode vote (the
    measured cost center of the full pipeline) ran once at ingest; pair
    generation here scans 16-byte (doc_id, simhash) rows and does pure
    int-key work: arithmetic band projection -> equi-join -> bit_count
    verify. Same oracle as the self-contained variant — fingerprints are
    deterministic, so the pairs are identical."""
    from ..operators.dedup import simhash_pairs_from_fingerprints
    from ..stores import ensure_simhash_store

    fp_path = ensure_simhash_store(spark, sf_dir, bits=60)
    fp = read_parquet(spark, fp_path)
    return simhash_pairs_from_fingerprints(
        fp, "doc_id", bits=60, bands=4, max_hamming=3
    )


def _simhash_incremental_oracle_sql(
    bits: int = 60, bands: int = 4, max_hamming: int = 3
) -> str:
    """DuckDB twin of the incremental admission: same generated fingerprint
    CTE for BOTH sides (batch = doc_id%10=7, corpus = the rest), banded
    batch×corpus join, per-batch-doc near-dup count, admitted iff zero."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    return f"""
    WITH fp AS ({_simhash_oracle_sql(bits)}),
    bf AS (SELECT * FROM fp WHERE doc_id % 10 = 7),
    cf AS (SELECT * FROM fp WHERE doc_id % 10 <> 7),
    bb AS (
        SELECT doc_id, simhash, b AS band,
               (simhash >> (b * {band_bits})) & {mask} AS band_val
        FROM bf, (SELECT unnest(range(0, {bands})) AS b)
    ),
    cb AS (
        SELECT doc_id, simhash, b AS band,
               (simhash >> (b * {band_bits})) & {mask} AS band_val
        FROM cf, (SELECT unnest(range(0, {bands})) AS b)
    ),
    cand AS (
        SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid,
               bb.simhash AS fa, cb.simhash AS fb
        FROM bb JOIN cb ON bb.band = cb.band AND bb.band_val = cb.band_val
    ),
    m AS (
        SELECT bid, COUNT(*) AS n FROM cand
        WHERE bit_count(xor(fa, fb)) <= {max_hamming}
        GROUP BY bid
    )
    SELECT f.doc_id,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n_near_dups,
           COALESCE(m.n, 0) = 0 AS admitted
    FROM bf f LEFT JOIN m ON m.bid = f.doc_id
    """


@query("simhash_incremental_admission", oracle=_simhash_incremental_oracle_sql())
def simhash_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission — the L4 ingest loop (DEPLOY.md):
    a NEW batch (doc_id % 10 == 7 stands in for today's ingest) is
    fingerprinted in-plan, then band-joined against the PERSISTED corpus
    fingerprints (everything else, read from the L4 store — the corpus is
    never re-fingerprinted, its 16-byte fp rows are simply scanned); a
    batch document is admitted iff no stored document sits within
    hamming<=3. This is the batch twin of the streaming
    `streamed_near_dedup` admission, with the corpus side coming from the
    materialized layout instead of state-store history."""
    from ..operators.dedup import simhash, simhash_cross_pairs
    from ..stores import ensure_simhash_store

    fp_path = ensure_simhash_store(spark, sf_dir, bits=60)
    corpus_fp = read_parquet(spark, fp_path).filter(F.col("doc_id") % 10 != 7)
    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 10 == 7)
    batch_fp = simhash(batch, "doc_id", "text", 60).localCheckpoint()
    matches = (
        simhash_cross_pairs(batch_fp, corpus_fp, "doc_id")
        .groupBy("batch_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        batch_fp.join(matches, batch_fp["doc_id"] == matches["batch_id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_near_dups"),
            (F.coalesce(F.col("n"), F.lit(0)) == 0).alias("admitted"),
        )
    )


@query("simhash_fingerprints", oracle=_simhash_oracle_sql())
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 60-bit fingerprints, value-checked against a generated
    DuckDB twin; locality semantics pinned by tests/test_dedup.py.

    Note: documents whose text has zero tokens drop out (no rows to vote) —
    identical behavior both sides."""
    d = load_table(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text")


@query(
    "repeated_passages",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, unnest({shingles_sql('text', 5)}) AS passage
        FROM documents
    )
    SELECT passage,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM g GROUP BY passage
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, passage ASC
    LIMIT 50
    """,
)
def repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage mining (the ExactSubstr observation,
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better", at gram granularity): every 5-token passage occurring in two
    or more distinct documents, ranked by spread then frequency. Pairwise
    near-dup (MinHash/SimHash) misses these when the surrounding documents
    differ; passage mining finds the shared boilerplate itself, which is
    what an ExactSubstr-style dedup would then cut from each document.

    Scale: shingle_rows' linear explode (never the nested-lambda quadratic
    form), then one groupBy on the passage — hash partial aggregation
    collapses within-partition duplicates map-side, so the shuffle carries
    each distinct (partition, passage) once; the distinct-doc count rides
    the same shuffle via Spark's two-phase distinct expansion. Top-50 under
    a total ordering (spread, frequency, passage) is
    TakeOrderedAndProject — no global sort."""
    from ..operators.dedup import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    grams = shingle_rows(d, "doc_id", "text", k=5)
    return (
        grams.groupBy(F.col("shingle").alias("passage"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(),
            F.col("n_occurrences").desc(),
            F.col("passage").asc(),
        )
        .limit(50)
    )


@query(
    "duplicate_rate_by_source",
    oracle="""
    WITH keyed AS (
        SELECT source,
               md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')))
                   AS fp
        FROM documents
    ), per_group AS (
        SELECT source, fp, COUNT(*) AS cnt
        FROM keyed GROUP BY source, fp
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_redundant,
           ROUND(CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS dup_rate
    FROM per_group GROUP BY source
    """,
)
def duplicate_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate mass per corpus source — the triage report a dedup
    pass starts from: for each source, total docs, distinct normalized
    fingerprints, redundant copies (docs minus distinct), and the dup rate.
    Sources with high rates get deduped (or dropped) first; the fingerprint
    is the same normalized-text digest dedup_exact_groups keys on.

    Scale: shuffle keys are (source, 32-byte digest) with map-side partial
    aggregation; the second agg re-shuffles only (source, cnt) rows. The
    dup_rate division happens on exact int64 sums — no float accumulation."""
    from ..operators.dedup import text_digest

    d = load_table(spark, sf_dir, "documents")
    per_group = d.groupBy("source", text_digest("text").alias("fp")).agg(
        F.count("*").alias("cnt")
    )
    return per_group.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        (F.sum("cnt") - F.count("*")).alias("n_redundant"),
        F.round(
            (F.sum("cnt") - F.count("*")).cast("double") / F.sum("cnt"), 6
        ).alias("dup_rate"),
    )


@query(
    "line_dedup_stats",
    oracle="""
    WITH split AS (
        SELECT doc_id, source, string_split(text, chr(10)) AS lines
        FROM documents WHERE text IS NOT NULL
    ), occ AS (
        SELECT s.doc_id, s.source, g.pos,
               md5(trim(s.lines[g.pos])) AS digest
        FROM split s,
             LATERAL unnest(generate_series(1, len(s.lines))) AS g(pos)
        WHERE trim(s.lines[g.pos]) <> ''
    ), ranked AS (
        SELECT source, digest,
               row_number() OVER (PARTITION BY digest
                                  ORDER BY doc_id, pos) AS occ_rank
        FROM occ
    ), spread AS (
        SELECT digest, COUNT(DISTINCT doc_id) AS n_docs
        FROM occ GROUP BY digest
    )
    SELECT r.source,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(DISTINCT r.digest) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN r.occ_rank > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_occurrences,
           CAST(SUM(CASE WHEN s.n_docs >= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boilerplate
    FROM ranked r JOIN spread s USING (digest)
    GROUP BY r.source
    """,
)
def line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact LINE dedup accounting (the RefinedWeb/C4
    boilerplate pass, one level below document dedup): every non-empty
    trimmed line is digested, an occurrence is a duplicate if the same
    digest appeared earlier in (doc_id, pos) corpus order, and a line is
    boilerplate if its digest spans >= 5 distinct documents (nav menus,
    cookie banners). Reported per source — the triage view that says which
    feed needs line-level cleaning before training.

    Scale: one posexplode, then everything keys on the 32-char digest —
    the first-occurrence window and the doc-spread aggregation shuffle on
    the same key (co-partitioned exchange reuse), and per-digest groups
    are bounded by a line's corpus frequency, with the heavy boilerplate
    digests exactly the rows AQE's skew split handles. The final rollup is
    a tiny per-source frame. No text leaves the first projection — only
    digests shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    occ = (
        d.select(
            "doc_id",
            "source",
            F.posexplode(F.split("text", "\n")).alias("pos0", "line"),
        )
        .filter(F.trim("line") != "")
        .select(
            "doc_id",
            "source",
            (F.col("pos0") + 1).alias("pos"),
            F.md5(F.trim("line")).alias("digest"),
        )
    )
    w = W.partitionBy("digest").orderBy("doc_id", "pos")
    ranked = occ.withColumn("occ_rank", F.row_number().over(w))
    spread = occ.groupBy("digest").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        ranked.join(spread, "digest")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.countDistinct("digest").cast("bigint").alias("n_unique"),
            F.sum((F.col("occ_rank") > 1).cast("int")).cast("bigint").alias(
                "n_dup_occurrences"
            ),
            F.sum((F.col("n_docs") >= 5).cast("int")).cast("bigint").alias(
                "n_boilerplate"
            ),
        )
    )


@query(
    "set_similarity_prefix_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks FROM documents
    ), nz AS (SELECT * FROM t WHERE len(toks) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
    FROM nz a JOIN nz b ON b.doc_id > a.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8
    """,
)
def set_similarity_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard>=0.8 near-dup pairs via prefix filtering
    (operators.dedup.prefix_filter_pairs — AllPairs/PPJoin): the lossless
    candidate generator, vs MinHash-LSH (probabilistic recall) and SimHash
    banding (Hamming proxy). The oracle is the semantic ground truth — a
    brute-force all-pairs join, feasible only at oracle scale — so a green
    row proves the pruning identities lose no pair; the Spark plan itself
    never goes O(n^2)."""
    d = load_table(spark, sf_dir, "documents")
    return prefix_filter_pairs(d, "doc_id", "text", threshold=0.8)


@query(
    "entity_resolution_blocked",
    oracle="""
    WITH dirty AS (
        -- deterministic "typo" corpus: every 7th customer arrives with the
        -- last two characters of its name transposed
        SELECT c_custkey AS dirty_key,
               substr(c_name, 1, length(c_name) - 2)
                   || substr(c_name, length(c_name), 1)
                   || substr(c_name, length(c_name) - 1, 1) AS dirty_name,
               substr(c_name, 1, length(c_name) - 2) AS block
        FROM customer WHERE c_custkey % 7 = 3
    ), clean AS (
        SELECT c_custkey AS clean_key, c_name AS clean_name,
               substr(c_name, 1, length(c_name) - 2) AS block
        FROM customer
    ), cand AS (
        SELECT d.dirty_key, d.dirty_name, c.clean_key, c.clean_name,
               levenshtein(d.dirty_name, c.clean_name) AS dist
        FROM dirty d JOIN clean c USING (block)
        WHERE levenshtein(d.dirty_name, c.clean_name) <= 2
    )
    SELECT dirty_key, dirty_name, clean_key, clean_name, CAST(dist AS INT) AS dist
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY dirty_key ORDER BY dist, clean_key) AS rn
        FROM cand
    ) WHERE rn = 1
    """,
)
def entity_resolution_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (entity resolution): resolve a "dirty"
    feed — every 7th customer name arrives with its trailing two characters
    transposed, the classic keyboarding typo — back to the clean master by
    (1) BLOCKING on the name prefix that the corruption model cannot touch,
    (2) scoring only within-block candidates with Levenshtein edit distance,
    and (3) picking each dirty record's best match by (distance, key) — the
    standard Fellegi-Sunter-style pipeline reduced to its deterministic
    skeleton.

    Scale: the join key is the block, never the full cross product — each
    block holds at most the names sharing a prefix (here <= 100 at any SF,
    since only the transposed suffix varies), so candidate fan-out is a
    constant per dirty row where naive linkage is O(n^2). The edit distance
    runs as the JVM-codegen levenshtein(), not a Python UDF, and the
    best-match pick is a window partitioned by dirty_key — bounded frames.
    Transposition collisions (a typo that lands exactly on another real
    customer) resolve deterministically to the 0-distance neighbor, which
    is the honest answer without a verifier model in the loop."""
    c = load_table(spark, sf_dir, "customer")
    clean = c.select(
        F.col("c_custkey").alias("clean_key"),
        F.col("c_name").alias("clean_name"),
        F.expr("substr(c_name, 1, length(c_name) - 2)").alias("block"),
    )
    dirty = (
        c.filter(F.col("c_custkey") % 7 == 3)
        .select(
            F.col("c_custkey").alias("dirty_key"),
            F.expr(
                "concat(substr(c_name, 1, length(c_name) - 2),"
                " substr(c_name, length(c_name), 1),"
                " substr(c_name, length(c_name) - 1, 1))"
            ).alias("dirty_name"),
            F.expr("substr(c_name, 1, length(c_name) - 2)").alias("block"),
        )
    )
    cand = (
        dirty.join(clean, "block")
        .withColumn("dist", F.levenshtein("dirty_name", "clean_name"))
        .filter(F.col("dist") <= 2)
    )
    w = W.partitionBy("dirty_key").orderBy("dist", "clean_key")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_key",
            "dirty_name",
            "clean_key",
            "clean_name",
            F.col("dist").cast("int").alias("dist"),
        )
    )


def _minhash_recall_oracle_sql() -> str:
    """Two-basis recall scorecard oracle over the deterministic 20% doc
    sample (doc_id % 5 = 0 — the sampled-recall protocol; all arms sample
    identically so the estimate is exact on the sample). Truth arms are
    all-pairs exact Jaccard (token sets / 3-shingle sets, tractable at
    oracle scale); the predicted arm on both bases is truth INTERSECT the
    banded candidates — exactly what the verify-after-banding pipeline
    emits, so spurious is structurally zero and any nonzero flags a
    verify regression."""
    from ..functions.text import shingles_sql, tokenize_sql

    jacc = (
        "ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0 "
        "THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
        "/ len(list_distinct(list_concat(a.s, b.s))) ELSE 0.0 END, 6)"
    )
    return f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    tok AS (
        SELECT doc_id, list_distinct({tokenize_sql('text')}) AS s FROM docs
    ),
    sh AS (
        SELECT doc_id, list_distinct({shingles_sql('text', 3)}) AS s FROM documents
    ),
    truth_t AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM tok a JOIN tok b ON a.doc_id < b.doc_id WHERE {jacc} >= 0.5
    ),
    truth_s AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id WHERE {jacc} >= 0.5
    ),
    sig AS (
        SELECT doc_id,
               list_transform(range(0, 8),
                   i -> list_aggregate(
                       list_transform({shingles_sql('text', 3)},
                                      s -> md5(i || ':' || s)),
                       'min')) AS sig
        FROM documents
    ),
    banded AS (
        SELECT doc_id, b AS band,
               md5(array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '|'))
                   AS band_key
        FROM sig, (SELECT unnest(range(0, 4)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    stats AS (
        SELECT 'token' AS basis,
               (SELECT COUNT(*) FROM truth_t) AS n_true,
               (SELECT COUNT(*) FROM truth_t JOIN cand USING (id_a, id_b))
                   AS n_overlap  -- truth_t already restricts to the sample
        UNION ALL
        SELECT 'shingle',
               (SELECT COUNT(*) FROM truth_s),
               (SELECT COUNT(*) FROM truth_s JOIN cand USING (id_a, id_b))
    )
    SELECT basis,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_overlap AS BIGINT) AS n_caught,
           CAST(n_true - n_overlap AS BIGINT) AS n_missed,
           CAST(CASE WHEN n_true = 0 THEN 1000000
                ELSE 1000000 * n_overlap // n_true END AS BIGINT) AS recall_e6
    FROM stats
    """


@query("minhash_recall_eval", oracle=_minhash_recall_oracle_sql())
def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the oracle-config MinHash-LSH banding (8 hashes,
    4 bands, threshold 0.5) on a deterministic 20% document sample
    (doc_id % 5 = 0), on two truth bases at once — the dedup-quality
    scorecard a pipeline owner reads before trusting the banded path:

    - basis='shingle': truth = exact 3-shingle-set Jaccard >= 0.5 pairs,
      THE similarity the signatures estimate; caught = pairs the banding
      buckets together. Recall here is the S-curve quantity 1-(1-j^r)^b
      (>= 0.68 at j=0.5 for r=2,b=4, rising fast with j) — the number
      that validates the banding math.
    - basis='token': truth = exact token-set Jaccard >= 0.5 pairs (the
      lossless prefix-filter join); caught = the full registered
      pipeline's emission on these pairs (banded candidates verified at
      token level == truth INTERSECT candidates). On THIS corpus the
      number is deliberately damning — the synthetic docs share
      vocabulary without sharing word order, so token-similar pairs are
      shingle-dissimilar and the shingle-basis generator cannot see them.
      That gap (not a bug — the r3 planted-mutant protocol, where edits
      are contiguous and the two bases agree, measures 1.0 recall at the
      production 128/16 config) is exactly what this report exists to
      surface: banded MinHash recalls ORDER-PRESERVING near-duplication,
      and a corpus whose duplication is bag-of-words-shaped needs the
      set-similarity join (set_similarity_prefix_pairs) instead.

    The token basis runs on a deterministic 20% doc sample; the shingle
    basis runs on the FULL corpus (its truth is real near-duplication —
    dozens of pairs — not the output-bound blowup, and sampling would
    leave too few pairs to estimate anything).

    Why the token arm is sampled: recall estimation does not need the full pair set, and
    on the deliberately self-similar synthetic corpus the >=0.5
    token-truth is ~25% of ALL pairs — output-volume-bound exactly like
    set_similarity_prefix_pairs (SCALE.md), which is measurement cost, not
    information. The 1-in-5 doc sample cuts pair volume 25x while keeping
    thousands of truth pairs at the gate SF; all arms sample identically,
    so every count is still exact. Scale shape: engine-side generators
    stay bucketed (prefix-token / shared-shingle / band-key equi-joins);
    only the DuckDB oracle does all-pairs."""
    from ..functions.text import shingles
    from ..operators.dedup import jaccard_arrays, lsh_candidate_pairs, prefix_filter_pairs

    d_full = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = d_full.filter(F.col("doc_id") % 5 == 0).localCheckpoint()

    def stats(truth: DataFrame, cand: DataFrame, basis: str) -> DataFrame:
        j = truth.select("id_a", "id_b", F.lit(1).alias("__t")).join(
            cand.select("id_a", "id_b", F.lit(1).alias("__p")),
            ["id_a", "id_b"],
            "left",
        )
        counts = j.agg(
            F.coalesce(F.sum(F.col("__t")), F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce(F.sum(F.coalesce(F.col("__p"), F.lit(0))), F.lit(0))
            .cast("bigint")
            .alias("n_overlap"),
        )
        return counts.select(
            F.lit(basis).alias("basis"),
            "n_true",
            F.col("n_overlap").alias("n_caught"),
            (F.col("n_true") - F.col("n_overlap")).cast("bigint").alias("n_missed"),
            F.when(F.col("n_true") == 0, F.lit(1000000))
            .otherwise(F.expr("(1000000 * n_overlap) div n_true"))
            .cast("bigint")
            .alias("recall_e6"),
        )

    # token basis (on the 20% sample): lossless prefix-filter truth
    # (bucketed, never all-pairs) vs the sample's banded candidates
    truth_t = prefix_filter_pairs(d, "doc_id", "text", threshold=0.5).select(
        "id_a", "id_b"
    )
    cand_t = lsh_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=4)

    # shingle basis: shared-shingle candidate equi-join (any >=0.5 pair
    # with a nonempty shingle set shares one), exact verify on the
    # collected distinct-shingle sets (set ops — collect order irrelevant)
    shs = d_full.select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("sh")
    ).localCheckpoint()
    sets = shs.groupBy("doc_id").agg(F.collect_set("sh").alias("s"))
    cand_s = (
        shs.select(F.col("doc_id").alias("id_a"), "sh")
        .join(shs.select(F.col("doc_id").alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    truth_s = (
        cand_s.join(
            sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa")), "id_a"
        )
        .join(sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb")), "id_b")
        .filter(F.round(jaccard_arrays(F.col("sa"), F.col("sb")), 6) >= 0.5)
        .select("id_a", "id_b")
    )
    cand_sh = lsh_candidate_pairs(d_full, "doc_id", "text", num_hashes=8, bands=4)
    return stats(truth_t, cand_t, "token").unionByName(
        stats(truth_s, cand_sh, "shingle")
    )


@query(
    "cdc_chunk_dedup_report",
    oracle="""
    WITH docs AS (
        SELECT doc_id, text, len(text) AS L
        FROM documents WHERE text IS NOT NULL AND len(text) >= 1
    ),
    pos AS (
        SELECT doc_id, text, unnest(range(8, L + 1)) AS i FROM docs
    ),
    marks AS (
        SELECT DISTINCT doc_id, e FROM (
            SELECT doc_id, CAST(i AS BIGINT) AS e
            FROM pos
            WHERE substr(md5(substr(text, CAST(i AS INT) - 7, 8)), 1, 2) = '00'
            UNION ALL
            SELECT doc_id, L FROM docs
        )
    ),
    spans AS (
        SELECT doc_id,
               COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s,
               e
        FROM marks
    ),
    chunks AS (
        SELECT sp.doc_id,
               md5(substr(d.text, CAST(sp.s AS INT),
                          CAST(sp.e - sp.s + 1 AS INT))) AS dg,
               sp.e - sp.s + 1 AS ln
        FROM spans sp JOIN docs d USING (doc_id)
    ),
    uniq AS (SELECT dg, MIN(ln) AS ln FROM chunks GROUP BY dg)
    SELECT CAST((SELECT COUNT(*) FROM docs) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM chunks) AS BIGINT) AS n_chunks,
           CAST((SELECT COUNT(*) FROM uniq) AS BIGINT) AS n_unique_chunks,
           CAST((SELECT SUM(ln) FROM chunks) AS BIGINT) AS total_chars,
           CAST((SELECT SUM(ln) FROM uniq) AS BIGINT) AS unique_chars,
           CAST((1000000 * (SELECT SUM(ln) FROM uniq))
                // (SELECT SUM(ln) FROM chunks) AS BIGINT) AS stored_frac_e6
    """,
)
def cdc_chunk_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the LBFS/FastCDC storage-dedup
    family): every document splits at content-determined boundaries — a
    position ends a chunk iff the hash of the 8-char window ending there
    lands in a 1/256 target slice (md5 prefix '00'), giving ~256-char
    average chunks whose boundaries MOVE WITH the content, so an insert
    or deletion re-chunks only its neighborhood instead of shifting every
    fixed-size block (the property that makes rsync/borg/dedup stores
    work, and sub-document near-dup accounting possible in a corpus
    pipeline). The report is the chunk-store outcome: chunk counts,
    byte mass, unique-after-dedup mass, and the stored fraction.

    Exactness: the boundary predicate, chunk digests and lengths are all
    md5/integer; the one scaled readout is an integer floor division.

    Scale shape: the position explode is linear in corpus characters
    (the same cost class as shingling) and collapses immediately to the
    sparse boundary set (~chars/256 rows); span assembly is a per-doc
    window over those boundaries (frames = one doc's ~L/256 marks);
    chunk digests group-by on 32-byte keys — the engine's standard
    digest-shuffle discipline, never chunk bodies."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") >= 1))
        .select("doc_id", "text", F.length("text").alias("L"))
        .localCheckpoint()
    )
    pos = d.select(
        "doc_id",
        "text",
        F.explode(F.expr("sequence(8, L)")).alias("i"),
    )
    bnd = pos.filter(
        F.expr("substr(md5(substr(text, i - 7, 8)), 1, 2) = '00'")
    ).select("doc_id", F.col("i").cast("bigint").alias("e"))
    marks = bnd.unionByName(
        d.select("doc_id", F.col("L").cast("bigint").alias("e"))
    ).distinct()
    from pyspark.sql import Window as W

    spans = marks.select(
        "doc_id",
        (
            F.coalesce(
                F.lag("e").over(W.partitionBy("doc_id").orderBy("e")), F.lit(0)
            )
            + 1
        ).alias("s"),
        "e",
    )
    chunks = spans.join(d, "doc_id").select(
        F.expr("md5(substr(text, CAST(s AS INT), CAST(e - s + 1 AS INT)))").alias("dg"),
        (F.col("e") - F.col("s") + 1).alias("ln"),
    )
    uniq = chunks.groupBy("dg").agg(F.min("ln").alias("ln"))
    tot = chunks.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("ln").cast("bigint").alias("total_chars"),
    )
    un = uniq.agg(
        F.count("*").cast("bigint").alias("n_unique_chunks"),
        F.sum("ln").cast("bigint").alias("unique_chars"),
    )
    nd = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    return (
        nd.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(un))
        .select(
            "n_docs",
            "n_chunks",
            "n_unique_chunks",
            "total_chars",
            "unique_chars",
            F.expr("(1000000 * unique_chars) div total_chars")
            .cast("bigint")
            .alias("stored_frac_e6"),
        )
    )


def _cc_closure_parts() -> str:
    """The shared CTE prefix of every cluster readout: verified near-dup
    pairs -> symmetric edges -> transitive closure RUN TO CONVERGENCE
    (WITH RECURSIVE reachability; min reachable id = component label) ->
    comp(node, lbl) for every doc in at least one pair. The caller must
    open with "WITH RECURSIVE". This replaced the round-9 fixed-4-round
    hash-min unroll (ADVICE r9: a chain-shaped component longer than 4
    hops did not converge to one label, so members of one connected
    component could straddle train/test — the exact contamination
    `cluster_aware_split` exists to prevent). Both engines now compute
    the same fixpoint: DuckDB via the recursive CTE, Spark via pointer-
    jumping label propagation iterated to convergence
    (operators/clustering.py::connected_components — the
    dedup_cluster_resolution machinery)."""
    return f"""pairs AS (SELECT id_a, id_b FROM ({_NEAR_DUP_PAIRS_ORACLE})),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ),
    comp AS (SELECT id AS node, MIN(r) AS lbl FROM reach GROUP BY id)"""


def _cc_keepone_sql() -> str:
    """Keep-one ledger oracle: the converged closure, read out as one row
    per cluster (canonical = min member id)."""
    return (
        "WITH RECURSIVE " + _cc_closure_parts() + """
    SELECT lbl AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM comp GROUP BY lbl ORDER BY cluster_id
    """
    )


def _soft_dedup_sql() -> str:
    """SoftDeDup oracle: the same converged closure, read out as a
    PER-DOCUMENT sampling weight 1e6/cluster_size (docs in no near-dup
    cluster carry size 1 / full weight)."""
    return (
        "WITH RECURSIVE " + _cc_closure_parts() + """
    , sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n
                FROM comp GROUP BY lbl),
    mem AS (SELECT c.node, c.lbl, s.n
            FROM comp c JOIN sizes s USING (lbl))
    SELECT d.doc_id,
           COALESCE(m.lbl, d.doc_id) AS cluster_id,
           CAST(COALESCE(m.n, 1) AS BIGINT) AS cluster_size,
           CAST(1000000 // COALESCE(m.n, 1) AS BIGINT) AS weight_ppm
    FROM documents d LEFT JOIN mem m ON m.node = d.doc_id
    """
    )


@query("near_dup_cluster_keep_one", oracle=_cc_keepone_sql())
def near_dup_cluster_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup drop LEDGER — the per-cluster report a dedup job emits
    before rewriting the corpus: the verified MinHash pairs (the exact
    `near_dup_pairs_minhash` set) are closed transitively into clusters
    (label propagation run to CONVERGENCE — see `_closure_labels`), the
    minimum doc_id becomes the cluster's canonical (kept) document, and
    every other member is dropped. One row per cluster: canonical id,
    member count, drop count. Complements `dedup_cluster_resolution`
    (ranking_queries.py), which labels EVERY corpus document (component +
    is_canonical): that one feeds the corpus rewrite, this one is the
    clusters-only audit artifact.

    Scale: the iterative stage runs over the PAIR set, not the corpus —
    near-dup edges are a tiny fraction of documents (banding bounds
    candidate volume; see operators/dedup.py); pointer jumping makes the
    round count O(log diameter), each round two joins on small keys,
    localCheckpoint'd between rounds exactly like
    `label_propagation_seeded`. Docs in no pair are trivially kept and
    carry no ledger row."""
    d = load_table(spark, sf_dir, "documents")
    labels = _closure_labels(d)
    return (
        labels.groupBy(F.col("lbl").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            (F.count("*") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def _closure_labels(d: DataFrame) -> DataFrame:
    """The shared iterative stage of every cluster readout: verified
    MinHash pairs -> connected components run to CONVERGENCE (pointer-
    jumping label propagation, operators/clustering.py — O(log diameter)
    rounds, loud warning if the iteration cap is ever hit). Returns
    (node, lbl) for every doc that appears in at least one near-dup pair.

    Round-9 ADVICE replaced the fixed 4-round hash-min here: 4 plain
    propagation rounds only carry a label 4 hops, so a chain-shaped
    component A~B~C~... longer than 4 hops split into several labels —
    and `cluster_aware_split` then put one true cluster in two splits,
    the exact leakage its docstring promised to prevent. The converged
    closure makes the leakage-free guarantee hold for arbitrary component
    shapes (tests/test_dedup.py plants an 8-hop chain), and the oracles
    moved from the unrolled 4-step CTE to the same WITH RECURSIVE
    fixpoint `dedup_cluster_resolution` already used."""
    from ..operators.clustering import connected_components

    pairs = (
        near_dup_pairs(d, "doc_id", "text", threshold=0.5, num_hashes=8, bands=4)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    comp = connected_components(pairs)
    return comp.select(F.col("id").alias("node"), F.col("component").alias("lbl"))


@query(
    "near_dup_pairs_minhash_from_store",
    # the self-contained twin's oracle verbatim: the L4 layout caches the
    # deterministic banding, so candidate sets — and therefore verified
    # pair sets — are identical
    oracle=_NEAR_DUP_PAIRS_ORACLE,
)
def near_dup_pairs_minhash_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`near_dup_pairs_minhash` over the persisted L4 MinHash band table
    (stores.py:ensure_minhash_band_store). The shingle explode + per-band
    md5-min signature build (the measured cost center) ran at ingest; the
    query feeds the stored 3-column ``(doc_id, band, band_key)`` rows to
    the same band-layout read path the self-contained twin calls
    (operators/dedup.py::_minhash_pairs): (band, band_key) self-equi-join
    -> distinct candidates -> exact-Jaccard verify with the tokenize pruned
    to candidate documents. Same oracle as the self-contained twin."""
    from ..operators.dedup import _minhash_pairs
    from ..stores import ensure_minhash_band_store

    path = ensure_minhash_band_store(spark, sf_dir, num_hashes=8, bands=4)
    d = load_table(spark, sf_dir, "documents")
    return _minhash_pairs(read_parquet(spark, path), d, "doc_id", "text", 0.5)


@query(
    "minhash_decontamination",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id,
               list_transform(range(0, 8),
                   i -> list_aggregate(
                       list_transform({shingles_sql('text', 3)}, s -> md5(i || ':' || s)),
                       'min')) AS sig
        FROM documents
    ), banded AS (
        SELECT doc_id, b AS band,
               md5(array_to_string(list_slice(sig, b * 2 + 1, b * 2 + 2), '|')) AS band_key
        FROM sig, (SELECT unnest(range(0, 4)) AS b)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ), verified AS (
        SELECT id_a, id_b,
               ROUND(CASE WHEN len(list_distinct(list_concat(ta.toks, tb.toks))) > 0
                     THEN CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                          / len(list_distinct(list_concat(ta.toks, tb.toks)))
                     ELSE 0.0 END, 6) AS jaccard
        FROM cand
        JOIN (SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks
              FROM documents) ta ON ta.doc_id = id_a
        JOIN (SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks
              FROM documents) tb ON tb.doc_id = id_b
    )
    SELECT id_a AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_train_matches,
           MAX(jaccard) AS max_jaccard
    FROM verified WHERE jaccard >= 0.5
    GROUP BY id_a
    """,
)
def minhash_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination — the near-dup counterpart of the exact
    n-gram checks (`benchmark_contamination` / `decontaminated_corpus`):
    a benchmark document is contaminated if the TRAINING split contains a
    near-duplicate of it (token-set Jaccard >= 0.5 via MinHash-LSH), not
    just a verbatim n-gram overlap — the check that catches paraphrased /
    reformatted benchmark leakage (the reason Llama-class pipelines run
    fuzzy decontamination on top of exact matching). Same 10% benchmark
    split convention (doc_id % 10 = 0); one row per contaminated
    benchmark doc: how many training near-dups, and the worst (max)
    Jaccard.

    Plan shape: CROSS-SET banding (operators/dedup.py::cross_dup_pairs) —
    bench bands equi-join train bands on (band, band_key), so candidate
    volume is bench-side-bounded and no train x train pair is ever
    generated or verified (the waste the self-join near-dup pipeline
    would pay here). Scale: two banding passes over disjoint splits = one
    corpus pass; the train-side hot-bucket cap is available for
    boilerplate-heavy corpora (not needed at oracle scale, where the
    oracle mirrors exhaustive candidates)."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    from ..operators.dedup import cross_dup_pairs

    pairs = cross_dup_pairs(
        bench, train, "doc_id", "text", threshold=0.5, num_hashes=8, bands=4
    )
    return pairs.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_train_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )


@query("near_dup_sampling_weights", oracle=_soft_dedup_sql())
def near_dup_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup — duplicate-aware REWEIGHTING instead of removal (the
    modern alternative to `near_dup_cluster_keep_one`'s drop ledger, used
    when dropping near-dups costs coverage): every document gets a
    sampling weight 1e6/cluster_size from the same converged
    connected-components closure over the verified MinHash pair set
    (`_closure_labels`), so a trainer's sampler
    sees each near-dup CLUSTER with total weight ~1e6 regardless of how
    many copies exist, while unclustered documents keep full weight.
    One row per corpus document: (doc_id, cluster_id, cluster_size,
    weight_ppm) — the consumable artifact a data loader joins on.

    Scale: the iterative stage runs over the PAIR set (banding bounds
    candidate volume, see `near_dup_cluster_keep_one`); the only
    corpus-width step is the final LEFT JOIN of documents against the
    cluster membership. Membership size is DUP-RATE-DEPENDENT — one row
    per document appearing in ANY verified pair, i.e. a corpus fraction
    that reaches 30-60 % on a real web crawl — so the join carries no
    forced broadcast hint: AQE broadcasts when the measured size is
    small and shuffles instead of failing when it is not (VERDICT r8
    "What's wrong"; test_dedup.py pins that the membership row count
    tracks a planted dup rate). Exact integer weights (1e6 DIV size) so
    the oracle replays bit-identically."""
    d = load_table(spark, sf_dir, "documents")
    return _sampling_weights(d, _closure_membership(d))


def _closure_membership(d: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for every document in at least
    one verified near-dup pair: the converged closure (`_closure_labels`)
    with each cluster's size. ``ensure_neardup_cluster_store`` persists
    exactly this frame."""
    labels = _closure_labels(d)
    sizes = labels.groupBy("lbl").agg(F.count("*").cast("bigint").alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"), "cluster_size"
    )


def _sampling_weights(d: DataFrame, mem: DataFrame) -> DataFrame:
    """SoftDeDup readout of a cluster membership ``mem`` (doc_id,
    cluster_id, cluster_size): every document of ``d``, a document in no
    pair as its own cluster of one, weighted 1e6 DIV cluster size."""
    return (
        d.select("doc_id")
        .join(mem, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1))
            .cast("bigint")
            .alias("cluster_size"),
            F.expr(
                "CAST(1000000 DIV COALESCE(cluster_size, 1) AS BIGINT)"
            ).alias("weight_ppm"),
        )
    )


@query(
    "repeated_ngram_coverage",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, unnest({shingles_sql('text', 5)}) AS gram
        FROM documents
    ),
    dup AS (
        SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
        SELECT g.doc_id,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
        FROM g LEFT JOIN dup d USING (gram)
        GROUP BY g.doc_id
    ),
    per_source AS (
        SELECT doc.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(p.n_grams) AS BIGINT) AS n_grams,
               CAST(SUM(p.n_dup) AS BIGINT) AS n_dup_grams
        FROM per_doc p JOIN documents doc USING (doc_id)
        GROUP BY doc.source
    )
    SELECT source, n_docs, n_grams, n_dup_grams,
           (n_dup_grams * 1000000) // n_grams AS coverage_ppm
    FROM per_source
    """,
)
def repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ExactSubstr dedup *coverage* — the removal-volume signal
    (Lee et al. 2022): for every 5-token gram occurrence, is that gram
    shared with at least one other document? `repeated_passages` mines
    WHAT the shared passages are; this measures HOW MUCH of each source
    an ExactSubstr-style cut would remove (n_dup_grams / n_grams, as an
    exact parts-per-million integer) — the number a curation pipeline
    reads before deciding whether a source is boilerplate-heavy enough to
    need substring dedup at all. Documents shorter than 5 tokens have no
    grams and drop out of n_docs (identical both engines).

    Scale: one linear shingle explode (operators/dedup.py::shingle_rows,
    never the quadratic nested-lambda form); the dup-gram set is a
    two-phase countDistinct on the gram key, and the membership mark is
    an equi-join of the gram stream against that set on the same key —
    the canonical ExactSubstr shuffle, partial-aggregated map-side on
    both sides. Per-doc totals reduce before the source dimension join,
    so the source join is doc-keyed, not gram-keyed. The gram stream is
    exploded twice (dup-set build, membership mark) — both linear; a
    deployment materializes the gram table once at ingest (the L4
    fingerprint-table discipline) and both branches read it. At 100 TB
    the join key would be a 128-bit gram hash instead of the raw string
    (same discipline the line-level dedup pins); the raw-string key keeps
    the oracle twin byte-identical here."""
    from ..operators.dedup import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    grams = shingle_rows(d, "doc_id", "text", k=5).withColumnRenamed("shingle", "gram")
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("gram", F.lit(1).alias("__is_dup"))
    )
    per_doc = (
        grams.join(dup, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("__is_dup"), F.lit(0))).alias("n_dup"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("n_dup").cast("bigint").alias("n_dup_grams"),
        )
        .withColumn(
            "coverage_ppm", F.expr("(n_dup_grams * 1000000) div n_grams")
        )
    )


def _cluster_membership_sql() -> str:
    """The shared converged closure + per-document cluster readout, as a
    CTE prefix: every corpus document mapped to COALESCE(its component
    label, itself)."""
    return (
        "WITH RECURSIVE " + _cc_closure_parts() + """
    , doc_cluster AS (
        SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )"""
    )


@query(
    "cluster_aware_split",
    oracle=_cluster_membership_sql() + """
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(bucket) AS BIGINT) AS bucket_sum
    FROM (
        SELECT cluster_id,
               CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM doc_cluster
    )
    GROUP BY 1
    """,
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE train/val/test split: the md5-bucket split of
    `hash_split_assignment` keyed by the near-dup CLUSTER id instead of
    the document id, so a document and its near-duplicates can never land
    in different splits — the eval-contamination mode plain doc-keyed
    hashing cannot prevent (a paraphrase of a validation document sits in
    train and the held-out loss silently measures memorization). Same
    80/10/10 thresholds and bucket witness as the doc-keyed split; one
    row per split with doc count, CLUSTER count, and the bucket sum as a
    cross-engine same-bucket witness.

    Scale: the closure runs over the PAIR set (banding bounds candidate
    volume); the corpus-width steps are one membership left join (AQE
    picks the strategy — membership size is dup-rate-dependent, see
    `near_dup_sampling_weights`) and a 3-group aggregate. The split is
    stable under corpus appends: new docs never reshuffle old clusters'
    buckets (md5 of the cluster id, no RNG, no row position).

    The guarantee requires the closure to CONVERGE — the round-9 build's
    fixed 4-round hash-min only carried labels 4 hops, so a chain-shaped
    component A~B~C~... longer than that straddled splits (round-9
    ADVICE, medium). `_closure_labels` now runs pointer-jumping label
    propagation to the fixpoint, and tests/test_dedup.py pins the
    leakage invariant with BOTH clique-shaped and 8-hop-chain-shaped
    planted clusters: no cluster straddles two splits."""
    d = load_table(spark, sf_dir, "documents")
    mem = _closure_labels(d).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    return _cluster_split(d, mem)


def _cluster_split(d: DataFrame, mem: DataFrame) -> DataFrame:
    """The cluster-aware split readout of a membership ``mem`` (doc_id,
    cluster_id, ...): every document of ``d`` keyed by its cluster (a
    document in no pair by itself), md5-bucketed 80/10/10, one row per
    split."""
    from .pipeline_queries import hash_split_bucket

    bucketed = (
        d.select("doc_id")
        .join(mem.select("doc_id", "cluster_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
        .withColumn("bucket", hash_split_bucket(F.col("cluster_id")))
    )
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
    )
    return (
        bucketed.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum("bucket").cast("bigint").alias("bucket_sum"),
        )
    )


@query(
    "near_dup_keep_best_quality",
    oracle=(
        "WITH RECURSIVE " + _cc_closure_parts() + """
    , scored AS (
        SELECT c.node, c.lbl, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ), ranked AS (
        SELECT node, lbl, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lbl ORDER BY n_chars DESC, node ASC) AS rn
        FROM scored
    ), sizes AS (SELECT lbl, COUNT(*) AS n FROM scored GROUP BY lbl)
    SELECT r.lbl AS cluster_id,
           r.node AS kept_doc_id,
           CAST(r.n_chars AS BIGINT) AS kept_n_chars,
           CAST(s.n AS BIGINT) AS n_docs
    FROM ranked r JOIN sizes s USING (lbl)
    WHERE r.rn = 1
    """
    ),
)
def near_dup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalization — keep the BEST cluster
    member, not the first: `near_dup_cluster_keep_one` keeps min doc_id
    (the classic deterministic convention), but production curation keeps
    the highest-quality copy (CCNet/RefinedWeb keep the longest or
    best-scored variant, since near-dup copies differ by truncation and
    boilerplate). Canonical = argmax(n_chars, ties to min doc_id) within
    each converged near-dup cluster; one row per cluster: canonical id, its
    length, member count.

    Scale: identical closure cost profile to the keep-one ledger (the
    iterative stage runs over the PAIR set); the quality argmax is a
    row_number window PARTITIONED BY cluster label (never global) over
    the cluster-member frame, and the quality column rides the existing
    label join — no extra corpus pass."""
    d = load_table(spark, sf_dir, "documents")
    labels = _closure_labels(d)
    scored = labels.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = W.partitionBy("lbl").orderBy(F.desc("n_chars"), F.asc("node"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    sizes = scored.groupBy("lbl").agg(F.count("*").cast("bigint").alias("n_docs"))
    return (
        ranked.filter(F.col("rn") == 1)
        .join(sizes, "lbl")
        .select(
            F.col("lbl").alias("cluster_id"),
            F.col("node").alias("kept_doc_id"),
            F.col("n_chars").cast("bigint").alias("kept_n_chars"),
            "n_docs",
        )
    )


@query(
    "doc_containment_pairs",
    oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks
        FROM documents
    ), nz AS (SELECT *, len(toks) AS sz FROM t WHERE len(toks) > 0)
    SELECT a.doc_id AS id_sub, b.doc_id AS id_super,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / a.sz, 6) AS containment
    FROM nz a JOIN nz b ON a.doc_id <> b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / a.sz, 6) >= 0.8
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-CONTAINMENT pairs (|A∩B|/|A| >= 0.8, ordered) via the
    asymmetric prefix filter (operators/dedup.py::containment_prefix_
    pairs) — the dedup signal symmetric Jaccard structurally misses: a
    tweet quoted inside an article, a wire story inside a boilerplate
    wrapper, a doc fully contained in its own expansion (the keep-best
    fixture's shape) have containment ~1.0 but Jaccard ~|A|/|B|, so
    MinHash-LSH never pairs them. One row per ordered (contained,
    container) pair; near-identical docs legitimately emit both
    directions. The oracle is the brute-force all-ordered-pairs ground
    truth (feasible only at oracle scale), so a green row proves the
    probe-prefix/index-full pruning loses no pair — the same
    lossless-candidates bar as `set_similarity_prefix_pairs`."""
    from ..operators.dedup import containment_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    return containment_prefix_pairs(d, "doc_id", "text", threshold=0.8)


@query(
    "doc_containment_pairs_capped",
    # The oracle mirrors the capped candidate semantics EXACTLY (the cap
    # is lossy by design, so "brute force" is not the ground truth for
    # this config): df per token over all docs -> drop tokens with
    # df > 300 from the occurrence stream -> rarest-first prefix over the
    # surviving (cold) occurrences with prefix_len from the FULL doc size
    # -> token equi-join + length guard -> verify containment on the FULL
    # token sets. Window order (df ASC, tok ASC) and the 1e-6 ceil slack
    # match operators/dedup.py::containment_candidates line for line.
    oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks
        FROM documents
    ), nz AS (SELECT *, len(toks) AS sz FROM t WHERE len(toks) > 0),
    occ AS (SELECT doc_id, sz, unnest(toks) AS tok FROM nz),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM occ GROUP BY tok),
    cold AS (
        SELECT o.doc_id, o.sz, o.tok, d.df
        FROM occ o JOIN dfreq d USING (tok) WHERE d.df <= 300
    ),
    probe AS (
        SELECT doc_id AS id_sub, sz AS sza, tok FROM (
            SELECT doc_id, sz, tok,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY df ASC, tok ASC) AS pos
            FROM cold
        ) WHERE pos <= sz - CEIL((0.8 - 1e-6) * sz) + 1
    ),
    idx AS (SELECT doc_id AS id_super, sz AS szb, tok FROM cold),
    cand AS (
        SELECT DISTINCT id_sub, id_super
        FROM probe JOIN idx USING (tok)
        WHERE id_sub <> id_super AND szb >= CEIL((0.8 - 1e-6) * sza)
    )
    SELECT c.id_sub, c.id_super,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / a.sz, 6) AS containment
    FROM cand c
    JOIN nz a ON a.doc_id = c.id_sub
    JOIN nz b ON b.doc_id = c.id_super
    WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / a.sz, 6) >= 0.8
    """,
)
def doc_containment_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPPED production config of the containment join (round-9
    ADVICE: the lossless config's probe-prefix fan-out — sum of df(token)
    over prefix tokens — degrades toward quadratic on boilerplate-heavy
    corpora, and no registered query guarded the cap path): identical to
    `doc_containment_pairs` but with ``max_token_df=300``, which
    broadcast-anti-joins the (small by definition) HOT token list out of
    the occurrence stream before prefixing, bounding candidate fan-out by
    300 index rows per probe-prefix token. On the synthetic corpus the
    cap isolates the one rare token (df~25) from the 30 boilerplate
    tokens (df~390), so the candidate space collapses from every-pair to
    the rare-token co-occurrence block — exactly the discriminating
    behavior the cap buys at 100 TB. Lossy BY DESIGN (a pair whose every
    shared token is hot is never considered), so the oracle mirrors the
    capped semantics rather than brute force; the lossless twin keeps
    the brute-force oracle."""
    from ..operators.dedup import containment_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    return containment_prefix_pairs(
        d, "doc_id", "text", threshold=0.8, max_token_df=300
    )


@query(
    "doc_containment_pairs_from_store",
    # the self-contained twin's oracle verbatim: the L4 postings layout
    # caches the deterministic tokenize/explode/df/prefix stages, and the
    # pruning is lossless, so the verified pair set is identical
    oracle=_get_registered("doc_containment_pairs").oracle,
)
def doc_containment_pairs_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`doc_containment_pairs` over the persisted L4 containment postings
    (stores.py::ensure_containment_postings_store): the corpus-wide
    tokenize + explode + token-df aggregation + per-document prefix
    window — the ENTIRE pruning-preparation cost of the self-contained
    twin — ran at ingest; the query is one prefix x occ token equi-join,
    the length/identity candidate filters, and the array verify against
    the stored token table. This is the plan a curation deployment runs
    per sweep (the postings change only when the corpus does), the same
    ingest-vs-read split as the MinHash band store. Same brute-force
    oracle as the self-contained twin — the layout caches deterministic
    stages, so the pair set is bit-identical."""
    import os as _os

    from ..operators.dedup import (
        containment_candidates_from_rows,
        containment_verify,
    )
    from ..stores import ensure_containment_postings_store

    t = 0.8
    path = ensure_containment_postings_store(spark, sf_dir, threshold=t)
    toks = read_parquet(spark, _os.path.join(path, "toks"))
    occ = read_parquet(spark, _os.path.join(path, "occ"))
    prefix = read_parquet(spark, _os.path.join(path, "prefix"))
    cand = containment_candidates_from_rows(prefix, occ, "doc_id", t)
    return containment_verify(cand, toks, "doc_id", t)


@query(
    "exact_substr_cut_spans",
    oracle=f"""
    WITH tk AS MATERIALIZED (
        SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n_tok
        FROM (SELECT doc_id, source, {tokenize_sql('text')} AS toks
              FROM documents)
        WHERE len(toks) >= 5
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS p,
               array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
        FROM tk, unnest(range(0, len(toks) - 4)) t(i)
    ),
    dup AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    occ AS (SELECT g.doc_id, g.p FROM grams g JOIN dup USING (gram)),
    runs AS (
        SELECT doc_id, p,
               CASE WHEN MAX(p + 4) OVER (
                        PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                    OR p > MAX(p + 4) OVER (
                        PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_run
        FROM occ
    ),
    rid AS (
        SELECT doc_id, p,
               SUM(new_run) OVER (
                   PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        FROM runs
    ),
    spans AS (
        SELECT doc_id, run_id,
               CAST(MAX(p + 4) - MIN(p) + 1 AS BIGINT) AS covered
        FROM rid GROUP BY doc_id, run_id
    ),
    per_doc AS (
        SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS covered
        FROM spans GROUP BY doc_id
    )
    SELECT tk.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tk.n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(COALESCE(pd.covered, 0)) AS BIGINT) AS tokens_covered,
           CAST(SUM(COALESCE(pd.covered, 0)) * 1000000 // SUM(tk.n_tok)
                AS BIGINT) AS cut_ppm
    FROM tk LEFT JOIN per_doc pd USING (doc_id)
    GROUP BY tk.source
    """,
)
def exact_substr_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr CUT VOLUME at span granularity (Lee et al. 2022's
    actual removal step, one level deeper than `repeated_ngram_coverage`
    which counts gram OCCURRENCES): for every document, the duplicated
    5-gram occurrences define token intervals [p, p+4]; overlapping
    intervals merge into maximal spans (the text an ExactSubstr pass
    would cut), and the per-source rollup reports exactly how many
    tokens the cut removes (exact ppm). Occurrence counting double-counts
    overlapping grams — span coverage is the number the storage/quality
    trade is actually made on.

    Scale: one positional gram explode (linear); the dup-gram set and
    membership mark are the same two gram-keyed shuffles as the coverage
    query; the interval union is the classic cummax-run-id merge — MAX
    OVER (PARTITION BY doc ... 1 PRECEDING) then a running SUM of
    run-starts, both windows PARTITIONED BY document (a document's own
    gram count bounds every window). No pair materialization anywhere —
    this measures the cut, it never enumerates the duplicate pairs."""
    from ..functions.text import tokenize

    d = load_table(spark, sf_dir, "documents")
    tk = (
        d.select("doc_id", "source", tokenize("text").alias("__t"))
        .withColumn("n_tok", F.size("__t").cast("bigint"))
        .filter(F.col("n_tok") >= 5)
    )
    grams = tk.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(__t) - 5),"
                " i -> concat_ws(' ', slice(__t, i + 1, 5)))"
            )
        ).alias("p", "gram"),
    ).select("doc_id", F.col("p").cast("bigint").alias("p"), "gram")
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("gram")
    )
    occ = grams.join(dup, "gram").select("doc_id", "p")
    w_prev = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    runs = occ.withColumn(
        "new_run",
        F.when(
            F.max(F.col("p") + 4).over(w_prev).isNull()
            | (F.col("p") > F.max(F.col("p") + 4).over(w_prev)),
            1,
        ).otherwise(0),
    )
    w_run = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    rid = runs.withColumn("run_id", F.sum("new_run").over(w_run))
    spans = rid.groupBy("doc_id", "run_id").agg(
        (F.max(F.col("p") + 4) - F.min("p") + 1).cast("bigint").alias("covered")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("covered").cast("bigint").alias("covered")
    )
    return (
        tk.select("doc_id", "source", "n_tok")
        .join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens_total"),
            F.sum(F.coalesce("covered", F.lit(0)))
            .cast("bigint")
            .alias("tokens_covered"),
            F.expr(
                "CAST(SUM(COALESCE(covered, 0)) * 1000000"
                " div SUM(n_tok) AS BIGINT)"
            ).alias("cut_ppm"),
        )
    )


@query(
    "near_dup_sampling_weights_from_store",
    # the self-contained twin's oracle verbatim: the L4 cluster store
    # caches the deterministic banding + verify + closure, so membership
    # — and therefore every weight — is identical
    oracle=_soft_dedup_sql(),
)
def near_dup_sampling_weights_from_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`near_dup_sampling_weights` over the persisted L4 cluster
    membership (stores.py::ensure_neardup_cluster_store): the banding,
    exact-Jaccard verify and converged components closure — the ENTIRE cost
    of the self-contained twin — ran at ingest; the query is one left
    join of corpus doc_ids against 3-column membership rows plus the
    exact integer weight arithmetic. This is the plan a data loader
    actually runs per training job (weights are re-read far more often
    than clusters change), and the same store serves the keep-one /
    keep-best ledgers and the cluster-aware split. No banding survives
    in this plan — test_stores.py asserts it md5-free. Same oracle as
    the self-contained twin, which stays in bench as the closure
    ingest-cost regression guard."""
    from ..stores import ensure_neardup_cluster_store

    path = ensure_neardup_cluster_store(spark, sf_dir)
    mem = read_parquet(spark, path)
    return _sampling_weights(load_table(spark, sf_dir, "documents"), mem)


@query(
    "cluster_aware_split_from_store",
    # the self-contained twin's oracle verbatim (store caches the closure)
    oracle=_get_registered("cluster_aware_split").oracle,
)
def cluster_aware_split_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cluster_aware_split` over the persisted L4 cluster membership —
    the split assignment a training pipeline recomputes on every corpus
    refresh (and every consumer re-reads), now a membership join + md5
    bucket + 3-group aggregate with the closure cost paid once at ingest.
    The md5 in THIS plan is the split hash (one per document), never the
    shingle signature family. Same oracle as the self-contained twin."""
    from ..stores import ensure_neardup_cluster_store

    path = ensure_neardup_cluster_store(spark, sf_dir)
    mem = read_parquet(spark, path)
    return _cluster_split(load_table(spark, sf_dir, "documents"), mem)


@query(
    "containment_dedup_ledger",
    oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks
        FROM documents
    ), nz AS (SELECT *, len(toks) AS sz FROM t WHERE len(toks) > 0),
    pairs AS (
        SELECT a.doc_id AS id_sub, b.doc_id AS id_super, b.sz AS super_sz,
               ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / a.sz, 6) AS containment
        FROM nz a JOIN nz b
          ON a.doc_id <> b.doc_id AND a.sz < b.sz
        WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                    / a.sz, 6) >= 0.95
    )
    SELECT id_sub AS dropped_doc_id, id_super AS kept_super_id, containment
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id_sub
            ORDER BY containment DESC, super_sz DESC, id_super ASC) AS rn
        FROM pairs
    ) WHERE rn = 1
    """,
)
def containment_dedup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTAINMENT drop ledger — the curation step built on the
    asymmetric join: a document whose token set is >= 95 % contained in a
    STRICTLY LONGER document is a subset copy (syndicated reprint, quoted
    excerpt, truncated mirror) and gets dropped in favor of its best
    container. One row per dropped document: the kept superset (argmax
    containment, ties to the larger then lower-id container — fully
    deterministic) and the containment that justified the drop. The
    strict `|A| < |B|` guard keeps near-identical EQUAL-Length twins out
    of this ledger — those belong to the symmetric near-dup keep-one /
    keep-best ledgers, not the subset cut.

    Scale: candidate generation is the lossless probe-prefix/index-full
    containment join — the OPERATOR itself (operators/dedup.py::
    containment_prefix_pairs, strict_subset + emit_sizes configuration;
    round-9 ADVICE: the ~50-line inline copy could silently drift from
    the operator's pruning lemma, so the ledger now composes it); the
    argmax is a window PARTITIONED BY the dropped doc. The oracle is the
    brute-force ordered-pairs ground truth, so a green row proves the
    pruning loses no drop decision."""
    from ..operators.dedup import containment_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = containment_prefix_pairs(
        d, "doc_id", "text", threshold=0.95, strict_subset=True, emit_sizes=True
    )
    w_best = W.partitionBy("id_sub").orderBy(
        F.desc("containment"), F.desc("sz_super"), F.asc("id_super")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_sub").alias("dropped_doc_id"),
            F.col("id_super").alias("kept_super_id"),
            "containment",
        )
    )


def _scurve_p_e6(j: str, b: int, r: int) -> str:
    """The banded-MinHash detection probability 1 - (1 - j^r)^b as an
    engine-portable expression over a double column ``j``, e6-truncated.

    Powers are written as LITERAL left-associated multiplication chains,
    not pow(): both engines then execute the identical IEEE-double
    operation sequence, so the truncated integers agree bit-for-bit
    (library pow() implementations may differ in the last ulp)."""
    jr = " * ".join([j] * r)
    q = f"(1.0 - ({jr}))"
    qb = " * ".join([q] * b)
    return f"(1.0 - ({qb})) * 1000000"


_LSH_GRID = [(16, 1), (8, 2), (4, 4), (2, 8)]


def _band_planner_oracle() -> str:
    per_grid = ",\n".join(
        f"CAST(SUM(CASE WHEN j >= 0.5 THEN CAST(trunc({_scurve_p_e6('j', b, r)}) AS BIGINT) ELSE 0 END) AS BIGINT) AS det_{b}_{r},\n"
        f"CAST(SUM(CASE WHEN j < 0.5 THEN CAST(trunc({_scurve_p_e6('j', b, r)}) AS BIGINT) ELSE 0 END) AS BIGINT) AS fc_{b}_{r}"
        for b, r in _LSH_GRID
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT {b} AS bands, {r} AS rows_per_band, n_target_pairs,"
        f" det_{b}_{r} AS exp_detected_e6, n_background_pairs,"
        f" fc_{b}_{r} AS exp_false_cand_e6 FROM agg"
        for b, r in _LSH_GRID
    )
    return f"""
    WITH t AS (
        SELECT doc_id, list_distinct({tokenize_sql('text')}) AS toks FROM documents
    ), pairs AS (
        SELECT CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) > 0
               THEN CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.toks, b.toks)))
               ELSE 0.0 END AS j
        FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
    ), agg AS (
        SELECT CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_target_pairs,
               CAST(SUM(CASE WHEN j < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_background_pairs,
               {per_grid}
        FROM pairs
    )
    {unions}
    """


@query("lsh_band_planner", oracle=_band_planner_oracle())
def lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH (bands, rows) parameter planner — the design table an
    ingest owner reads BEFORE committing a 100 TB banding layout: for
    each (b, r) with b*r = 16 signature slots, the expected number of
    >= 0.5-Jaccard pairs the banding would surface (recall mass) and the
    expected candidate mass from sub-threshold pairs (verify-stage cost),
    evaluated with the exact S-curve p = 1 - (1 - j^r)^b against the
    corpus's OWN observed pair-similarity distribution (the deterministic
    adjacent-id pair sample) rather than a guessed one. Moving along the
    grid trades recall for candidate volume: r up = sharper knee = fewer
    false candidates, weaker sub-threshold recall.

    Exactness: powers are literal multiplication chains (never pow()),
    per-pair probabilities e6-truncate BEFORE summation — both engines
    walk identical IEEE doubles, the aggregates are exact int64.

    Scale: one tokenize + one adjacent-id self-join (linear pair sample),
    ONE aggregation computing all grid cells as parallel sum columns over
    a single pass, then a 4-row unpivot of the 1-row aggregate — the
    corpus is never rescanned per grid point."""
    from ..functions.text import tokenize
    from ..operators.dedup import jaccard_arrays

    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokenize("text"))
    a = d.select(F.col("doc_id").alias("id_a"), toks.alias("ta"))
    b_ = d.select(F.col("doc_id").alias("id_b"), toks.alias("tb"))
    pairs = a.join(b_, F.col("id_b") == F.col("id_a") + 1).select(
        jaccard_arrays(F.col("ta"), F.col("tb")).alias("j")
    )
    aggs = [
        F.sum(F.when(F.col("j") >= 0.5, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_target_pairs"),
        F.sum(F.when(F.col("j") < 0.5, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_background_pairs"),
    ]
    for b, r in _LSH_GRID:
        p_e6 = _scurve_p_e6("j", b, r)
        aggs.append(
            F.sum(
                F.when(F.col("j") >= 0.5, F.expr(f"CAST({p_e6} AS BIGINT)")).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias(f"det_{b}_{r}")
        )
        aggs.append(
            F.sum(
                F.when(F.col("j") < 0.5, F.expr(f"CAST({p_e6} AS BIGINT)")).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias(f"fc_{b}_{r}")
        )
    agg = pairs.agg(*aggs)
    stack = ", ".join(
        f"{b}, {r}, det_{b}_{r}, fc_{b}_{r}" for b, r in _LSH_GRID
    )
    return agg.select(
        F.expr(
            f"stack({len(_LSH_GRID)}, {stack}) AS "
            "(bands, rows_per_band, exp_detected_e6, exp_false_cand_e6)"
        ),
        "n_target_pairs",
        "n_background_pairs",
    ).select(
        "bands",
        "rows_per_band",
        "n_target_pairs",
        "exp_detected_e6",
        "n_background_pairs",
        "exp_false_cand_e6",
    )
