"""Text-analysis pipeline queries over `documents`: language ID, quality
scoring, token counting, fingerprinting (SURVEY.md §2.4 north-star ops).
All JVM-side expressions with exact DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.text import (
    tokenize,
    tokenize_sql,
    winnowing_fingerprints_sql,
)

_winnow_sql = winnowing_fingerprints_sql("text")
from ..functions.text import shingles_sql

shingles_sql2 = shingles_sql("text", 2)
from ..operators.dedup import text_digest
from ..operators.ranking import scalable_ntile
from ..tables import load_table, read_parquet
from .registry import query

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "de": ["der", "die", "und", "das", "ein", "ist"],
    "es": ["el", "la", "de", "y", "los", "que"],
}


def _overlap(tokens, words: list[str]):
    return F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words])))


@query(
    "lang_id_heuristic",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_intersect({tokenize_sql('text')}, ['the','a','of','and','to','in']))  AS en_score,
               len(list_intersect({tokenize_sql('text')}, ['le','la','et','les','des','un'])) AS fr_score,
               len(list_intersect({tokenize_sql('text')}, ['der','die','und','das','ein','ist'])) AS de_score,
               len(list_intersect({tokenize_sql('text')}, ['el','la','de','y','los','que']))  AS es_score
        FROM documents
    )
    SELECT doc_id, lang, en_score, fr_score, de_score, es_score,
           CASE WHEN greatest(en_score, fr_score, de_score, es_score) = 0 THEN 'unk'
                WHEN en_score >= greatest(fr_score, de_score, es_score) THEN 'en'
                WHEN fr_score >= greatest(de_score, es_score) THEN 'fr'
                WHEN de_score >= es_score THEN 'de'
                ELSE 'es' END AS lang_guess
    FROM scored
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID: per-language score = |tokens ∩
    stopwords|, argmax with a fixed priority tie-break, 'unk' when nothing
    matches. (A real model would use char n-gram profiles; the plumbing —
    tokenize, score, argmax — is identical.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    scores = {lg: _overlap(toks, ws) for lg, ws in _STOPWORDS.items()}
    d = d.select(
        "doc_id",
        "lang",
        scores["en"].alias("en_score"),
        scores["fr"].alias("fr_score"),
        scores["de"].alias("de_score"),
        scores["es"].alias("es_score"),
    )
    guess = (
        F.when(F.greatest("en_score", "fr_score", "de_score", "es_score") == 0, "unk")
        .when(F.col("en_score") >= F.greatest("fr_score", "de_score", "es_score"), "en")
        .when(F.col("fr_score") >= F.greatest("de_score", "es_score"), "fr")
        .when(F.col("de_score") >= F.col("es_score"), "de")
        .otherwise("es")
    )
    return d.withColumn("lang_guess", guess)


@query(
    "quality_scores",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, length(text) AS n_chars, {tokenize_sql('text')} AS toks FROM documents
    )
    SELECT doc_id, n_chars, len(toks) AS n_tokens,
           ROUND(CASE WHEN len(toks) > 0
                 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                 END, 6) AS mean_token_len,
           ROUND(CASE WHEN len(toks) > 0
                 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6)
                 AS distinct_ratio
    FROM t
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: char/token counts, mean token length,
    distinct-token ratio (repetition detector)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    d = d.select("doc_id", F.length("text").alias("n_chars"), toks.alias("toks"))
    n_tokens = F.size("toks")
    total_len = F.aggregate("toks", F.lit(0), lambda a, t: a + F.length(t))
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        F.round(
            F.when(n_tokens > 0, total_len.cast("double") / n_tokens), 6
        ).alias("mean_token_len"),
        F.round(
            F.when(n_tokens > 0, F.size(F.array_distinct("toks")).cast("double") / n_tokens), 6
        ).alias("distinct_ratio"),
    )


@query(
    "token_counts_by_source",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len({tokenize_sql('text')})) AS BIGINT) AS total_tokens,
           MAX(len({tokenize_sql('text')})) AS max_tokens
    FROM documents GROUP BY source
    """,
)
def token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source (budgeting for training data)."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(tokenize("text"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(n).alias("total_tokens"),
        F.max(n).alias("max_tokens"),
    )


@query(
    "source_mixture_weights",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len({tokenize_sql('text')})) AS BIGINT) AS total_tokens
        FROM documents GROUP BY source
    ), weighted AS (
        SELECT source, n_docs, total_tokens,
               CAST(trunc(sqrt(CAST(total_tokens AS DOUBLE)) * 1e6) AS BIGINT)
                   AS w_e6
        FROM per_source
    ), tot AS (
        SELECT CAST(SUM(total_tokens) AS BIGINT) AS tok_total,
               CAST(SUM(w_e6) AS BIGINT) AS w_total
        FROM weighted
    )
    SELECT source, n_docs, total_tokens,
           ROUND(CAST(total_tokens AS DOUBLE) / tot.tok_total, 6) AS token_share,
           ROUND(CAST(w_e6 AS DOUBLE) / tot.w_total, 6) AS mix_weight
    FROM weighted CROSS JOIN tot
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights per corpus source: the temperature-scaled
    multinomial sampling step of multi-source LLM training (alpha = 0.5,
    i.e. weight proportional to sqrt(token count) — the standard smoothing
    that up-samples small sources without letting any source dominate;
    cf. multilingual-model sampling, Conneau et al. 2020 sec. 3).

    Determinism: alpha = 0.5 keeps the power inside IEEE-exact sqrt (unlike
    pow(x, 0.3), sqrt is correctly rounded in both engines), and each
    weight is truncated to an int64 (trunc(sqrt*1e6)) BEFORE normalizing so
    the denominator is an exact integer sum — order-free, unlike a double
    sum (the same discipline as the logprob scorers). The final division of
    two exact numbers is a single correctly-rounded double op.

    Scale: one partial+final agg over the corpus scan, then a broadcast of
    the one-row totals — no shuffle after the per-source agg."""
    per_source = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokenize("text"))).alias("total_tokens"),
    )
    weighted = per_source.withColumn(
        "w_e6",
        (F.floor(F.sqrt(F.col("total_tokens").cast("double")) * 1e6)).cast("bigint"),
    )
    tot = weighted.agg(
        F.sum("total_tokens").alias("tok_total"), F.sum("w_e6").alias("w_total")
    )
    return weighted.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens").cast("double") / F.col("tok_total"), 6).alias(
            "token_share"
        ),
        F.round(F.col("w_e6").cast("double") / F.col("w_total"), 6).alias(
            "mix_weight"
        ),
    )


@query(
    "corpus_profile",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) - COUNT(text) AS null_texts,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
           CAST(SUM(len({tokenize_sql('text')})) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (counts, null audit, char/token budgets,
    source diversity) — the first query any training-data pipeline runs."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.count("*") - F.count("text")).alias("null_texts"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("mean_chars"),
        F.sum(F.size(tokenize("text"))).alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "quality_filter_pipeline",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, length(text) AS n_chars, {tokenize_sql('text')} AS toks
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, n_chars, len(toks) AS n_tokens,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS distinct_ratio
        FROM t
    )
    SELECT doc_id, lang, n_chars, n_tokens, ROUND(distinct_ratio, 6) AS distinct_ratio,
           (n_tokens >= 20 AND n_chars >= 100 AND distinct_ratio >= 0.3) AS keep
    FROM scored
    WHERE n_tokens >= 20 AND n_chars >= 100 AND distinct_ratio >= 0.3
    """,
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end quality gate: compute signals, apply keep/drop policy
    (min length, min tokens, repetition bound) — the standard pre-training
    corpus filter, all in one codegen'd pass over the scan."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    scored = d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.when(
            F.size(toks) > 0,
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
        )
        .otherwise(0.0)
        .alias("distinct_ratio"),
    )
    keep = (
        (F.col("n_tokens") >= 20)
        & (F.col("n_chars") >= 100)
        & (F.col("distinct_ratio") >= 0.3)
    )
    return (
        scored.withColumn("distinct_ratio", F.round("distinct_ratio", 6))
        .withColumn("keep", keep)
        .filter(keep)
    )


@query(
    "repetition_signals",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, {tokenize_sql('text')} AS toks
        FROM documents WHERE text IS NOT NULL
    ), lines AS (
        SELECT doc_id, line FROM (
            SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line
            FROM base
        ) raw WHERE line <> ''
    ), line_groups AS (
        SELECT doc_id, md5(line) AS lk, COUNT(*) AS cnt,
               MAX(length(line)) AS line_chars
        FROM lines GROUP BY doc_id, md5(line)
    ), line_stats AS (
        SELECT doc_id,
               CAST(SUM(cnt * line_chars) AS BIGINT) AS total_line_chars,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt * line_chars ELSE 0 END)
                    AS BIGINT) AS dup_line_chars
        FROM line_groups GROUP BY doc_id
    ), bigrams AS (
        SELECT doc_id, bg, COUNT(*) AS cnt FROM (
            SELECT doc_id, unnest({shingles_sql('text', 2)}) AS bg FROM base
        ) g GROUP BY doc_id, bg
    ), top_bigram AS (
        SELECT doc_id, bg, cnt FROM (
            SELECT doc_id, bg, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, bg ASC) AS rn
            FROM bigrams
        ) r WHERE rn = 1
    ), tok_chars AS (
        SELECT doc_id,
               COALESCE(CAST(list_sum(list_transform(toks, t -> length(t)))
                             AS BIGINT), 0) AS token_chars
        FROM base
    )
    SELECT b.doc_id,
           ROUND(CASE WHEN COALESCE(ls.total_line_chars, 0) > 0
                      THEN CAST(ls.dup_line_chars AS DOUBLE) / ls.total_line_chars
                      ELSE 0.0 END, 6) AS dup_line_char_frac,
           tb.bg AS top_bigram,
           CAST(COALESCE(tb.cnt, 0) AS BIGINT) AS top_bigram_count,
           ROUND(CASE WHEN tc.token_chars > 0 AND tb.cnt IS NOT NULL
                      THEN LEAST(1.0, CAST(tb.cnt * (length(tb.bg) - 1) AS DOUBLE)
                                      / tc.token_chars)
                      ELSE 0.0 END, 6) AS top_bigram_char_frac,
           (ROUND(CASE WHEN COALESCE(ls.total_line_chars, 0) > 0
                       THEN CAST(ls.dup_line_chars AS DOUBLE) / ls.total_line_chars
                       ELSE 0.0 END, 6) <= 0.2
            AND
            ROUND(CASE WHEN tc.token_chars > 0 AND tb.cnt IS NOT NULL
                       THEN LEAST(1.0, CAST(tb.cnt * (length(tb.bg) - 1) AS DOUBLE)
                                       / tc.token_chars)
                       ELSE 0.0 END, 6) <= 0.18) AS keep
    FROM base b
    LEFT JOIN line_stats ls USING (doc_id)
    LEFT JOIN top_bigram tb USING (doc_id)
    LEFT JOIN tok_chars tc USING (doc_id)
    """,
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021, "Scaling
    Language Models", Table A1): per document, (a) the fraction of
    characters in non-empty lines that belong to a line occurring more than
    once within the document, and (b) the fraction of token characters
    covered by the single most frequent word bigram (count x bigram chars,
    capped at 1.0; ties broken lexicographically). ``keep`` applies the
    published thresholds (dup-line char frac <= 0.2, top-2-gram char frac
    <= 0.18) on the rounded signals so both engines gate identically.

    These catch the repetition modes ``distinct_ratio`` (quality_scores)
    misses: boilerplate lines repeated verbatim (headers, nav, licence
    blocks) and degenerate n-gram loops with a diverse unigram vocabulary.

    Scale: both signals are per-document aggregations — line dedup shuffles
    (doc_id, md5(line)) 32-byte keys (never line bodies), the bigram stage
    reuses shingle_rows' linear explode (the O(tokens^2) nested-lambda trap
    documented there), and the top-bigram window partitions per doc_id so
    no global ordering exists anywhere. The two aggregated signal tables
    re-join the doc base on doc_id (narrow post-agg rows, AQE-coalesced);
    token_chars stays an inline projection on the base — never a
    same-cardinality join."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    lines = (
        base.select("doc_id", F.explode(F.split("text", "\n")).alias("__raw"))
        .select("doc_id", F.trim(F.col("__raw")).alias("line"))
        .filter(F.col("line") != "")
    )
    line_groups = lines.groupBy("doc_id", F.md5(F.col("line")).alias("lk")).agg(
        F.count("*").alias("cnt"), F.max(F.length("line")).alias("line_chars")
    )
    line_stats = line_groups.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("line_chars")).alias("total_line_chars"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.col("line_chars")).otherwise(
                F.lit(0)
            )
        ).alias("dup_line_chars"),
    )
    from ..operators.dedup import shingle_rows_spread

    bigrams = (
        shingle_rows_spread(base, "doc_id", "text", k=2)
        .groupBy("doc_id", F.col("shingle").alias("bg"))
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("bg").asc())
    top_bigram = (
        bigrams.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "bg", "cnt")
    )
    # token_chars is a per-row projection, not an aggregation — compute it
    # inline on the doc base instead of joining a same-cardinality frame
    # back on doc_id (which would be a full-width shuffle join for nothing)
    doc_base = base.select(
        "doc_id",
        F.coalesce(
            F.aggregate(
                tokenize("text"),
                F.lit(0).cast("bigint"),
                lambda a, t: a + F.length(t),
            ),
            F.lit(0).cast("bigint"),
        ).alias("token_chars"),
    )
    dup_frac = F.round(
        F.when(
            F.coalesce(F.col("total_line_chars"), F.lit(0)) > 0,
            F.col("dup_line_chars").cast("double") / F.col("total_line_chars"),
        ).otherwise(0.0),
        6,
    )
    top_frac = F.round(
        F.when(
            (F.col("token_chars") > 0) & F.col("cnt").isNotNull(),
            F.least(
                F.lit(1.0),
                (F.col("cnt") * (F.length("bg") - 1)).cast("double")
                / F.col("token_chars"),
            ),
        ).otherwise(0.0),
        6,
    )
    return (
        doc_base.join(line_stats, "doc_id", "left")
        .join(top_bigram, "doc_id", "left")
        .select(
            "doc_id",
            dup_frac.alias("dup_line_char_frac"),
            F.col("bg").alias("top_bigram"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("top_bigram_count"),
            top_frac.alias("top_bigram_char_frac"),
            ((dup_frac <= 0.2) & (top_frac <= 0.18)).alias("keep"),
        )
    )


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical content fingerprint (md5 of normalized text) — the exact-
    dedup key and the stable doc identity for incremental ingest."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", text_digest("text").alias("fingerprint"))


@query(
    "unigram_logprob_scores",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, unnest({tokenize_sql('text')}) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM occ GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq)
    SELECT occ.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CAST(trunc(ln(CAST(freq.cnt AS DOUBLE) / tot.total) * 1e6)
                          AS BIGINT)) AS BIGINT) AS logprob_e6
    FROM occ JOIN freq USING (token) CROSS JOIN tot
    GROUP BY occ.doc_id
    """,
)
def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-probability fluency score per document (KenLM-lite): the
    corpus itself is the language model — P(t) = count(t)/total — and a
    document's score is the sum of ln P(t) over its token occurrences.
    Low (very negative) per-token means flag rare/garbled text; the
    standard model-based corpus-quality signal next to the rule-based
    quality_filter_pipeline.

    Determinism: per-token ln P is trunc-scaled to e6 and summed as BIGINT
    (double sums over hundreds of terms are association-sensitive across
    engines; integer sums are exact). Spark's double->bigint cast truncates
    toward zero == DuckDB trunc(). One assumption is weaker than the
    pure-integer exactness elsewhere (round-3 advice): JVM Math.log and
    DuckDB's libm ln are not GUARANTEED bit-identical — a last-ulp
    difference landing exactly on an integer boundary of ln*1e6 would flip
    the truncated value. Both engines in this container delegate to the
    same correctly-rounded-for-these-inputs double ln (every parity run
    has matched), but the discipline here is "shared-libm", not
    "integer-exact".

    Scale: the token explode is corpus-wide — this op runs at ingest next
    to index construction, not per query. The frequency join shuffles on
    the token (both sides arrive hash-partitioned from the count agg;
    shuffle_hash avoids broadcasting a vocab-sized table on local size
    estimates), and the doc re-agg shuffles narrow (doc_id, bigint) rows.
    """
    d = load_table(spark, sf_dir, "documents")
    occ = d.select("doc_id", F.explode(tokenize("text")).alias("token"))
    freq = occ.groupBy("token").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("bigint").alias("total"))
    li = (
        F.log(F.col("cnt").cast("double") / F.col("total")) * 1e6
    ).cast("bigint")
    return (
        occ.join(freq.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(li).cast("bigint").alias("logprob_e6"),
        )
    )


@query(
    "winnowing_doc_fingerprints",
    oracle=f"""
    SELECT doc_id, unnest({_winnow_sql}) AS fp
    FROM documents
    """,
)
def winnowing_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS rolling-hash selection: k-gram hashes,
    per-window minima) exploded to (doc_id, fp) rows — the position-robust
    document fingerprint for overlap/plagiarism/contamination detection; a
    shared token run of length >= w+k-1 guarantees a shared fp.

    Scale: fingerprints are ~1/w of the gram count; the rows form
    (winnowing_fingerprint_rows) evaluates tokenize/grams exactly once per
    document via posexplode + lead + frame-min — the single-expression
    array form inlines the gram array into every window lambda and goes
    quadratic in document length (SCALE.md round 3). Overlap detection
    downstream is an equi-join on the 15-char fp key, the same shape as
    LSH banding."""
    from ..functions.text import winnowing_fingerprint_rows

    d = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprint_rows(d, "doc_id", "text")


@query(
    "doc_overlap_winnowing",
    oracle=f"""
    WITH fps AS (
        SELECT doc_id, unnest({_winnow_sql}) AS fp FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
    """,
)
def doc_overlap_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-overlap detection on winnowing fingerprints: pairs sharing
    >= 3 selected hashes (each shared fp witnesses a shared token run of
    ~w+k-1 tokens — substantial textual overlap, robust to position).

    Scale: the same bucketed-equi-join shape as LSH banding — a self-join
    on the 15-char fp key over a fingerprint table that is ~1/w of the
    gram count; never an all-pairs comparison. Hot keys (boilerplate
    runs) take the same cap/salt mitigations as LSH band buckets. The
    fingerprint table comes from the linear rows form and is checkpointed
    so the self-join's two sides read it once (763 s -> 5.5 s at sf0.1 —
    SCALE.md round 3)."""
    from ..functions.text import winnowing_fingerprint_rows

    d = load_table(spark, sf_dir, "documents")
    fps = winnowing_fingerprint_rows(d, "doc_id", "text").localCheckpoint()
    return _shared_fp_pairs(fps)


def _shared_fp_pairs(fps: DataFrame) -> DataFrame:
    """Document pairs (id_a < id_b) sharing >= 3 fingerprints of the
    ``(doc_id, fp)`` rows ``fps``: the fp-keyed self-equi-join both
    winnowing twins end in."""
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


from .registry import get as _get_reg


@query(
    "doc_overlap_winnowing_from_store",
    # the self-contained twin's oracle verbatim: the layout caches the
    # deterministic fingerprint selection, so pair sets are identical
    oracle=_get_reg("doc_overlap_winnowing").oracle,
)
def doc_overlap_winnowing_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`doc_overlap_winnowing` over the persisted L4 winnowing table
    (stores.py:ensure_winnowing_store) — with this twin every member of
    DEPLOY.md's L4 fingerprint family (SimHash, MinHash bands, winnowing)
    has a measured store read path: the fingerprint SELECTION (the
    posexplode + lead + frame-min pass over every document) ran at
    ingest, and the query is only the fp-keyed self-equi-join + the
    shared-count floor. No localCheckpoint needed — parquet is the pin.
    Same oracle as the self-contained twin (the ingest-cost guard)."""
    from ..stores import ensure_winnowing_store

    path = ensure_winnowing_store(spark, sf_dir)
    fps = read_parquet(spark, path)
    return _shared_fp_pairs(fps)


@query(
    "bigram_logprob_scores",
    oracle=f"""
    WITH big AS (
        SELECT doc_id, unnest({shingles_sql2}) AS bg FROM documents
    ),
    c12 AS (SELECT bg, COUNT(*) AS cnt12 FROM big GROUP BY bg),
    c1 AS (
        SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS cnt1
        FROM big GROUP BY w1
    )
    SELECT big.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(trunc(ln(CAST(c12.cnt12 AS DOUBLE) / c1.cnt1) * 1e6)
                          AS BIGINT)) AS BIGINT) AS logprob_e6
    FROM big
    JOIN c12 USING (bg)
    JOIN c1 ON c1.w1 = split_part(big.bg, ' ', 1)
    GROUP BY big.doc_id
    """,
)
def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score (the Markov-1 upgrade of
    unigram_logprob_scores): P(w2|w1) = c(w1 w2) / c(w1 ·) with the corpus
    as its own model; a document's score is the exact trunc-scaled integer
    sum of ln P over its bigram occurrences (same cross-engine determinism
    discipline as the unigram scorer — double sums re-associate, int64
    sums don't; and the same shared-libm caveat: JVM vs DuckDB ln is
    observed-identical, not guaranteed — see unigram_logprob_scores).

    Scale: bigram vocabulary is larger than unigram but the shape is
    identical — explode once, two count aggs, shuffle_hash joins on the
    bigram/prefix keys (never a vocab-sized broadcast), narrow (doc_id,
    bigint) re-agg. Runs at ingest next to the index builds."""
    from ..operators.dedup import shingle_rows_spread

    d = load_table(spark, sf_dir, "documents")
    big = shingle_rows_spread(d, "doc_id", "text", k=2).withColumnRenamed("shingle", "bg")
    c12 = big.groupBy("bg").agg(F.count("*").alias("cnt12"))
    c1 = (
        big.select(F.substring_index("bg", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("cnt1"))
    )
    li = (
        F.log(F.col("cnt12").cast("double") / F.col("cnt1")) * 1e6
    ).cast("bigint")
    return (
        big.join(c12.hint("shuffle_hash"), "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(c1.hint("shuffle_hash"), "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(li).cast("bigint").alias("logprob_e6"),
        )
    )


@query(
    "ols_training_moments",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS s_c,
           CAST(SUM(v) AS BIGINT) AS s_v,
           CAST(SUM(c * c) AS BIGINT) AS s_cc,
           CAST(SUM(c * v) AS BIGINT) AS s_cv,
           CAST(SUM(v * v) AS BIGINT) AS s_vv,
           CAST(SUM(y) AS BIGINT) AS s_y,
           CAST(SUM(c * y) AS BIGINT) AS s_cy,
           CAST(SUM(v * y) AS BIGINT) AS s_vy
    FROM (
        SELECT n_chars AS c,
               len(list_distinct({tokenize_sql('text')})) AS v,
               len({tokenize_sql('text')}) AS y
        FROM documents WHERE text IS NOT NULL
    ) feats
    """,
)
def ols_training_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of linear-model (OLS) training: exact integer
    sufficient statistics for regressing token count on (n_chars, distinct
    token count) with an intercept — the 3x3 Gram matrix X'X and the
    3-vector X'y as one row of BIGINT sums.

    The driver-side solve of the 3x3 normal equations is O(k^3) local work
    (tests/test_pipeline_queries.py does it and checks the fit); at 100 TB
    the whole training cost is this single pass: map-side partial sums into
    a 1-row aggregate, no shuffle wider than the 9 accumulator cells. All
    features are integers, so the moments are exact in both engines
    regardless of partitioning/order (products < 2^53).
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = tokenize("text")
    feats = d.select(
        F.col("n_chars").alias("c"),
        F.size(F.array_distinct(toks)).cast("long").alias("v"),
        F.size(toks).cast("long").alias("y"),
    )
    bsum = lambda col: F.sum(col).cast("bigint")  # noqa: E731
    return feats.agg(
        F.count("*").alias("n"),
        bsum(F.col("c")).alias("s_c"),
        bsum(F.col("v")).alias("s_v"),
        bsum(F.col("c") * F.col("c")).alias("s_cc"),
        bsum(F.col("c") * F.col("v")).alias("s_cv"),
        bsum(F.col("v") * F.col("v")).alias("s_vv"),
        bsum(F.col("y")).alias("s_y"),
        bsum(F.col("c") * F.col("y")).alias("s_cy"),
        bsum(F.col("v") * F.col("y")).alias("s_vy"),
    )


def _bpe_cte_parts(iters: int = 4) -> list[str]:
    """Unrolled-CTE DuckDB twin of operators/bpe.py::bpe_train: per
    iteration, weighted adjacent-pair counts -> (cnt desc, a, b) argmax ->
    greedy non-overlapping fusion as a list_reduce fold (same fold the
    Spark side runs as a codegen'd aggregate lambda). Same unrolled-
    iteration discipline as the fixed-point k-means oracle."""
    parts = [
        f"""w0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest({tokenize_sql('text')}) AS w
              FROM documents WHERE text IS NOT NULL)
        GROUP BY w
    ),
    s0 AS (
        SELECT w, n,
               list_transform(range(1, length(w) + 1),
                              i -> substr(w, CAST(i AS INT), 1)) AS syms
        FROM w0
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""p{k} AS (
        SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT s.n,
                     s.syms[CAST(t.i AS INT)] AS a,
                     s.syms[CAST(t.i AS INT) + 1] AS b
              FROM s{k - 1} s, unnest(range(1, len(s.syms))) AS t(i))
        GROUP BY a, b
    ),
    b{k} AS (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
    s{k} AS (
        SELECT s.w, s.n,
               list_reduce(list_transform(s.syms, x -> [x]),
                   (acc, x) -> CASE WHEN acc[-1] = b{k}.a AND x[1] = b{k}.b
                               THEN list_concat(acc[:-2], [acc[-1] || x[1]])
                               ELSE list_concat(acc, x) END) AS syms
        FROM s{k - 1} s CROSS JOIN b{k}
    )"""
        )
    return parts


def _bpe_oracle_sql(iters: int = 4) -> str:
    """Merge-table twin: emit the per-step argmax rows from the CTE chain."""
    parts = _bpe_cte_parts(iters)
    selects = "\n    UNION ALL ".join(
        f"SELECT {k} AS step, a AS sym_a, b AS sym_b, cnt AS pair_count FROM b{k}"
        for k in range(1, iters + 1)
    )
    return "WITH " + ",\n    ".join(parts) + f"\n    {selects}\n    ORDER BY step"


@query("bpe_merge_training", oracle=_bpe_oracle_sql())
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a 4-rule BPE merge table from the corpus (operators/bpe.py) —
    real subword-vocabulary training, distributed: iteration cost is
    O(|word vocab|) via the word-frequency table, pair counts are map-side
    combined, the argmax is a TakeOrderedAndProject, and only the scalar
    merge rule reaches the driver per round. Integer counts + a total
    tie-break make the learned table bit-identical to the DuckDB twin."""
    from ..operators.bpe import bpe_train, word_frequencies

    d = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(word_frequencies(d), iters=4)
    return spark.createDataFrame(
        merges, "step int, sym_a string, sym_b string, pair_count long"
    )


def _bpe_subword_oracle_sql(iters: int = 4) -> str:
    """Encode-half twin: segment every corpus word with the learned merge
    table (the s{iters} CTE) and account subword tokens per source."""
    parts = _bpe_cte_parts(iters)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    wlen AS (SELECT w, len(syms) AS n_sub FROM s{iters})
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS total_subwords
    FROM (SELECT source, unnest({tokenize_sql('text')}) AS w
          FROM documents WHERE text IS NOT NULL) t
    JOIN wlen USING (w)
    GROUP BY source
    """
    )


@query("bpe_subword_token_counts", oracle=_bpe_subword_oracle_sql())
def bpe_subword_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode half of BPE, applied at corpus scale: segment every word
    with the 4-rule learned merge table (operators/bpe.py::bpe_encode_words
    — k chained map-side folds, no shuffle) and account subword tokens per
    source. The corpus-side join probes the encoded VOCAB (broadcast-sized
    by construction), so encoding cost is one pass over the corpus tokens
    regardless of vocabulary iterations — the train->apply pipeline the
    token-budget planner runs before a training job."""
    from ..operators.bpe import bpe_encode_words, bpe_train, word_frequencies

    d = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(d)
    merges, _ = bpe_train(wf, iters=4)
    wlen = bpe_encode_words(wf, merges).select(
        "w", F.size("syms").cast("long").alias("n_sub")
    )
    return (
        d.filter(F.col("text").isNotNull())
        .select("source", F.explode(tokenize("text")).alias("w"))
        .join(F.broadcast(wlen), "w")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("total_subwords"),
        )
    )


@query(
    "c4_line_cleanse",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines
        FROM documents WHERE text IS NOT NULL
    ), kept AS (
        SELECT doc_id, len(lines) AS n_lines,
               list_filter(lines, l ->
                   trim(l) <> ''
                   AND right(trim(l), 1) IN ('.', '!', '?', '"')
                   AND len({tokenize_sql('l')}) >= 3) AS keep_lines
        FROM base
    )
    SELECT doc_id, n_lines,
           len(keep_lines) AS n_kept,
           COALESCE(array_to_string(list_transform(keep_lines, l -> trim(l)),
                                    chr(10)), '') AS cleaned_text
    FROM kept
    """,
)
def c4_line_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleansing (Raffel et al. 2020 sec. 2.2): keep
    only lines that end in terminal punctuation and carry at least 3
    tokens — the rule that strips nav menus, cookie banners, and list
    fragments before document-level filters run. Returns per-doc line
    accounting plus the cleaned text (kept lines re-joined, trimmed).

    Scale: a single codegen'd projection — split/filter/transform/join are
    all higher-order array expressions evaluated in one pass over the scan;
    no explode, no shuffle, no Python."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    lines = F.split("text", "\n")

    def _keep(l):  # noqa: E741 - mirrors the oracle's lambda var
        t = F.trim(l)
        return (
            (t != "")
            & F.substring(t, -1, 1).isin(".", "!", "?", '"')
            & (F.size(tokenize(l)) >= 3)
        )

    kept = F.filter(lines, _keep)
    return d.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(F.transform(kept, lambda l: F.trim(l)), "\n").alias(
            "cleaned_text"
        ),
    )


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(t), 1, 15))::BIGINT % 256 AS b
        FROM (SELECT doc_id, source, unnest({tokenize_sql('text')}) AS t
              FROM documents WHERE text IS NOT NULL)
    ), counts AS (
        SELECT b,
               SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS cnt_t,
               SUM(CASE WHEN source NOT IN ('src0','src1') THEN 1 ELSE 0 END) AS cnt_r
        FROM occ GROUP BY b
    ), tot AS (
        SELECT CAST(SUM(cnt_t) AS BIGINT) AS tt,
               CAST(SUM(cnt_r) AS BIGINT) AS tr
        FROM counts
    ), lut AS (
        SELECT b,
               CAST(trunc(ln(CAST(cnt_t + 1 AS DOUBLE) / (tt + 256)) * 1e6) AS BIGINT)
               - CAST(trunc(ln(CAST(cnt_r + 1 AS DOUBLE) / (tr + 256)) * 1e6) AS BIGINT)
                 AS c_e6
        FROM counts CROSS JOIN tot
    )
    SELECT occ.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(lut.c_e6) AS BIGINT) AS logratio_e6
    FROM occ JOIN lut USING (b)
    WHERE occ.source NOT IN ('src0','src1')
    GROUP BY occ.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every raw-pool document by how much more likely its hashed-unigram
    features are under a target-domain bag-of-words model than under the raw
    pool's own model. Target = sources src0/src1; features = unigrams hashed
    into 256 buckets (the hashing trick bounds model size independent of
    vocabulary); both models add-1 smoothed. A document's log importance
    weight is the sum over its token occurrences of
    ln p_target(bucket) - ln p_raw(bucket) — the selection key for
    resampling raw data toward the target distribution.

    Determinism: per-bucket log terms are trunc-scaled to e6 BIGINTs and
    summed exactly (the shared-libm discipline of unigram_logprob_scores;
    Spark's double->bigint cast == DuckDB trunc toward zero). Token
    bucketing reuses the engine-wide md5 15-hex-char derivation, identical
    in both engines.

    Scale: the bucket-count model is 256 rows — it (and the 1-row totals)
    BROADCAST to the per-token scoring join, so the only corpus-sized
    shuffles are the bucket-count partial agg and the final per-doc regroup
    on (doc_id, bigint) — narrow rows. This is DSIR's point at 100 TB: the
    n-gram model is O(buckets), never O(vocabulary), so importance scoring
    is one broadcast map-side join per token occurrence."""
    B = 256
    target = ("src0", "src1")
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    occ = (
        d.select("doc_id", "source", F.explode(tokenize("text")).alias("t"))
        .withColumn(
            "b",
            F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("bigint") % B,
        )
        .drop("t")
    )
    is_t = F.col("source").isin(*target)
    counts = occ.groupBy("b").agg(
        F.sum(is_t.cast("long")).alias("cnt_t"),
        F.sum((~is_t).cast("long")).alias("cnt_r"),
    )
    tot = counts.agg(
        F.sum("cnt_t").cast("bigint").alias("tt"),
        F.sum("cnt_r").cast("bigint").alias("tr"),
    )
    c_e6 = (
        (F.log((F.col("cnt_t") + 1).cast("double") / (F.col("tt") + B)) * 1e6).cast("bigint")
        - (F.log((F.col("cnt_r") + 1).cast("double") / (F.col("tr") + B)) * 1e6).cast("bigint")
    )
    lut = counts.crossJoin(F.broadcast(tot)).select("b", c_e6.alias("c_e6"))
    return (
        occ.filter(~is_t)
        .join(F.broadcast(lut), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("c_e6").cast("bigint").alias("logratio_e6"),
        )
    )


@query(
    "perplexity_tercile_mix",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, unnest({tokenize_sql('text')}) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM occ GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
    scored AS (
        SELECT occ.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CAST(trunc(ln(CAST(freq.cnt AS DOUBLE) / tot.total) * 1e6)
                              AS BIGINT)) AS BIGINT) AS logprob_e6
        FROM occ JOIN freq USING (token) CROSS JOIN tot
        GROUP BY occ.doc_id
    ),
    tiled AS (
        SELECT d.source, s.n_tokens,
               ntile(3) OVER (
                   ORDER BY CAST(s.logprob_e6 AS DOUBLE) / s.n_tokens DESC,
                            s.doc_id
               ) AS tercile
        FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT source, tercile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM tiled GROUP BY source, tercile
    """,
)
def perplexity_tercile_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document by its corpus-LM per-token log-probability (the unigram KenLM
    stand-in from unigram_logprob_scores), split the corpus into head /
    middle / tail terciles of that score, and report the (source, tercile)
    mix — the table a curriculum/mixing step samples from, and the triage
    view showing which feeds skew toward the low-fluency tail.

    The tercile is a corpus-wide NTILE under a total order (per-token score
    desc — head=1 is most fluent — tie-broken by doc_id). Like
    decile_revenue_share it uses operators.ranking.scalable_ntile, NOT a
    global window: range-repartition on the order key, per-range local
    row_number, broadcast prefix-sum offsets, exact integer tile
    arithmetic — bit-identical to the oracle's ntile with no
    single-partition stage. The per-token score is ONE IEEE double division
    of two exact int64s (deterministic cross-engine); the summed quantities
    stay integer end-to-end.

    Scale: LM scoring is the unigram scorer's plan (token-frequency join,
    narrow re-agg); the ntile adds a range exchange on an 8-byte double;
    the final (source, tercile) rollup is tiny."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select("doc_id", F.explode(tokenize("text")).alias("token"))
    freq = occ.groupBy("token").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("bigint").alias("total"))
    li = (F.log(F.col("cnt").cast("double") / F.col("total")) * 1e6).cast("bigint")
    scored = (
        occ.join(freq.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(li).cast("bigint").alias("logprob_e6"),
        )
    )
    per_tok = F.col("logprob_e6").cast("double") / F.col("n_tokens")
    tiled = scalable_ntile(
        scored.withColumn("__score", per_tok),
        3,
        [F.desc("__score"), F.asc("doc_id")],
        tile_col="tercile",
    )
    return (
        tiled.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source", "tercile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "quantile_normalized_scores",
    oracle="""
    WITH g AS (
        SELECT n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gpos
        FROM documents
    ), n AS (SELECT COUNT(*) AS total FROM documents),
    s AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY source) AS ns
        FROM documents
    )
    SELECT s.doc_id, s.source, s.n_chars,
           g.n_chars AS norm_chars
    FROM s CROSS JOIN n
    JOIN g ON g.gpos = (s.r * n.total + s.ns - 1) // s.ns
    """,
)
def quantile_normalized_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document score (n_chars) across
    sources — the cross-source calibration step (Bolstad et al. 2003,
    standard in any multi-feed quality pipeline): a document at within-
    source rank r of n_s is remapped to the value the GLOBAL score
    distribution holds at the equivalent quantile, position
    ceil(r * N / n_s) — so every source's score distribution becomes the
    same reference distribution and a threshold means the same thing on
    every feed. All positions are exact integer arithmetic under total
    orders (score, doc_id), so the mapping is bit-identical cross-engine.

    Scale: the within-source rank is an ordinary partitioned window; the
    GLOBAL reference ranking is operators.ranking.global_row_number
    (range repartition + offset arithmetic — no single-partition window);
    the final remap is an equi-join on the int position. The reference
    table is (gpos, value) — 16-byte rows."""
    d = load_table(spark, sf_dir, "documents")
    from ..operators.ranking import global_row_number

    g = global_row_number(
        d.select("doc_id", "n_chars"),
        [F.asc("n_chars"), F.asc("doc_id")],
        rank_col="gpos",
        total_col="total",
    )
    ref = g.select("gpos", F.col("n_chars").alias("norm_chars"))
    total = g.select(F.max("total").alias("total")).limit(1)
    sw = W.partitionBy("source").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    s = (
        d.select("doc_id", "source", "n_chars")
        .withColumn("r", F.row_number().over(sw))
        .withColumn("ns", F.count("*").over(W.partitionBy("source")))
        .crossJoin(F.broadcast(total))
    )
    pos = F.expr("(r * total + ns - 1) DIV ns")
    return (
        s.withColumn("gpos", pos)
        .join(ref, "gpos")
        .select("doc_id", "source", "n_chars", "norm_chars")
    )


@query(
    "pmi_cooccurrence",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents),
    occ AS (
        SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS i
        FROM toks
    ),
    uni AS (SELECT t, COUNT(*) AS c FROM occ GROUP BY t),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM uni),
    pairs AS (
        SELECT a.t AS w1, b.t AS w2
        FROM occ a JOIN occ b
          ON b.doc_id = a.doc_id AND (b.i - a.i = 1 OR b.i - a.i = 2)
    ),
    pc AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
    pt AS (SELECT CAST(SUM(c12) AS BIGINT) AS P FROM pc)
    SELECT w1, w2, c12,
           CAST(trunc(ln(CAST(c12 * tt * tt AS DOUBLE)
                         / CAST(P * u1.c * u2.c AS DOUBLE)) * 1e6) AS BIGINT)
               AS pmi_e6
    FROM pc CROSS JOIN tot CROSS JOIN pt
    JOIN uni u1 ON u1.t = w1
    JOIN uni u2 ON u2.t = w2
    WHERE c12 >= 5
    ORDER BY pmi_e6 DESC, w1, w2
    LIMIT 50
    """,
)
def pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 pointwise-mutual-information token pairs within a ±2 skip-
    gram window (Church & Hanks 1990) — the classic collocation /
    word-association signal (and the count matrix word2vec implicitly
    factorizes, Levy & Goldberg 2014). PMI = ln((c12/P)/((c1/T)(c2/T))),
    computed as ONE double division of two exact int64 products
    (c12·T² / P·c1·c2) then trunc-scaled — the shared-libm discipline;
    int64 holds while total tokens < ~3M (beyond that the products move
    to DECIMAL(38), noted here).

    Scale (round-11 optimization, guide §2.4): pair enumeration is
    LINEAR and MAP-SIDE — skip-gram strings built by transform-over-
    positions against the pinned token attribute (the shingle_rows
    concat_ws idiom), exploded straight into the pair aggregate. The
    previous form posexploded single tokens and rebuilt pairs with
    lead(1)/lead(2) over per-document windows — a full shuffle+sort of
    the exploded token stream that, worse, executed TWICE (the
    normalizer P re-derived the whole pair pipeline as a second plan
    branch). Both total counts (tt = token occurrences, P = pair
    occurrences) are pure arithmetic over per-document token counts —
    sum(n) and sum(max(n-1,0) + max(n-2,0)) — so they ride ONE cheap
    scan with no explode and the pair/unigram subtrees each lose a
    consuming branch (no checkpoint pin needed; a pinned variant A/B'd
    slower — checkpoint IO exceeds the saved recompute at bench scale).
    w1/w2 split off the pair string AFTER the c12 >= 5 filter, so the
    substring work runs on the surviving pair table only. Pair and
    unigram counts stay partial+final aggs on token keys; the top-50 is
    TakeOrderedAndProject under a total order, no global sort. Plan
    delta (plans/r11/pmi_cooccurrence_{before,after}.txt, node counts in
    the formatted dumps): Window 4 -> 0 (the lead window and its
    P-branch twin), Generate 14 -> 6, Exchange 26 -> 14. A/B at sf0.1:
    paired
    alternating runs old [1.40, 1.02, 1.11, 0.98, 1.00] vs new [1.13,
    1.09, 1.15, 0.99, 1.14] s — parity within the ambient band, rows
    collect()-equal; the win is the removed full-stream shuffle+sorts
    at deployment scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokenize("text").alias("__toks"))
    pairs_sql = (
        "concat("
        "CASE WHEN size(__toks) >= 2 THEN transform(sequence(1, size(__toks) - 1), "
        "i -> concat_ws(' ', slice(__toks, i, 2))) ELSE array() END, "
        "CASE WHEN size(__toks) >= 3 THEN transform(sequence(1, size(__toks) - 2), "
        "i -> concat_ws(' ', element_at(__toks, i), element_at(__toks, i + 2))) "
        "ELSE array() END)"
    )
    pairs = toks.select(F.explode(F.expr(pairs_sql)).alias("pg"))
    pc = pairs.groupBy("pg").agg(F.count("*").alias("c12"))
    pcf = pc.filter(F.col("c12") >= 5).select(
        F.substring_index("pg", " ", 1).alias("w1"),
        F.substring_index("pg", " ", -1).alias("w2"),
        "c12",
    )
    lens = d.select(F.size(tokenize("text")).alias("n"))
    scal = lens.agg(
        F.sum("n").cast("bigint").alias("tt"),
        F.sum(
            F.greatest(F.col("n") - 1, F.lit(0))
            + F.greatest(F.col("n") - 2, F.lit(0))
        )
        .cast("bigint")
        .alias("P"),
    )
    occ = d.select(F.explode(tokenize("text")).alias("t"))
    uni = occ.groupBy("t").agg(F.count("*").alias("c"))
    u1 = uni.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        F.log(
            (F.col("c12") * F.col("tt") * F.col("tt")).cast("double")
            / (F.col("P") * F.col("c1") * F.col("c2")).cast("double")
        ) * 1e6
    ).cast("bigint")
    return (
        pcf.join(u1.hint("shuffle_hash"), "w1")
        .join(u2.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(scal))
        .select("w1", "w2", "c12", pmi.alias("pmi_e6"))
        .orderBy(F.desc("pmi_e6"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


@query(
    "langid_confusion_matrix",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_intersect({tokenize_sql('text')}, ['the','a','of','and','to','in']))  AS en_score,
               len(list_intersect({tokenize_sql('text')}, ['le','la','et','les','des','un'])) AS fr_score,
               len(list_intersect({tokenize_sql('text')}, ['der','die','und','das','ein','ist'])) AS de_score,
               len(list_intersect({tokenize_sql('text')}, ['el','la','de','y','los','que']))  AS es_score
        FROM documents
    ), guessed AS (
        SELECT lang,
               CASE WHEN greatest(en_score, fr_score, de_score, es_score) = 0 THEN 'unk'
                    WHEN en_score >= greatest(fr_score, de_score, es_score) THEN 'en'
                    WHEN fr_score >= greatest(de_score, es_score) THEN 'fr'
                    WHEN de_score >= es_score THEN 'de'
                    ELSE 'es' END AS lang_guess
        FROM scored
    )
    SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN lang = lang_guess THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM guessed GROUP BY lang, lang_guess
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation surface over the engine's own language-ID
    heuristic: the (true lang, guessed lang) confusion matrix — the table
    per-language precision/recall reads straight off, and the quality
    gate a pipeline watches when it swaps language models. Reuses
    lang_id_heuristic's exact scoring expressions; one partial+final agg
    on a tiny label-pair domain."""
    scored = lang_id_heuristic(spark, sf_dir)
    return scored.groupBy("lang", "lang_guess").agg(
        F.count("*").alias("n"),
        F.sum((F.col("lang") == F.col("lang_guess")).cast("int"))
        .cast("bigint").alias("n_correct"),
    )


@query(
    "dataset_card_report",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, lang, text, {tokenize_sql('text')} AS toks,
               md5(trim(regexp_replace(lower(text), '[^\\p{{L}}\\p{{N}}]+', ' ', 'g'))) AS digest
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(len(toks), 0)) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(trunc(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*) * 1e6) AS BIGINT) AS en_share_e6,
           CAST(COUNT(*) - COUNT(DISTINCT digest) AS BIGINT) AS n_exact_dups,
           CAST(MIN(len(toks)) AS BIGINT) AS min_tokens,
           CAST(MAX(len(toks)) AS BIGINT) AS max_tokens,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text
    FROM base
    """,
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card summary row (datasheets for datasets, Gebru et al.
    2021): corpus size, token mass, source/language diversity, English
    share, exact-duplicate mass, token-length range, and null-text count —
    the one-line health report a pipeline publishes with every corpus
    snapshot, composing the engine's counting, dedup-digest, and language
    columns in a single pass.

    Scale: one scan, one aggregate; the distinct counts ride Spark's
    Expand (3 distinct aggregates) — at 100 TB swap NDV to
    approx_count_distinct exactly as table_stats_profile documents, and
    the dup mass to the digest-groupBy pre-aggregation."""
    from ..operators.dedup import text_digest

    d = load_table(spark, sf_dir, "documents")
    toks = F.size(tokenize("text"))
    base = d.select(
        "doc_id", "source", "lang", "text",
        toks.alias("nt"),
        text_digest("text").alias("digest"),
    )
    return base.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce(F.col("nt"), F.lit(0))).cast("bigint").alias("n_tokens"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        (
            F.sum((F.col("lang") == "en").cast("int")).cast("double")
            / F.count("*") * 1e6
        ).cast("bigint").alias("en_share_e6"),
        (F.count("*") - F.countDistinct("digest")).cast("bigint").alias("n_exact_dups"),
        F.min("nt").cast("bigint").alias("min_tokens"),
        F.max("nt").cast("bigint").alias("max_tokens"),
        F.sum(F.col("text").isNull().cast("int")).cast("bigint").alias("n_null_text"),
    )


@query(
    "corpus_entropy_report",
    oracle=f"""
    WITH src AS (SELECT source AS k, COUNT(*) AS c FROM documents GROUP BY source),
    lng AS (SELECT lang AS k, COUNT(*) AS c FROM documents GROUP BY lang),
    voc AS (
        SELECT token AS k, COUNT(*) AS c
        FROM (SELECT unnest({tokenize_sql('text')}) AS token FROM documents)
        GROUP BY token
    ),
    srct AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM src),
    lngt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM lng),
    voct AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM voc),
    ent AS (
        SELECT 'source' AS dist, CAST(COUNT(*) AS BIGINT) AS n_categories,
               MAX(t) AS n_items,
               CAST(SUM(CAST(trunc(-ln(CAST(c AS DOUBLE) / t) * c * 1e6)
                             AS BIGINT)) AS BIGINT) AS ent_num_e6
        FROM src CROSS JOIN srct
        UNION ALL
        SELECT 'lang', CAST(COUNT(*) AS BIGINT), MAX(t),
               CAST(SUM(CAST(trunc(-ln(CAST(c AS DOUBLE) / t) * c * 1e6)
                             AS BIGINT)) AS BIGINT)
        FROM lng CROSS JOIN lngt
        UNION ALL
        SELECT 'vocabulary', CAST(COUNT(*) AS BIGINT), MAX(t),
               CAST(SUM(CAST(trunc(-ln(CAST(c AS DOUBLE) / t) * c * 1e6)
                             AS BIGINT)) AS BIGINT)
        FROM voc CROSS JOIN voct
    )
    SELECT dist, n_categories, n_items,
           CAST(trunc(CAST(ent_num_e6 AS DOUBLE) / n_items) AS BIGINT)
               AS entropy_nats_e6
    FROM ent
    """,
)
def corpus_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy diversity report over three corpus distributions —
    sources, languages, vocabulary: H = -sum p ln p in nats, the standard
    balance/diversity metrics a data card quotes (a source entropy far
    below ln(n_sources) means the mix is dominated; vocabulary entropy is
    the unigram-LM cross-entropy floor). Per-category terms are
    trunc-scaled ints weighted by count BEFORE summation (the shared-libm
    ln discipline; the sum is order-free), with ONE terminal division by
    the item count.

    Scale: three partial+final aggs (source and lang domains are tiny;
    the vocabulary agg is the token-frequency table the LM queries already
    build); each distribution's 1-row total broadcasts back — no
    unpartitioned window anywhere."""
    d = load_table(spark, sf_dir, "documents")

    def ent(df: DataFrame, name: str) -> DataFrame:
        # totals via agg + broadcast, never an unpartitioned window — the
        # vocabulary frame is vocab-sized at scale
        tot = df.agg(F.sum("c").cast("bigint").alias("__tot"))
        term = (
            -F.log(F.col("c").cast("double") / F.col("__tot"))
            * F.col("c") * 1e6
        ).cast("bigint")
        return (
            df.crossJoin(F.broadcast(tot))
            .withColumn("__t", term)
            .agg(
                F.lit(name).alias("dist"),
                F.count("*").cast("bigint").alias("n_categories"),
                F.sum("c").cast("bigint").alias("n_items"),
                F.sum("__t").cast("bigint").alias("__num"),
            )
            .select(
                "dist", "n_categories", "n_items",
                (F.col("__num").cast("double") / F.col("n_items"))
                .cast("bigint").alias("entropy_nats_e6"),
            )
        )

    src = d.groupBy(F.col("source").alias("k")).agg(F.count("*").alias("c"))
    lng = d.groupBy(F.col("lang").alias("k")).agg(F.count("*").alias("c"))
    voc = (
        d.select(F.explode(tokenize("text")).alias("k"))
        .groupBy("k").agg(F.count("*").alias("c"))
    )
    return ent(src, "source").unionByName(ent(lng, "lang")).unionByName(
        ent(voc, "vocabulary")
    )


@query(
    "readability_scores",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len({tokenize_sql('text')}) AS words,
               greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                                        s -> trim(s) <> '')), 1) AS sentences,
               greatest(CAST(list_sum(list_transform({tokenize_sql('text')},
                   w -> len(regexp_extract_all(w, '[aeiouy]+')))) AS BIGINT), 1)
                   AS syllables
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, CAST(words AS BIGINT) AS words,
           CAST(sentences AS BIGINT) AS sentences, syllables,
           CAST(trunc(206835
                      - 1015 * CAST(words AS DOUBLE) / sentences
                      - 84600 * CAST(syllables AS DOUBLE) / words) AS BIGINT)
               AS flesch_e3
    FROM t WHERE words > 0
    """,
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (scaled e3), from exact integer
    counts: words (the engine tokenizer), sentences (non-blank [.!?]
    splits, floored at 1), syllables (vowel-group runs per word — the
    standard dictionary-free proxy). The readability feature family next
    to quality_scores' length/repetition signals; low scores flag
    academic/garbled text, implausibly high ones flag listicles/fragments.

    Determinism: the formula is two IEEE double divisions of exact ints
    plus integer-coefficient arithmetic (constants scaled e3), evaluated
    in the same order in both engines — no libm at all. Scale: pure
    per-row projection, no shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = F.size(tokenize("text"))
    sentences = F.greatest(
        F.size(F.filter(F.split("text", r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    )
    syllables = F.greatest(
        F.aggregate(
            F.transform(
                tokenize("text"),
                lambda w: F.size(
                    F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x.cast("bigint"),
        ),
        F.lit(1).cast("bigint"),
    )
    flesch = (
        F.lit(206835)
        - F.lit(1015) * words.cast("double") / sentences
        - F.lit(84600) * syllables.cast("double") / words
    ).cast("bigint")
    return (
        d.select(
            "doc_id",
            words.cast("bigint").alias("words"),
            sentences.cast("bigint").alias("sentences"),
            syllables.alias("syllables"),
            flesch.alias("flesch_e3"),
        )
        .filter(F.col("words") > 0)
    )


@query(
    "rake_keyphrases",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, t.tok
        FROM (SELECT doc_id, {tokenize_sql('text')} AS ts FROM documents
              WHERE text IS NOT NULL),
             LATERAL (SELECT UNNEST(ts) AS tok,
                             generate_subscripts(ts, 1) AS i) t
    ), nonstop AS (
        SELECT doc_id, pos, tok,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM toks WHERE tok NOT IN ('a', 'the')
    ), with_plen AS (
        SELECT doc_id, island, pos, tok,
               COUNT(*) OVER (PARTITION BY doc_id, island) AS plen
        FROM nonstop
    ), words AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS degree
        FROM with_plen GROUP BY tok
    ), scored_tokens AS (
        SELECT n.doc_id, n.island, n.pos, n.tok,
               w.degree * 1000000 // w.freq AS ws_e6
        FROM nonstop n JOIN words w ON n.tok = w.tok
    ), phrases AS (
        SELECT doc_id, island,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen,
               CAST(SUM(ws_e6) AS BIGINT) AS score_e6
        FROM scored_tokens GROUP BY doc_id, island
    )
    SELECT phrase, CAST(MAX(plen) AS BIGINT) AS plen,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(score_e6) AS BIGINT) AS score_e6
    FROM phrases GROUP BY phrase
    ORDER BY score_e6 DESC, phrase LIMIT 20
    """,
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs, each word scores degree/freq (degree
    = summed length of the phrases it appears in), a phrase scores the sum
    of its word scores — the unsupervised keyword extractor a corpus
    pipeline runs where no model is available. Top-20 phrases corpus-wide.

    The phrase segmentation is gaps-and-islands on token positions (pos
    minus per-doc non-stop rank), NOT a regex split — consecutive and
    edge stopwords fall out for free, and the identical window arithmetic
    runs on both engines. Determinism: word scores are integer floor
    divisions (degree*1e6 DIV freq) BEFORE the per-phrase sum, so the
    accumulation is pure int64 — no float ordering anywhere. Scale: the
    windows partition by doc (bounded frames); the word table is
    vocabulary-sized and broadcast back; the final top-20 is
    TakeOrderedAndProject over the deduped phrase aggregate."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    nonstop = toks.filter(~F.col("tok").isin("a", "the")).withColumn(
        "island", F.col("pos") - F.row_number().over(wdoc)
    )
    wisl = W.partitionBy("doc_id", "island")
    with_plen = nonstop.withColumn("plen", F.count("*").over(wisl))
    words = with_plen.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    scored = nonstop.join(F.broadcast(words), "tok").withColumn(
        "ws_e6", F.expr("degree * 1000000 DIV freq")
    )
    phrases = scored.groupBy("doc_id", "island").agg(
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(pos, tok))),"
                " s -> s.tok)"
            ),
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
        F.sum("ws_e6").cast("bigint").alias("score_e6"),
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.max("plen").cast("bigint").alias("plen"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.max("score_e6").cast("bigint").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), "phrase")
        .limit(20)
    )


@query(
    "kneser_ney_doc_scores",
    oracle=f"""
    WITH big AS (
        SELECT doc_id, unnest({shingles_sql2}) AS bg FROM documents
    ),
    train AS (SELECT bg FROM big WHERE doc_id % 2 = 0),
    c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt12 FROM train GROUP BY bg),
    c1 AS (
        SELECT split_part(bg, ' ', 1) AS w1,
               CAST(COUNT(*) AS BIGINT) AS cnt1,
               CAST(COUNT(DISTINCT bg) AS BIGINT) AS n1f
        FROM train GROUP BY w1
    ),
    ncont AS (
        SELECT split_part(bg, ' ', 2) AS w2,
               CAST(COUNT(DISTINCT split_part(bg, ' ', 1)) AS BIGINT) AS nc
        FROM train GROUP BY w2
    ),
    nt AS (SELECT CAST(COUNT(DISTINCT bg) AS BIGINT) AS ntypes FROM train),
    scored AS (
        SELECT big.doc_id,
               CASE WHEN c1.cnt1 IS NOT NULL THEN
                   (GREATEST(4 * COALESCE(c12.cnt12, 0) - 3, 0) * nt.ntypes
                    + 3 * c1.n1f * COALESCE(ncont.nc, 0))
               ELSE COALESCE(ncont.nc, 0) END AS num,
               CASE WHEN c1.cnt1 IS NOT NULL THEN 4 * c1.cnt1 * nt.ntypes
               ELSE nt.ntypes END AS den
        FROM big
        CROSS JOIN nt
        LEFT JOIN c12 USING (bg)
        LEFT JOIN c1 ON c1.w1 = split_part(big.bg, ' ', 1)
        LEFT JOIN ncont ON ncont.w2 = split_part(big.bg, ' ', 2)
        WHERE big.doc_id % 2 = 1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(1000000 * num // den) AS BIGINT) AS kn_prob_sum_e6,
           CAST(SUM(CASE WHEN num = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
    FROM scored GROUP BY doc_id
    """,
)
def kneser_ney_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995; the
    smoothing CCNet-style quality pipelines train their filter LMs with):
    the even-doc_id half of the corpus is the training text, odd docs are
    scored. With discount D = 3/4,

        p_KN(w2|w1) = max(c(w1 w2) - D, 0)/c(w1)
                      + D * N1+(w1 .)/c(w1) * N1+(. w2)/N1+(..)

    and an unseen history backs off to the continuation probability alone.
    Multiplying through by 4 clears the discount into integers, so every
    per-token probability is an exact fraction num/den over BIGINT counts
    — emitted as the per-document sum of floor(1e6 * num/den) next to the
    bigram and zero-probability counts. Exact cross-engine: no float ln/
    exp anywhere (contrast bigram_logprob_scores, which pins libm); at
    sf >= 1 the num product nears int64 range and the sum columns promote
    to DECIMAL(38,0) — same promotion note as the apportionment ops.

    Scale shape (round-11 optimization — closes VERDICT r10 #3/#5): the
    gram stream is built ONCE into a pinned per-document bigram-count
    table (doc_id, bg, k) whose map-side partial aggregation compresses
    repeats before the one exchange; the four training statistics are
    sum/distinct aggregations over the pin's even half (occurrence counts
    = sum(k) — identical integers), and the scoring side resolves the
    num/den fraction ONCE PER DISTINCT scored bigram (num and den are
    functions of bg alone) before re-attaching it with a single bg-keyed
    join, weighting per-document sums by k. The round-10 form built the
    gram stream once per branch and reshuffled the full odd-half
    occurrence stream THREE times (bg, then w1, then w2 keys); the three
    token-keyed joins now carry only the distinct-bigram table — the
    guide §8 move: decide on the lightweight proxy, move the heavy rows
    once. Plan evidence (plans/r11/kneser_ney_doc_scores_{before,after}.txt):
    the returned plan's parquet scans and Generates drop 2 -> 0 — both
    branches now read the pin, so "gram builds 2 -> 1" is
    checkpoint-time work verified in code and by the scan count; the
    after-plan's exchanges carry the distinct-bigram table where the
    before-plan reshuffled the full odd-half occurrence stream. A/B
    at sf0.1: old [6.61, 5.31, 7.08] vs new [4.65, 2.70, 3.18] s in one
    session, rows equal at sf0.01 and sf0.1. The continuation counts N1+
    are the novel-continuation statistics that make KN the strong LM
    baseline — distinct-count aggs, exactly what the engine's groupBy
    does."""
    from ..operators.dedup import shingle_rows_spread

    d = load_table(spark, sf_dir, "documents")
    big = shingle_rows_spread(d, "doc_id", "text", k=2).withColumnRenamed("shingle", "bg")
    # ONE gram build: per-doc bigram counts, pinned; train stats and the
    # scoring branch both read the pin
    dtc = big.groupBy("doc_id", "bg").agg(F.count("*").alias("k")).localCheckpoint()
    trn = dtc.filter(F.col("doc_id") % 2 == 0)
    w1 = F.substring_index("bg", " ", 1)
    w2 = F.substring_index("bg", " ", -1)
    c12 = trn.groupBy("bg").agg(F.sum("k").cast("bigint").alias("cnt12"))
    c1 = trn.groupBy(w1.alias("w1")).agg(
        F.sum("k").cast("bigint").alias("cnt1"),
        F.countDistinct("bg").cast("bigint").alias("n1f"),
    )
    ncont = trn.groupBy(w2.alias("w2")).agg(
        F.countDistinct(w1).cast("bigint").alias("nc")
    )
    nt = trn.agg(F.countDistinct("bg").cast("bigint").alias("ntypes"))
    sc = dtc.filter(F.col("doc_id") % 2 == 1)
    # num/den depend on bg alone: one row per DISTINCT scored bigram
    # through the stat joins, then one equi-join back to the counts
    dist = sc.select("bg").distinct()
    facts = (
        dist.withColumn("w1", w1)
        .withColumn("w2", w2)
        .crossJoin(F.broadcast(nt))
        .join(c12.hint("shuffle_hash"), "bg", "left")
        .join(c1.hint("shuffle_hash"), "w1", "left")
        .join(ncont.hint("shuffle_hash"), "w2", "left")
        .select(
            "bg",
            F.when(
                F.col("cnt1").isNotNull(),
                F.greatest(
                    F.lit(4) * F.coalesce(F.col("cnt12"), F.lit(0)) - F.lit(3),
                    F.lit(0),
                )
                * F.col("ntypes")
                + F.lit(3) * F.col("n1f") * F.coalesce(F.col("nc"), F.lit(0)),
            )
            .otherwise(F.coalesce(F.col("nc"), F.lit(0)))
            .cast("bigint")
            .alias("num"),
            F.when(F.col("cnt1").isNotNull(), F.lit(4) * F.col("cnt1") * F.col("ntypes"))
            .otherwise(F.col("ntypes"))
            .cast("bigint")
            .alias("den"),
        )
    )
    return (
        sc.join(facts.hint("shuffle_hash"), "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("k") * F.expr("(1000000 * num) div den"))
            .cast("bigint")
            .alias("kn_prob_sum_e6"),
            F.sum(F.when(F.col("num") == 0, F.col("k")).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
        )
    )


def _kappa_oracle_sql() -> str:
    """Chance-corrected agreement assembled ON TOP of the registered
    confusion-matrix oracle (one source of truth for the langid scoring):
    po and pe as exact integer fractions over the cell counts, kappa as a
    (numerator, denominator) BIGINT pair plus a sign-split trunc-toward-
    zero 1e6 scaling (DuckDB // floors, Spark div truncates — they agree
    on non-negatives, so the sign is factored out explicitly)."""
    from .registry import get as _get

    cm_sql = _get("langid_confusion_matrix").oracle
    return f"""
    WITH cm AS ({cm_sql}),
    tot AS (
        SELECT SUM(n) AS nn,
               SUM(CASE WHEN lang = lang_guess THEN n ELSE 0 END) AS diag
        FROM cm
    ),
    r AS (SELECT lang AS k, SUM(n) AS rc FROM cm GROUP BY lang),
    c AS (SELECT lang_guess AS k, SUM(n) AS cc FROM cm GROUP BY lang_guess),
    pe AS (SELECT COALESCE(SUM(r.rc * c.cc), 0) AS pen FROM r JOIN c USING (k))
    SELECT CAST(nn AS BIGINT) AS n_items,
           CAST(diag AS BIGINT) AS n_agree,
           CAST((1000000 * diag) // nn AS BIGINT) AS po_e6,
           CAST((1000000 * pen) // (nn * nn) AS BIGINT) AS pe_e6,
           CAST(nn * diag - pen AS BIGINT) AS kappa_num,
           CAST(nn * nn - pen AS BIGINT) AS kappa_den,
           CAST(CASE WHEN nn * nn - pen = 0 THEN 0
                     WHEN nn * diag - pen >= 0
                     THEN (1000000 * (nn * diag - pen)) // (nn * nn - pen)
                     ELSE -((1000000 * (pen - nn * diag)) // (nn * nn - pen))
                END AS BIGINT) AS kappa_e6
    FROM tot, pe
    """


@query("cohens_kappa_langid", oracle=_kappa_oracle_sql())
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the language-ID heuristic against the true lang
    column — chance-corrected agreement, the one-number upgrade of the
    raw confusion matrix (accuracy flatters a classifier on a skewed
    label mix; kappa subtracts the agreement two independent raters with
    these marginals would reach anyway). Exact end to end: po = diag/N
    and pe = sum(row_k * col_k)/N^2 stay integer fractions, kappa is
    emitted as its BIGINT (numerator, denominator) pair next to the
    sign-split trunc(1e6 * num/den) so both engines evaluate identical
    integer arithmetic (negative kappa would floor vs truncate
    differently — the sign factoring removes the divergence).

    Scale shape: the only corpus-sized work is the confusion-matrix agg
    the registered query already does (one partial+final agg on the tiny
    label-pair domain); everything after lives on <= |langs|+1 rows."""
    scored = lang_id_heuristic(spark, sf_dir)
    cm = scored.groupBy("lang", "lang_guess").agg(F.count("*").alias("n"))
    tot = cm.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.when(F.col("lang") == F.col("lang_guess"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("diag"),
    )
    rows = cm.groupBy(F.col("lang").alias("k")).agg(F.sum("n").alias("rc"))
    cols = cm.groupBy(F.col("lang_guess").alias("k")).agg(F.sum("n").alias("cc"))
    pe = (
        rows.join(cols, "k")
        .agg(F.coalesce(F.sum(F.col("rc") * F.col("cc")), F.lit(0)).cast("bigint").alias("pen"))
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            F.col("nn").alias("n_items"),
            F.col("diag").alias("n_agree"),
            F.expr("(1000000 * diag) div nn").cast("bigint").alias("po_e6"),
            F.expr("(1000000 * pen) div (nn * nn)").cast("bigint").alias("pe_e6"),
            (F.col("nn") * F.col("diag") - F.col("pen")).cast("bigint").alias("kappa_num"),
            (F.col("nn") * F.col("nn") - F.col("pen")).cast("bigint").alias("kappa_den"),
            F.expr(
                "CAST(CASE WHEN nn * nn - pen = 0 THEN 0"
                " WHEN nn * diag - pen >= 0"
                " THEN (1000000 * (nn * diag - pen)) div (nn * nn - pen)"
                " ELSE -((1000000 * (pen - nn * diag)) div (nn * nn - pen))"
                " END AS BIGINT)"
            ).alias("kappa_e6"),
        )
    )


# --- Zipf law fit ----------------------------------------------------------
# Shared OLS-on-log-log expression tree over the exact int64 moment
# columns (s_x/s_y/s_xy/s_xx are sums of trunc-1e6 per-rank contributions;
# products are cast to DOUBLE before multiplying — n * s_xy would overflow
# int64 — so both engines evaluate the identical IEEE tree).
_ZIPF_SLOPE = (
    "(CAST(n AS DOUBLE) * CAST(s_xy AS DOUBLE)"
    " - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(s_xx AS DOUBLE)"
    "    - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))"
)
_ZIPF_INTERCEPT = (
    f"(CAST(s_y AS DOUBLE) - ({_ZIPF_SLOPE}) * CAST(s_x AS DOUBLE))"
    " / CAST(n AS DOUBLE)"
)
_ZIPF_R = 512  # ranks fitted: the head of the frequency table


@query(
    "zipf_rank_frequency",
    oracle=f"""
    WITH tf AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT unnest({tokenize_sql("text")}) AS token FROM documents)
        GROUP BY token
    ), head AS (
        SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT {_ZIPF_R}
    ), ranked AS (
        SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rank
        FROM head
    ), pts AS (
        SELECT CAST(trunc(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x6,
               CAST(trunc(ln(CAST(tf AS DOUBLE)) * 1e6) AS BIGINT) AS y6
        FROM ranked
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x6) AS BIGINT) AS s_x,
               CAST(SUM(y6) AS BIGINT) AS s_y,
               CAST(SUM(x6 * y6) AS BIGINT) AS s_xy,
               CAST(SUM(x6 * x6) AS BIGINT) AS s_xx
        FROM pts
    )
    SELECT n AS n_ranks,
           (SELECT MAX(tf) FROM head) AS top_tf,
           CAST(trunc(({_ZIPF_SLOPE}) * 1e6) AS BIGINT) AS slope_e6,
           CAST(trunc(({_ZIPF_INTERCEPT})) AS BIGINT) AS intercept_e6
    FROM m
    """,
)
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus frequency table: OLS slope of
    ln(frequency) against ln(rank) across the top-512 terms — the corpus
    'health' diagnostic next to `corpus_entropy_report` (natural text sits
    near slope -1; a slope collapsing toward 0 means boilerplate/template
    flooding, a cliff below -1.5 means a truncated vocabulary — both
    failure modes a curation pipeline wants to alarm on per source/shard).
    On the deliberately template-generated synthetic corpus (a ~31-word
    near-uniform pool) the alarm FIRES: measured slope ~ -0.18, pinned by
    tests — the diagnostic working, not the corpus being natural.

    Exactness: per-rank contributions are trunc-1e6 integers (the ln
    cross-engine idiom), their products and sums exact int64
    (|x6*y6| <= 6.3e6 * 2e7 ~ 1.3e14, x 512 rows ~ 6e16 < 2^63); the
    slope/intercept assemble from those moments in one shared double tree
    (_WELCH_T discipline).

    Scale: the frequency table is one map-side-combinable token agg; the
    head is TakeOrderedAndProject (per-partition heaps, 512 rows to one
    task); the rank window runs on the post-LIMIT 512-row frame — benign
    by the audited post-LIMIT convention, documented here. One scan, one
    token shuffle, constant-size everything after."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    head = tf.orderBy(F.desc("tf"), F.asc("token")).limit(_ZIPF_R)
    # rank over the post-LIMIT 512-row frame (single-task by construction)
    ranked = head.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.desc("tf"), F.asc("token"))),
    )
    # Spark CAST truncates toward zero (== DuckDB's explicit trunc();
    # DuckDB's bare CAST rounds — hence the asymmetric spelling)
    pts = ranked.select(
        F.expr("CAST(ln(CAST(rank AS DOUBLE)) * 1e6 AS BIGINT)").alias("x6"),
        F.expr("CAST(ln(CAST(tf AS DOUBLE)) * 1e6 AS BIGINT)").alias("y6"),
        "tf",
    )
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x6").cast("bigint").alias("s_x"),
        F.sum("y6").cast("bigint").alias("s_y"),
        F.sum(F.col("x6") * F.col("y6")).cast("bigint").alias("s_xy"),
        F.sum(F.col("x6") * F.col("x6")).cast("bigint").alias("s_xx"),
        F.max("tf").cast("bigint").alias("top_tf"),
    )
    return m.select(
        F.col("n").alias("n_ranks"),
        "top_tf",
        F.expr(f"CAST(({_ZIPF_SLOPE}) * 1e6 AS BIGINT)").alias("slope_e6"),
        F.expr(f"CAST(({_ZIPF_INTERCEPT}) AS BIGINT)").alias("intercept_e6"),
    )


# --- unigram-LM tokenizer ---------------------------------------------------


def _unigram_dp_prefix_sql(max_word: int = 12, n_multi: int = 44) -> str:
    """Unrolled DuckDB twin of operators.bpe.unigram_vocab +
    unigram_viterbi: the substring fan-out, the char + top-N piece
    selection, and one (join + per-word argmax) CTE pair per position —
    the bellman_ford unroll discipline with the ROW_NUMBER argmax
    mirroring Spark's max-of-struct tie-break (score desc, np asc).

    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and dp{{p}} is
    referenced twice per level (by s{{p+1}} and dp{{p+1}}) — un-hinted,
    the 12-level chain expands to 2^12 copies of the base scan (measured:
    'Too many open files')."""
    parts = [
        f"""
    WITH words AS MATERIALIZED (
        SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest({tokenize_sql("text")}) AS token FROM documents)
        GROUP BY token
    ), occ AS MATERIALIZED (
        SELECT substr(words.w, pe.p_end - kk.k + 1, kk.k) AS piece, words.n
        FROM words,
             unnest(generate_series(1, length(words.w))) AS pe(p_end),
             unnest(generate_series(1, least(4, pe.p_end))) AS kk(k)
    ), pf AS MATERIALIZED (
        SELECT piece, CAST(SUM(n) AS BIGINT) AS pfreq FROM occ GROUP BY piece
    ), vocab0 AS MATERIALIZED (
        SELECT piece, pfreq FROM pf WHERE length(piece) = 1
        UNION ALL
        (SELECT piece, pfreq FROM pf WHERE length(piece) > 1
         ORDER BY pfreq DESC, piece LIMIT {n_multi})
    ), vocab AS MATERIALIZED (
        SELECT piece,
               CAST(trunc(ln(CAST(pfreq AS DOUBLE)
                             / (SELECT CAST(SUM(pfreq) AS DOUBLE) FROM vocab0))
                          * 1e6) AS BIGINT) AS s
        FROM vocab0
    ), ww AS MATERIALIZED (
        SELECT w, n FROM words WHERE length(w) <= {max_word}
    ), cand AS MATERIALIZED (
        SELECT ww.w AS word, pe.p_end - kk.k AS p_start, pe.p_end, v.s
        FROM ww,
             unnest(generate_series(1, length(ww.w))) AS pe(p_end),
             unnest(generate_series(1, least(4, pe.p_end))) AS kk(k)
        JOIN vocab v ON v.piece = substr(ww.w, pe.p_end - kk.k + 1, kk.k)
    ), dp0 AS MATERIALIZED (
        SELECT w AS word, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS np
        FROM ww
    )"""
    ]
    for p in range(1, max_word + 1):
        parts.append(f""", s{p} AS MATERIALIZED (
        SELECT c.word, d.score + c.s AS score, d.np + 1 AS np
        FROM cand c JOIN dp{p - 1} d ON d.word = c.word AND d.pos = c.p_start
        WHERE c.p_end = {p}
    ), b{p} AS MATERIALIZED (
        SELECT word, {p} AS pos, score, np FROM (
            SELECT word, score, np,
                   ROW_NUMBER() OVER (PARTITION BY word
                                      ORDER BY score DESC, np) AS rn
            FROM s{p}) WHERE rn = 1
    ), dp{p} AS MATERIALIZED (
        SELECT * FROM dp{p - 1} UNION ALL SELECT * FROM b{p}
    )""")
    return "".join(parts)


def _unigram_oracle_sql(max_word: int = 12, n_multi: int = 44) -> str:
    """Final-scores oracle: the shared forward-DP prefix plus the
    per-word readout at pos = length(word)."""
    return (
        _unigram_dp_prefix_sql(max_word, n_multi)
        + f"""
    SELECT ww.w AS word, ww.n, d.np AS n_pieces, d.score AS score_e6
    FROM ww JOIN dp{max_word} d
      ON d.word = ww.w AND d.pos = length(ww.w)
    ORDER BY word"""
    )


def _unigram_em_oracle_sql(max_word: int = 12, n_multi: int = 44) -> str:
    """EM M-step oracle: forward DP, then the backward path walk (one
    argmax-predecessor CTE pair per step — MAX p_start is the canonical
    co-optimal tie-break, mirroring Spark's max-of-struct), then piece
    counts and the refitted ln scores. Same MATERIALIZED discipline."""
    parts = [_unigram_dp_prefix_sql(max_word, n_multi)]
    parts.append(f""", wk0 AS MATERIALIZED (
        SELECT ww.w AS word, d.pos, d.score, d.np
        FROM ww JOIN dp{max_word} d
          ON d.word = ww.w AND d.pos = length(ww.w)
    )""")
    for t in range(1, max_word + 1):
        parts.append(f""", pk{t} AS MATERIALIZED (
        SELECT wk.word, wk.pos AS cur_pos, MAX(c.p_start) AS p_start
        FROM wk{t - 1} wk
        JOIN cand c ON c.word = wk.word AND c.p_end = wk.pos
        JOIN dp{max_word} d ON d.word = wk.word AND d.pos = c.p_start
                           AND d.score = wk.score - c.s AND d.np = wk.np - 1
        WHERE wk.pos > 0
        GROUP BY wk.word, wk.pos
    ), em{t} AS MATERIALIZED (
        SELECT word, substr(word, p_start + 1, cur_pos - p_start) AS piece
        FROM pk{t}
    ), wk{t} AS MATERIALIZED (
        SELECT p.word, p.p_start AS pos, d.score, d.np
        FROM pk{t} p JOIN dp{max_word} d
          ON d.word = p.word AND d.pos = p.p_start
        UNION ALL
        SELECT word, pos, score, np FROM wk{t - 1} WHERE pos = 0
    )""")
    ems = " UNION ALL ".join(f"SELECT word, piece FROM em{t}" for t in range(1, max_word + 1))
    parts.append(f""", path AS MATERIALIZED (
        {ems}
    ), cnt AS MATERIALIZED (
        SELECT e.piece, CAST(SUM(ww.n) AS BIGINT) AS path_cnt
        FROM path e JOIN ww ON ww.w = e.word
        GROUP BY e.piece
    )
    SELECT v.piece, COALESCE(c.path_cnt, 0) AS path_cnt,
           v.s AS old_s_e6,
           CASE WHEN c.path_cnt IS NOT NULL THEN
               CAST(trunc(ln(CAST(c.path_cnt AS DOUBLE)
                             / (SELECT CAST(SUM(path_cnt) AS DOUBLE) FROM cnt))
                          * 1e6) AS BIGINT)
           END AS new_s_e6
    FROM vocab v LEFT JOIN cnt c ON c.piece = v.piece
    ORDER BY v.piece""")
    return "".join(parts)


@query("unigram_tokenizer_scores", oracle=_unigram_oracle_sql())
def unigram_tokenizer_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style, Kudo 2018) subword tokenizer:
    build a piece vocabulary (every single character for coverage + the
    44 most corpus-frequent multi-character substrings, scored by their
    corpus log-probability), then Viterbi-segment every distinct word —
    max-sum-of-log-probs over all segmentations, ties to fewer pieces.
    The OTHER major tokenizer family next to `bpe_merge_training`
    (BPE composes greedily bottom-up; unigram selects globally optimal
    paths under a probabilistic vocabulary — what T5/LLaMA-family
    tokenizers actually run). Emits (word, corpus freq, piece count,
    Viterbi score) — the segmentation quality table a tokenizer-training
    pipeline inspects before freezing a vocab.

    Exactness: piece scores are trunc-1e6 ln integers (the established
    cross-engine ln idiom); the DP is int64 adds and a (score desc,
    np asc) argmax per position — the DuckDB twin unrolls the identical
    recurrence, so every score is bit-identical.

    Scale: everything downstream of the one corpus tokenize pass is
    keyed on the DISTINCT word (the BPE train-on-the-vocabulary trick);
    the candidate table is a <= L x 4 constant fan-out per word, built
    once and localCheckpoint'd; each of the <= 12 DP supersteps is one
    equi-join + one map-side-combinable max-of-struct groupBy (no
    window). Corpus-level encoding then broadcasts this result onto the
    token stream — corpus size never enters the DP."""
    from ..operators.bpe import unigram_viterbi, unigram_vocab, word_frequencies

    d = load_table(spark, sf_dir, "documents")
    words = word_frequencies(d).localCheckpoint()
    vocab = unigram_vocab(words)
    return unigram_viterbi(words, vocab).orderBy("word")


@query("unigram_em_refit", oracle=_unigram_em_oracle_sql())
def unigram_em_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full unigram-EM training round (the M-step
    `unigram_tokenizer_scores` stops short of): extract every word's
    Viterbi-best path (backward walk over the recorded forward states —
    optimal substructure means only best states are ever touched), count
    corpus-weighted piece usage along those paths, and refit each piece's
    log-probability to ln(path_count / total). Emits the vocabulary
    delta: piece, path usage, old score, refitted score (NULL for pieces
    no optimal path uses — exactly the pieces the next EM round prunes,
    which is how SentencePiece shrinks its seed vocabulary).

    Exactness: the backward walk re-derives each step from int64 score
    and count equalities against the recorded states, with MAX p_start
    as the canonical co-optimal tie-break replayed verbatim by the
    unrolled DuckDB twin; refit scores are the trunc-1e6 ln idiom.

    Scale: forward and backward passes are both <= 12 supersteps of
    equi-join + max-of-struct combinable aggregation over
    DISTINCT-word-keyed frames (vocabulary-bounded); the M-step reduce
    is one map-side-combinable piece agg. Corpus size enters only the
    initial tokenize pass."""
    from ..operators.bpe import unigram_viterbi_paths, unigram_vocab, word_frequencies

    d = load_table(spark, sf_dir, "documents")
    words = word_frequencies(d).localCheckpoint()
    vocab = unigram_vocab(words).localCheckpoint()
    path = unigram_viterbi_paths(words, vocab)
    cnt = path.groupBy("piece").agg(F.sum("n").cast("bigint").alias("path_cnt"))
    tot = cnt.agg(F.sum("path_cnt").alias("tot"))
    refit = cnt.crossJoin(F.broadcast(tot)).select(
        "piece",
        "path_cnt",
        F.expr(
            "CAST(ln(CAST(path_cnt AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e6 AS BIGINT)"
        ).alias("new_s_e6"),
    )
    return (
        vocab.join(refit, "piece", "left")
        .select(
            "piece",
            F.coalesce("path_cnt", F.lit(0)).cast("bigint").alias("path_cnt"),
            F.col("s_e6").alias("old_s_e6"),
            "new_s_e6",
        )
        .orderBy("piece")
    )


@query(
    "rouge2_adjacent_eval",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, list_distinct({shingles_sql('text', 2)}) AS g
        FROM documents
    ), pairs AS (
        SELECT c.doc_id AS cand_id, r.doc_id AS ref_id,
               CAST(len(list_intersect(c.g, r.g)) AS BIGINT) AS n_overlap,
               CAST(len(c.g) AS BIGINT) AS n_cand,
               CAST(len(r.g) AS BIGINT) AS n_ref
        FROM grams c JOIN grams r ON r.doc_id = c.doc_id + 1
    )
    SELECT cand_id, ref_id, n_overlap, n_cand, n_ref,
           CAST(CASE WHEN n_cand = 0 THEN 0
                ELSE n_overlap * 1000000 // n_cand END AS BIGINT)
               AS precision_e6,
           CAST(CASE WHEN n_ref = 0 THEN 0
                ELSE n_overlap * 1000000 // n_ref END AS BIGINT) AS recall_e6,
           CAST(CASE WHEN n_cand + n_ref = 0 THEN 0
                ELSE 2 * n_overlap * 1000000 // (n_cand + n_ref) END AS BIGINT)
               AS f1_e6
    FROM pairs
    ORDER BY cand_id
    """,
)
def rouge2_adjacent_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 (distinct-bigram overlap P/R/F1, Lin 2004) on the
    deterministic adjacent-id pair set — doc i as the 'candidate', doc
    i+1 as the 'reference'. The generation-eval counterpart of
    `adjacent_doc_jaccard`: same fixed pair discipline (pins the metric
    arithmetic independent of any candidate-generation stage), different
    statistic (directional n-gram precision/recall rather than symmetric
    set overlap). Distinct bigrams, not multiset-clipped counts — the
    deviation is documented here and holds identically in both engines.

    Exactness: every metric is int64 counts and integer division. Scale:
    grams are computed once per doc (map-side transform over token
    indices, no explode), and the pair join is id+1 equi-join — at 100 TB
    a real eval joins candidate/reference by example_id exactly like
    this; nothing here is quadratic."""
    from ..functions.text import shingles

    d = load_table(spark, sf_dir, "documents")
    grams = d.select("doc_id", F.array_distinct(shingles("text", 2)).alias("g"))
    c = grams.select(
        F.col("doc_id").alias("cand_id"), F.col("g").alias("cg")
    )
    r = grams.select(F.col("doc_id").alias("ref_id"), F.col("g").alias("rg"))
    pairs = c.join(r, F.col("ref_id") == F.col("cand_id") + 1).select(
        "cand_id",
        "ref_id",
        F.size(F.array_intersect("cg", "rg")).cast("bigint").alias("n_overlap"),
        F.size("cg").cast("bigint").alias("n_cand"),
        F.size("rg").cast("bigint").alias("n_ref"),
    )
    return pairs.select(
        "cand_id",
        "ref_id",
        "n_overlap",
        "n_cand",
        "n_ref",
        F.when(F.col("n_cand") == 0, F.lit(0))
        .otherwise(F.expr("n_overlap * 1000000 div n_cand"))
        .cast("bigint")
        .alias("precision_e6"),
        F.when(F.col("n_ref") == 0, F.lit(0))
        .otherwise(F.expr("n_overlap * 1000000 div n_ref"))
        .cast("bigint")
        .alias("recall_e6"),
        F.when(F.col("n_cand") + F.col("n_ref") == 0, F.lit(0))
        .otherwise(F.expr("2 * n_overlap * 1000000 div (n_cand + n_ref)"))
        .cast("bigint")
        .alias("f1_e6"),
    ).orderBy("cand_id")


def _wordpiece_cte_parts(n_multi: int = 50) -> list[str]:
    """Unrolled-CTE DuckDB twin of operators/bpe.py::wordpiece_encode —
    the greedy longest-match walk as one (candidates -> vocab join ->
    MAX L) CTE triple per step, 12 steps (words cap at _UNI_MAX_WORD).
    Every multiply-referenced CTE is MATERIALIZED (the unigram-oracle
    lesson: un-hinted, a 12-level chain referenced twice per level
    expands exponentially)."""
    piece_case = (
        "CASE WHEN {t}.pos = 0 THEN substr({t}.word, {t}.pos + 1, CAST({t}.L AS INT))"
        " ELSE '##' || substr({t}.word, {t}.pos + 1, CAST({t}.L AS INT)) END"
    )
    parts = [
        f"""w0 AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest({tokenize_sql('text')}) AS w
              FROM documents WHERE text IS NOT NULL)
        GROUP BY w
    ), wcap AS MATERIALIZED (
        SELECT w, n FROM w0 WHERE length(w) <= 12
    ), occ AS MATERIALIZED (
        SELECT CASE WHEN pe.p_end - kk.k = 0
                    THEN substr(wc.w, pe.p_end - kk.k + 1, CAST(kk.k AS INT))
                    ELSE '##' || substr(wc.w, pe.p_end - kk.k + 1, CAST(kk.k AS INT))
               END AS form,
               kk.k AS plen, wc.n
        FROM wcap wc,
             unnest(generate_series(1, length(wc.w))) AS pe(p_end),
             unnest(generate_series(1, least(4, pe.p_end))) AS kk(k)
    ), pf AS MATERIALIZED (
        SELECT form, plen, CAST(SUM(n) AS BIGINT) AS wgt FROM occ
        GROUP BY form, plen
    ), vocab AS MATERIALIZED (
        SELECT form AS piece FROM pf WHERE plen = 1
        UNION ALL
        (SELECT form FROM pf WHERE plen > 1
         ORDER BY wgt DESC, form LIMIT {n_multi})
    ), s0 AS MATERIALIZED (
        SELECT w AS word, n, 0 AS pos FROM wcap
    )"""
    ]
    for k in range(1, 13):
        cand_piece = piece_case.format(t="c")
        hit_piece = piece_case.format(t="h")
        parts.append(
            f"""c{k} AS (
        SELECT s.word, s.n, s.pos, ll.L
        FROM s{k - 1} s CROSS JOIN unnest([4, 3, 2, 1]) AS ll(L)
        WHERE s.pos + ll.L <= length(s.word)
    ), h{k} AS MATERIALIZED (
        SELECT c.word, c.n, c.pos, MAX(c.L) AS L
        FROM c{k} c JOIN vocab v ON v.piece = {cand_piece}
        GROUP BY c.word, c.n, c.pos
    ), e{k} AS (
        SELECT h.word, h.n, {hit_piece} AS piece FROM h{k} h
    ), s{k} AS MATERIALIZED (
        SELECT word, n, pos + L AS pos FROM h{k}
        WHERE pos + L < length(word)
    )"""
        )
    return parts


def _wordpiece_oracle_sql(n_multi: int = 50, top_k: int = 50) -> str:
    """Piece-count twin: group the walk emissions by piece."""
    parts = _wordpiece_cte_parts(n_multi)
    emits = "\n        UNION ALL ".join(f"SELECT n, piece FROM e{k}" for k in range(1, 13))
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT piece, CAST(SUM(n) AS BIGINT) AS n_tokens
    FROM ({emits})
    GROUP BY piece ORDER BY n_tokens DESC, piece LIMIT {top_k}
    """
    )


@query("wordpiece_token_counts", oracle=_wordpiece_oracle_sql())
def wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenization of the corpus — the third subword family
    next to BPE (merge training) and the unigram LM (Viterbi): a
    position-marked vocabulary (ALL '##'-marked single chars + top-50
    multi-char forms by weighted frequency) and the greedy
    longest-match-first walk per distinct word, weighted back by word
    frequency. Top-50 pieces by corpus token count.

    Scale: training-on-the-vocabulary (the BPE trick) — every frame is
    keyed on DISTINCT words, never the corpus; the walk is <= 12
    broadcast-join supersteps (operators/bpe.py::wordpiece_encode), and
    corpus weighting rides the word-frequency table computed in one
    map-side-combined pass. Both engines replay the identical greedy
    walk, so the piece table is bit-identical."""
    from ..operators.bpe import wordpiece_encode, wordpiece_vocab, word_frequencies

    d = load_table(spark, sf_dir, "documents")
    # pin the word table and the vocabulary (the unigram/BPE discipline):
    # every one of the <= 12 greedy supersteps broadcast-joins the vocab
    # and the early steps chain straight to the word table — un-pinned,
    # both re-derive their corpus scan per step (64 scans measured)
    words = word_frequencies(d).localCheckpoint()
    vocab = wordpiece_vocab(words, n_multi=50).localCheckpoint()
    enc = wordpiece_encode(words, vocab)
    return (
        enc.groupBy("piece")
        .agg(F.sum("n").cast("bigint").alias("n_tokens"))
        .orderBy(F.desc("n_tokens"), "piece")
        .limit(50)
    )


def _fertility_oracle_sql(n_multi: int = 50) -> str:
    """Per-language fertility twin: the wordpiece walk chain (shared CTE
    builder) collapsed to per-word piece counts, joined back onto the
    per-language token stream."""
    parts = _wordpiece_cte_parts(n_multi)
    emits = "\n        UNION ALL ".join(
        f"SELECT word, piece FROM e{k}" for k in range(1, 13)
    )
    parts.append(
        f"""wp AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
        FROM ({emits}) GROUP BY word
    ), tok AS (
        SELECT lang, w FROM (
            SELECT lang, unnest({tokenize_sql('text')}) AS w
            FROM documents WHERE text IS NOT NULL)
        WHERE length(w) <= 12
    )"""
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + """
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wp.n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(length(t.w)) AS BIGINT) AS n_chars,
           CAST(SUM(wp.n_pieces) * 1000000 // COUNT(*) AS BIGINT)
               AS fertility_e6,
           CAST(SUM(length(t.w)) * 1000000 // SUM(wp.n_pieces) AS BIGINT)
               AS chars_per_piece_e6
    FROM tok t JOIN wp ON wp.word = t.w
    GROUP BY t.lang ORDER BY t.lang
    """
    )


@query("tokenizer_fertility_by_lang", oracle=_fertility_oracle_sql())
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — the eval that decides whether a
    vocabulary serves all languages fairly (Rust et al. 2021): pieces per
    word and chars per piece under the WordPiece segmentation, per lang.
    High fertility for a language means its text costs more tokens per
    unit of content — the readout multilingual-corpus builders weigh
    against the temperature-mix (`source_mixture_weights`).

    Scale: the greedy walk runs ONCE over distinct words (vocabulary-
    bounded); the corpus pass is one token explode joined to the
    broadcast word->piece-count table, then a lang-keyed combinable agg —
    the encode-by-broadcast pattern the wordpiece/unigram operators
    document. Words above the 12-char operator cap are excluded on BOTH
    sides (the cap is part of the operator contract). All reported
    numbers are int64 counts and integer division."""
    from ..operators.bpe import (
        _UNI_MAX_WORD,
        wordpiece_encode,
        wordpiece_vocab,
        word_frequencies,
    )

    d = load_table(spark, sf_dir, "documents")
    # same words/vocab pin as wordpiece_token_counts (65 scans un-pinned);
    # wp is word-dimension sized and fans into the broadcast join, so pin
    # it too — the 12-superstep walk then executes exactly once
    words = word_frequencies(d).localCheckpoint()
    vocab = wordpiece_vocab(words, n_multi=50).localCheckpoint()
    enc = wordpiece_encode(words, vocab)
    wp = (
        enc.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n_pieces"))
        .localCheckpoint()
    )
    tok = (
        d.filter(F.col("text").isNotNull())
        .select("lang", F.explode(tokenize("text")).alias("w"))
        .filter(F.length("w") <= _UNI_MAX_WORD)
    )
    return (
        tok.join(F.broadcast(wp), tok.w == wp.word)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.expr("SUM(n_pieces) * 1000000 div COUNT(*)")
            .cast("bigint")
            .alias("fertility_e6"),
            F.expr("SUM(length(w)) * 1000000 div SUM(n_pieces)")
            .cast("bigint")
            .alias("chars_per_piece_e6"),
        )
        .orderBy("lang")
    )


@query(
    "doremi_domain_reweighting",
    oracle=f"""
    WITH occ AS (
        SELECT source, unnest({tokenize_sql('text')}) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM occ GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
    dom AS (
        SELECT occ.source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(trunc(-ln(CAST(freq.cnt AS DOUBLE) / tot.total)
                                   * 1e6) AS BIGINT)) AS BIGINT) AS nll_sum_e6
        FROM occ JOIN freq USING (token) CROSS JOIN tot
        GROUP BY occ.source
    ),
    scored AS (
        SELECT source, n_tokens, nll_sum_e6 // n_tokens AS mean_nll_e6 FROM dom
    ),
    base AS (
        SELECT CAST(SUM(mean_nll_e6) // COUNT(*) AS BIGINT) AS avg_nll_e6
        FROM scored
    ),
    wts AS (
        SELECT s.source, s.n_tokens, s.mean_nll_e6,
               s.mean_nll_e6 - b.avg_nll_e6 AS excess_e6,
               CAST(trunc(exp(CAST(s.mean_nll_e6 - b.avg_nll_e6 AS DOUBLE)
                              / 1e6) * 1e6) AS BIGINT) AS weight_e6
        FROM scored s CROSS JOIN base b
    ),
    wtot AS (SELECT CAST(SUM(weight_e6) AS BIGINT) AS wt FROM wts)
    SELECT source, n_tokens, mean_nll_e6, excess_e6, weight_e6,
           ROUND(CAST(weight_e6 AS DOUBLE) / wtot.wt, 6) AS mix_share
    FROM wts CROSS JOIN wtot
    ORDER BY source
    """,
)
def doremi_domain_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exponentiated-gradient step of DoReMi-style domain reweighting
    (Xie et al. 2023, reduced to its EG core): each source's "excess
    loss" is its mean per-token negative log-probability under the
    corpus unigram LM minus the cross-domain average, and the new mixture
    weight is uniform * exp(eta * excess) renormalized (eta = 1) — harder
    domains get upweighted, the data-mixing counterpart of
    `source_mixture_weights`' temperature smoothing.

    Determinism: per-token NLL trunc-scales to e6 int64 and sums exactly
    (the unigram_logprob_scores discipline, shared-libm ln); means are
    floor divisions; the single exp() per SOURCE evaluates one identical
    double expression in both engines and immediately trunc-scales; the
    normalizing denominator is an exact integer sum, and the final share
    is one correctly-rounded double division.

    Scale: one corpus token explode (ingest-time class), the token-keyed
    frequency join, then everything downstream is source-dimension-sized
    — the EG step itself costs nothing at any scale."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select("source", F.explode(tokenize("text")).alias("token"))
    # vocab-sized; pinned so the LM-build explode runs once, and the
    # total derives from the pinned table instead of a fresh corpus pass
    freq = occ.groupBy("token").agg(F.count("*").alias("cnt")).localCheckpoint()
    total = freq.agg(F.sum("cnt").cast("bigint").alias("total"))
    nll = (
        -F.log(F.col("cnt").cast("double") / F.col("total")) * 1e6
    ).cast("bigint")
    dom = (
        occ.join(freq.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(nll).cast("bigint").alias("nll_sum_e6"),
        )
    )
    # source-dimension sized; pinned because base and wts both consume it
    # — un-pinned each re-ran the corpus-sized scoring join (12 scans)
    scored = dom.select(
        "source",
        "n_tokens",
        F.expr("nll_sum_e6 div n_tokens").alias("mean_nll_e6"),
    ).localCheckpoint()
    base = scored.agg(
        F.expr("SUM(mean_nll_e6) div COUNT(*)").cast("bigint").alias("avg_nll_e6")
    )
    wts = scored.crossJoin(F.broadcast(base)).select(
        "source",
        "n_tokens",
        "mean_nll_e6",
        (F.col("mean_nll_e6") - F.col("avg_nll_e6")).alias("excess_e6"),
        F.expr(
            "CAST(exp(CAST(mean_nll_e6 - avg_nll_e6 AS DOUBLE) / 1e6) * 1e6"
            " AS BIGINT)"
        ).alias("weight_e6"),
    )
    wtot = wts.agg(F.sum("weight_e6").cast("bigint").alias("wt"))
    return (
        wts.crossJoin(F.broadcast(wtot))
        .select(
            "source",
            "n_tokens",
            "mean_nll_e6",
            "excess_e6",
            "weight_e6",
            F.round(F.col("weight_e6").cast("double") / F.col("wt"), 6).alias(
                "mix_share"
            ),
        )
        .orderBy("source")
    )


# Tiny keyword -> topic taxonomy for dictionary tagging. Production
# taxonomies run to 10^5-10^6 surface forms (product catalogs, MeSH,
# safety terms) — still KB-MB, i.e. broadcast-sized by construction.
_TAXONOMY: dict[str, list[str]] = {
    "storage": ["table", "row", "column", "part"],
    "execution": ["scan", "join", "merge", "sort", "hash"],
    "streaming": ["stream", "window", "batch"],
}


@query(
    "taxonomy_tag_counts",
    oracle=f"""
    WITH dict(token, topic) AS (VALUES {", ".join(
        f"('{t}', '{topic}')" for topic, ts in _TAXONOMY.items() for t in ts
    )}),
    tok AS (
        SELECT doc_id, source, unnest({tokenize_sql('text')}) AS token
        FROM documents
    )
    SELECT source, topic,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM tok JOIN dict USING (token)
    GROUP BY source, topic
    """,
)
def taxonomy_tag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary tagging (the FlashText / Aho-Corasick pipeline stage,
    DataFrame-shaped): tag every token occurrence against a broadcast
    keyword->topic taxonomy and roll up per (source, topic) — docs
    reached and total keyword occurrences. This is how corpus curation
    attaches topic/domain/safety labels at scale when a classifier is too
    expensive: the taxonomy is planning-sized data (even 10^6 surface
    forms are MBs), so the tag step is a broadcast equi-join against the
    exploded token stream — never a per-row Python matcher.

    Scale: one linear tokenize+explode pass (the engine's hottest shape,
    shared with term_frequencies); the join side is an explicitly
    broadcast ~KB dimension (size bounded by the TAXONOMY, not the
    corpus — unlike the dup-rate-dependent frames of VERDICT r8); the
    rollup partial-aggregates map-side on (source, topic), a domain
    bounded by |sources| x |topics|."""
    d = load_table(spark, sf_dir, "documents")
    dict_rows = [
        (t, topic) for topic, ts in _TAXONOMY.items() for t in ts
    ]
    dict_df = spark.createDataFrame(dict_rows, "token string, topic string")
    tok = d.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("token")
    )
    return (
        tok.join(F.broadcast(dict_df), "token")
        .groupBy("source", "topic")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
        )
    )


@query(
    "token_budget_selection",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(tok) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(tok)) AS BIGINT) AS n_types
        FROM (SELECT doc_id, source, {tokenize_sql('text')} AS tok FROM documents)
        WHERE len(tok) > 0
    ),
    q AS (SELECT *, (1000000 * n_types) // n_tok AS quality_ppm FROM toks),
    c AS (SELECT *, SUM(n_tok) OVER (
              ORDER BY quality_ppm DESC, doc_id ASC) AS cum FROM q),
    t AS (SELECT SUM(n_tok) AS total FROM toks)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_selected,
           CAST(MIN(quality_ppm) AS BIGINT) AS worst_quality_ppm
    FROM c, t
    WHERE cum - n_tok < total // 2
    GROUP BY source
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data pruning under a TOKEN BUDGET (the SemDeDup/D4/"data-constrained
    scaling" selection stage): rank every document by a deterministic
    quality proxy — type-token ratio in exact ppm — and keep documents
    best-first until the selection holds half the corpus's tokens (a doc
    is admitted if it STARTS inside the budget, the greedy-prefix
    convention). One row per source: how many docs and tokens that source
    contributes to the selected pool, plus its worst admitted quality —
    the per-source composition shift a curation team reviews before
    committing a budget cut.

    Scale: the global best-first order is NOT a single-partition window —
    operators/ranking.py::global_prefix_sum range-partitions on the order
    keys, cumsums inside each partition, and prefix-sums the <=P per-
    partition TOTALS driver-side (metadata, not data) — the same
    two-pass discipline as scalable_ntile; the token budget itself is a
    1-row broadcast scalar. Everything upstream is one linear tokenize
    pass."""
    from ..operators.ranking import global_prefix_sum

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "source",
            F.size(tokenize("text")).cast("bigint").alias("n_tok"),
            F.size(F.array_distinct(tokenize("text"))).cast("bigint").alias("n_types"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("quality_ppm", F.expr("(1000000 * n_types) div n_tok"))
    )
    total = toks.agg(F.sum("n_tok").alias("__total"))
    ranked = global_prefix_sum(
        toks,
        [F.col("quality_ppm").desc(), F.col("doc_id").asc()],
        "n_tok",
        cumsum_col="__cum",
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .filter(F.col("__cum") - F.col("n_tok") < F.expr("__total div 2"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_selected"),
            F.sum("n_tok").cast("bigint").alias("tokens_selected"),
            F.min("quality_ppm").cast("bigint").alias("worst_quality_ppm"),
        )
    )


@query(
    "truncation_loss_report",
    oracle=f"""
    WITH per_doc AS (
        SELECT source, len({tokenize_sql('text')}) AS n_tok FROM documents
    )
    SELECT source, context_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_tok > context_len THEN 1 ELSE 0 END) AS BIGINT)
               AS n_truncated,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(greatest(n_tok - context_len, 0)) AS BIGINT) AS tokens_lost
    FROM per_doc CROSS JOIN (SELECT unnest([16, 64, 256]) AS context_len)
    GROUP BY source, context_len
    """,
)
def truncation_loss_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation diagnostics — the report a pretraining
    team reads before fixing max_seq_len: for each candidate context
    length, how many documents per source exceed it and how many tokens
    the cut discards (truncation both loses data AND biases the tail of
    long documents out of training; RefinedWeb/Llama data notes). One
    row per (source, context_len) with doc/token totals, truncated-doc
    and lost-token counts — all exact integers.

    Scale: one linear pass computes per-document token counts; the
    3-point candidate grid rides as an exploded literal (3x fan-out of a
    two-column frame, NOT of the text); one partial-aggregated groupBy
    on (source, context_len) — dimension-sized output, no skew, no
    second scan of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source", F.size(tokenize("text")).cast("long").alias("n_tok")
    ).withColumn("context_len", F.explode(F.expr("array(16, 64, 256)")))
    return per_doc.groupBy("source", "context_len").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_tok") > F.col("context_len"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_truncated"),
        F.sum("n_tok").cast("bigint").alias("tokens_total"),
        F.sum(F.greatest(F.col("n_tok") - F.col("context_len"), F.lit(0)))
        .cast("bigint")
        .alias("tokens_lost"),
    )


@query(
    "distinct_n_diversity",
    oracle=f"""
    WITH uni AS (
        SELECT source, unnest({tokenize_sql('text')}) AS g FROM documents
    ), bi AS (
        SELECT source, unnest({shingles_sql('text', 2)}) AS g FROM documents
    ), tri AS (
        SELECT source, unnest({shingles_sql('text', 3)}) AS g FROM documents
    )
    SELECT source, n, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_distinct AS BIGINT) AS n_distinct
    FROM (
        SELECT source, 1 AS n, COUNT(*) AS n_grams,
               COUNT(DISTINCT g) AS n_distinct FROM uni GROUP BY source
        UNION ALL
        SELECT source, 2, COUNT(*), COUNT(DISTINCT g) FROM bi GROUP BY source
        UNION ALL
        SELECT source, 3, COUNT(*), COUNT(DISTINCT g) FROM tri GROUP BY source
    )
    """,
)
def distinct_n_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity via distinct-n (Li et al. 2016): per source, total
    and distinct n-gram counts for n = 1, 2, 3 — distinct/total is the
    diversity ratio that synthetic-data curation gates on (mode-collapsed
    generations repeat n-grams; a falling distinct-2 is the standard
    early-warning). Counts stay exact integers; the ratio is downstream
    arithmetic.

    Scale: one tokenize pass fans out to the three gram streams via
    posexplode of per-row arrays (linear in corpus grams); each branch is
    a partial-aggregated count + COUNT(DISTINCT) keyed by source — Spark
    plans distinct-agg as a two-stage expand + partial agg, never a
    corpus-wide collect. Three scans of documents (one per n) stay well
    under the lint's 7-scan cap; sharing one scan would force a 3x-wider
    exploded frame through a single shuffle for no measured win."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions.text import shingles

    branches = []
    for n in (1, 2, 3):
        grams = tokenize("text") if n == 1 else shingles("text", n)
        branches.append(
            d.select("source", F.explode(grams).alias("g"))
            .groupBy("source")
            .agg(
                F.count("*").cast("bigint").alias("n_grams"),
                F.countDistinct("g").cast("bigint").alias("n_distinct"),
            )
            .select("source", F.lit(n).alias("n"), "n_grams", "n_distinct")
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out
