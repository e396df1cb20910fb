"""Keyword full-text search — the reference system's core query.

Reference: Mongo ``$text`` search over the ``text`` field (api.py:22-26),
semantics pinned by its API tests (api-test:45-60): tokenized,
case-insensitive, OR across query terms; unknown token -> empty result (not
an error, api-test:40-43). Stemming is a documented deviation (Mongo's
analyzer-dependent stemming is not reproduced; the reference tests only
exercise exact-token match).

Three execution strategies:
- ``keyword_search``: brute-force tokenize + ``arrays_overlap`` scan.
  Catalyst-native, whole-stage codegen, perfect at test scale.
- ``build_inverted_index`` + ``indexed_keyword_search``: ``(token, doc_id)``
  postings built in the query's own plan, then a semi-join of the probed
  keys back to the corpus.
- The persisted L2 posting layout: ``materialize_bm25_index`` writes the
  ``(key, dl, token, tf)`` postings once at ingest (replacing Mongo's text
  index, which the reference re-creates per request, api.py:22),
  partitioned by token bucket, so a probe is a pruned scan, not a full
  corpus pass. The layout is one relation: it serves the keyword probe
  (``search_with_materialized_index``), and the BM25 rankers derive the
  corpus scalars from its rows.

Each search request is one Spark SQL statement over the relations it
reads, so it is parsed and analyzed once; a chain of DataFrame calls
costs py4j round trips and an analysis per call.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.text import s_stem_py, tokenize, tokenize_spark_sql, tokenize_stemmed
from ..tables import file_signature, read_layout


def query_tokens(keyword: str) -> list[str]:
    """Tokenize the query string driver-side (same rules as the data side).

    The data side splits on ``[^\\p{L}\\p{N}]+`` — underscore is a
    SEPARATOR there. ``[\\W_]+`` reproduces that in Python (``\\W`` alone
    would keep '_' inside tokens, producing query tokens like 'foo_bar'
    that can never match any data token)."""
    return [t for t in re.split(r"[\W_]+", keyword.lower(), flags=re.UNICODE) if t]


def keyword_search(df: DataFrame, keyword: str, text_col: str = "text") -> DataFrame:
    """Rows whose ``text_col`` contains any query token (OR semantics).

    A token match implies a substring match, so a cheap ``contains`` guard
    runs first: it's a simple predicate (pushable to the scan / evaluated in
    codegen) that short-circuits the expensive tokenize+overlap filter for
    the vast majority of non-matching rows.
    """
    return _keyword_search(df, keyword, text_col, "*")


def _keyword_search(df: DataFrame, keyword: str, text_col: str, columns: str) -> DataFrame:
    """:func:`keyword_search` projecting the SQL select list ``columns``:
    one statement, parsed and analyzed once, instead of a chain of
    DataFrame calls that each cost py4j round trips and an analysis."""
    toks = query_tokens(keyword)
    where = "false"
    if toks:
        text = _ident(text_col)
        guard = " OR ".join(f"contains(lower({text}), {_lit(t)})" for t in toks)
        overlap = f"arrays_overlap({tokenize_spark_sql(text)}, array({_lits(toks)}))"
        where = f"({guard}) AND {overlap}"
    return df.sparkSession.sql(f"SELECT {columns} FROM {{df}} WHERE {where}", df=df)


def _lit(value: str) -> str:
    """A SQL string literal for a ``spark.sql(text, **frames)`` statement:
    quotes and backslashes escaped for the parser, braces doubled for the
    formatter."""
    escaped = value.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + escaped.replace("{", "{{").replace("}", "}}") + "'"


def _lits(values) -> str:
    return ", ".join(_lit(v) for v in values)


def _ident(name: str) -> str:
    """A quoted SQL identifier, braces doubled for the formatter."""
    return "`" + name.replace("`", "``").replace("{", "{{").replace("}", "}}") + "`"


def _double(x: float | None) -> str:
    """A DOUBLE literal: ``repr`` round-trips every finite double exactly,
    and without the ``D`` suffix Spark parses ``0.5`` as DECIMAL."""
    return "CAST(NULL AS DOUBLE)" if x is None else f"{float(x)!r}D"


def _analyzed_keyword_search(
    df: DataFrame, keyword: str, text_col: str, analyze_py, tokenize_col
) -> DataFrame:
    """OR-overlap of the driver-side analyzed query tokens (``analyze_py``
    per token) with the data-side analyzed token array (``tokenize_col``).
    No ``contains`` pre-guard: an analyzed token ('fly' from 'flies',
    'cafe' from 'café') need not be a substring of the raw text, so the
    guard would drop true hits."""
    toks = sorted({analyze_py(t) for t in query_tokens(keyword)})
    if not toks:
        return df.limit(0)
    return df.filter(
        F.arrays_overlap(tokenize_col(text_col), F.array(*[F.lit(t) for t in toks]))
    )


def keyword_search_stemmed(df: DataFrame, keyword: str, text_col: str = "text") -> DataFrame:
    """Stemmed keyword search: S-stem both the query tokens and the data
    tokens, then OR-overlap — analyzer parity with Mongo ``$text``'s English
    stemming (the one semantic the plain :func:`keyword_search` documents as
    a deviation; reference api.py:22-26). 'queries joins' matches documents
    containing 'query' or 'join'."""
    return _analyzed_keyword_search(df, keyword, text_col, s_stem_py, tokenize_stemmed)


def keyword_search_folded(df: DataFrame, keyword: str, text_col: str = "text") -> DataFrame:
    """Diacritic-insensitive keyword search: fold accents on both the query
    tokens (driver-side) and the data tokens, then OR-overlap — the second
    half of Mongo ``$text`` analyzer parity ($text is diacritic-insensitive
    by default; s_stem covers the stemming half). 'cafe' matches 'café' and
    vice versa."""
    from ..functions.text import fold_accents_py, tokenize_folded

    return _analyzed_keyword_search(df, keyword, text_col, fold_accents_py, tokenize_folded)


def build_inverted_index(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """(token, key) posting table: explode distinct tokens per document,
    in the query's own plan. The persisted layout is
    :func:`materialize_bm25_index`'s."""
    return df.select(
        F.col(key_col), F.explode(F.array_distinct(tokenize(text_col))).alias("token")
    )


def _token_bucket(token) -> "F.Column":
    """Partition key for the posting table: the token's first character
    (letters/digits), '_' otherwise. Driver-computable for pruning."""
    first = F.substring(token, 1, 1)
    return F.when(first.rlike("[a-z0-9]"), first).otherwise(F.lit("_"))


def _token_buckets_py(toks: list[str]) -> list[str]:
    """The driver-side copy of :func:`_token_bucket` for a probe's tokens:
    EXACTLY the column rule — ASCII [a-z0-9] keeps its first char,
    everything else (incl. non-ASCII letters: 'über', '日本') buckets under
    '_'. Python's Unicode-aware isalnum() here would probe bucket 'ü' while
    the postings live under '_' — silent zero hits."""
    return sorted(
        {t[0] if t[0] in "0123456789abcdefghijklmnopqrstuvwxyz" else "_" for t in toks}
    )


def _probe(toks: list[str]) -> str:
    """The pruning predicate of a token-bucketed posting layout: partition
    pruning on the bucket plus token equality, both pushed to the scan."""
    return f"bucket IN ({_lits(_token_buckets_py(toks))}) AND token IN ({_lits(toks)})"


def append_to_inverted_index(
    df: DataFrame, key_col: str, path: str, text_col: str = "text"
) -> None:
    """Incremental index maintenance: append the postings of newly
    ingested documents to a posting layout (``path`` is a
    :func:`materialize_bm25_index` layout or one built by appends alone)
    — REFRESH semantics for op 14's index; the reference recreated its
    index per request (api.py:22). The corpus scalars derive from the
    postings, so the keyword probe and BM25 both see the appended
    documents."""
    _write_postings(df, key_col, path, text_col, "append")


def _write_postings(df: DataFrame, key_col: str, path: str, text_col: str, mode: str) -> None:
    """The one writer of the token-bucketed posting layout: the
    :func:`_postings` rows partitioned by token first-char bucket and
    sorted by token within partitions, so a probe prunes to the query
    tokens' partitions and row groups. ``mode`` is ``overwrite`` or
    ``append``."""
    (
        _postings(df, key_col, text_col)
        .withColumn("bucket", _token_bucket(F.col("token")))
        .repartition("bucket")
        .sortWithinPartitions("token")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def search_with_materialized_index(
    spark, df: DataFrame, index_path: str, key_col: str, keyword: str
) -> DataFrame:
    """Probe a persisted posting layout (a :func:`materialize_bm25_index`
    layout): partition pruning on the token prefix + token
    equality (both pushed to the scan) -> broadcast semi-join back to the
    corpus. An index built from no documents matches nothing."""
    toks = query_tokens(keyword)
    index = read_layout(spark, index_path) if toks else None
    if index is None:
        return df.limit(0)
    return _semi_join(df, index, key_col, _probe(toks))


def indexed_keyword_search(df: DataFrame, index: DataFrame, key_col: str, keyword: str) -> DataFrame:
    """Semi-join search: probe the posting table, join back to the corpus.

    The probe side is tiny (bounded by the matching postings), so it is
    broadcast — no full-corpus tokenize pass.
    """
    toks = query_tokens(keyword)
    if not toks:
        return df.limit(0)
    return _semi_join(df, index, key_col, f"token IN ({_lits(toks)})")


def _semi_join(df: DataFrame, postings: DataFrame, key_col: str, probe: str) -> DataFrame:
    """The corpus rows whose key a posting probe hits, as one statement:
    a broadcast left-semi join, which returns each corpus row at most once
    however many postings hit it, so the probe needs no ``distinct``."""
    key = _ident(key_col)
    return df.sparkSession.sql(
        f"SELECT /*+ BROADCAST(hits) */ c.* FROM {{df}} c LEFT SEMI JOIN "
        f"(SELECT {key} FROM {{postings}} WHERE {probe}) hits ON c.{key} = hits.{key}",
        df=df,
        postings=postings,
    )


def materialize_bm25_index(
    df: DataFrame, key_col: str, path: str, text_col: str = "text"
) -> None:
    """Persist the L2 posting layout at ``path`` (DEPLOY.md L2 + the 'BM25
    per-doc lengths' entry of the ingest-time materialization list): one
    ``(key, dl, token, tf)`` row per (document, token), written by
    :func:`_write_postings` — the one relation the keyword probe
    (:func:`search_with_materialized_index`) and the BM25 rankers read.
    Incremental ingest appends to it (:func:`append_to_inverted_index`).

    Nothing else is persisted: df-per-token is an exact count of the
    pruned probe's rows, and the corpus scalars ``(n_docs, avgdl)`` are
    the distinct ``(key, dl)`` rows' count and mean (:func:`_corpus_stats`),
    so both stay correct under appends without a rebuild.
    """
    _write_postings(df, key_col, path, text_col, "overwrite")


def _postings(
    df: DataFrame,
    key_col: str,
    text_col: str,
    toks: list[str] | None = None,
    stats: Observation | None = None,
) -> DataFrame:
    """The ``(key, dl, token, tf)`` posting rows, one per (document,
    token): the one derivation behind the L2 posting layout and the
    in-memory rankers. ``dl`` is the document's token count, a per-row
    array size carried on each row, so no corpus-wide length relation is
    joined back. With ``toks`` the token array is filtered BEFORE the
    explode, so only query-token occurrences generate rows
    (~|toks|/|vocab| of the corpus). With ``stats`` the documents are
    observed before the explode, so the pass that computes the rows also
    yields :func:`_doc_stat_columns`, the scalars :func:`_corpus_stats`
    derives from a layout's rows."""
    with_dl = df.select(F.col(key_col), tokenize(text_col).alias("__toks")).withColumn(
        "dl", F.size("__toks")
    )
    if stats is not None:
        with_dl = with_dl.observe(stats, *_doc_stat_columns())
    tokens = F.col("__toks") if toks is None else F.filter("__toks", lambda t: t.isin(toks))
    return (
        with_dl.select(F.col(key_col), "dl", F.explode(tokens).alias("token"))
        .groupBy(key_col, "dl", "token")
        .agg(F.count("*").alias("tf"))
    )


def _doc_stat_columns() -> tuple:
    """The aggregates of ``(n_docs, avgdl)`` over rows carrying ``dl``,
    counting only the documents with a token (``dl > 0``), as the
    layout's rows and the oracles do. Conditional aggregates, not a
    filter: Catalyst would push a ``dl > 0`` filter below the tokenize
    and tokenize each document twice."""
    dl = F.when(F.col("dl") > 0, F.col("dl"))
    return F.count(dl).alias("n_docs"), F.avg(dl).alias("avgdl")


def _pinned_postings(
    df: DataFrame, key_col: str, text_col: str, toks: list[str]
) -> tuple[DataFrame, int, float | None]:
    """The query tokens' :func:`_postings` rows, pinned, with the corpus
    scalars ``(n_docs, avgdl)`` observed on the same pass, so the corpus
    is tokenized once per in-memory ranking. Executor-loss caveat:
    localCheckpoint blocks are non-replicated and non-recomputable — see
    dedup.lsh_candidate_pairs's availability note."""
    stats = Observation()
    rows = _postings(df, key_col, text_col, toks, stats).localCheckpoint()
    if not rows.rdd.getNumPartitions():
        # no document holds a query token: adaptive execution drops the
        # empty shuffle stage, and the metrics observed in it, from the
        # plan; the ranking of no rows is empty whatever the scalars
        return rows, 0, None
    got = stats.get
    return rows, got["n_docs"], got["avgdl"]


def bm25_rank_from_index(
    spark,
    index_path: str,
    keyword: str,
    key_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 over the persisted posting layout — the production read path.

    Candidate generation is the pruned index probe (`PartitionFilters` on
    the token bucket + `PushedFilters In(token, ...)`, exactly like
    `search_with_materialized_index`); tf and dl ride the probed rows, df
    is an exact count OF the probed rows, and (n_docs, avgdl) are
    derived from the layout's rows once per file set and inlined as
    literals (:func:`_corpus_stats`) — so the whole query is one statement that touches only the query tokens'
    postings, never the corpus, and runs as one Spark job: the probe is
    ranked in one task with no exchange (:func:`_rank_sql`). Scores are
    identical to :func:`bm25_rank` (same formula, same doubles). A layout
    built from no documents ranks nothing.
    """
    toks = query_tokens(keyword)
    postings = read_layout(spark, index_path) if toks else None
    if postings is None:
        return spark.range(0).select(
            F.col("id").alias(key_col), F.lit(0.0).alias("bm25")
        )
    return _rank_index(spark, index_path, postings, toks, key_col, k, k1, b)


def bm25_batch_rank_from_index(
    spark,
    index_path: str,
    keywords: list[str],
    key_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batched BM25 over the persisted posting layout: N keyword queries
    share ONE pruned index probe — the serving shape of a search service
    (or a bulk offline relevance-labeling stage), where per-query cost
    must amortize to probe/|batch|.

    The probe covers the UNION of all queries' tokens (still planning
    metadata: PartitionFilters on the token buckets + token IN (...) at
    the scan); per-token df/idf and per-(doc, token) term scores are
    computed ONCE from the probed rows and shared across queries; a
    literal ``map(token -> array(qid))`` exploded on each scored row fans
    its term score out to exactly the queries containing that token, and
    the per-query top-k is a window PARTITIONED BY qid — all in the one
    partition the probe is coalesced to, so the batch is one Spark job
    with no exchange and no join (:func:`_rank_sql`). Scores are
    bit-identical to N separate :func:`bm25_rank_from_index` calls (same
    formula, same doubles). Returns (qid, key, bm25, rk)."""
    # each token's query ids, a query's repeated token counted once: the
    # single-query path scores each posting row once regardless of how many
    # times the keyword repeats a token, so a duplicate qid here would
    # double-count term_score and break the bit-identical claim
    qids: dict[str, list[int]] = {}
    for qid, kw in enumerate(keywords):
        for t in dict.fromkeys(query_tokens(kw)):
            qids.setdefault(t, []).append(qid)
    toks = sorted(qids)
    postings = read_layout(spark, index_path) if toks else None
    if postings is None:
        return spark.range(0).select(
            F.col("id").cast("int").alias("qid"),
            F.col("id").alias(key_col),
            F.lit(0.0).alias("bm25"),
            F.col("id").cast("int").alias("rk"),
        )
    fanout = ", ".join(f"{_lit(t)}, array({', '.join(map(str, qids[t]))})" for t in toks)
    return _rank_index(spark, index_path, postings, toks, key_col, k, k1, b, f"map({fanout})")


def _rank_index(
    spark, index_path: str, postings: DataFrame, toks: list[str], key_col: str, k: int,
    k1: float, b: float, fanout: str | None = None,
) -> DataFrame:
    """:func:`_rank_sql` over a BM25 layout: the ``postings`` of ``toks``
    (pruned probe) scored with the layout's corpus scalars."""
    rows = f"SELECT {_ident(key_col)}, token, tf, dl FROM {{postings}} WHERE {_probe(toks)}"
    term = _bm25_term(k1, b, *_corpus_stats(index_path, postings, key_col))
    return spark.sql(_rank_sql(rows, key_col, "bm25", term, k, fanout), postings=postings)


def bm25_rank(
    df: DataFrame,
    key_col: str,
    keyword: str,
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25-ranked keyword search (the relevance upgrade over the
    reference's unordered Mongo cursor, api.py:26-35), in memory: the
    query tokens' :func:`_postings` rows (the rows the L2 layout stores),
    pinned by the one pass over the corpus that also observes the
    ``(n_docs, avgdl)`` scalars (:func:`_pinned_postings`), then scored
    through :func:`_bm25_term` and ranked in one Spark job with no
    exchange (:func:`_rank_sql`), so the scores are the doubles
    :func:`bm25_rank_from_index` returns.
    """
    toks = query_tokens(keyword)
    if not toks:
        return df.limit(0)
    rows, n_docs, avgdl = _pinned_postings(df, key_col, text_col, toks)
    return rows.sparkSession.sql(
        _rank_sql("SELECT * FROM {rows}", key_col, "bm25", _bm25_term(k1, b, n_docs, avgdl), k),
        rows=rows,
    )


def tfidf_rank(
    df: DataFrame,
    key_col: str,
    keyword: str,
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """TF-IDF-ranked keyword search: score = Σ_t (tf_t / dl) · idf_t with
    the smoothed idf = ln((1+N)/(1+df_t)) + 1 (sklearn's convention — no
    division-by-zero, never negative). The linear sibling of
    :func:`bm25_rank`: the same pinned posting rows and ranking
    statement, with N the observed count of documents with a token; BM25
    saturates tf,
    TF-IDF stays proportional.
    """
    toks = query_tokens(keyword)
    if not toks:
        return df.limit(0)
    rows, n_docs, _ = _pinned_postings(df, key_col, text_col, toks)
    term = f"(tf / dl) * (ln((1 + {n_docs}L) / (1 + df)) + 1.0D)"
    return rows.sparkSession.sql(
        _rank_sql("SELECT * FROM {rows}", key_col, "tfidf", term, k), rows=rows
    )


# absolute path of a layout -> (file signature, (n_docs, avgdl)); keyed like
# tables.read_parquet's schemas, so an appended or rebuilt layout is derived
# again
_stats: dict[str, tuple[tuple, tuple[int, float | None]]] = {}


def _corpus_stats(path: str, postings: DataFrame, key_col: str) -> tuple[int, float | None]:
    """The ``(n_docs, avgdl)`` of the posting layout at ``path``: the
    :func:`_doc_stat_columns` of its distinct ``(key, dl)`` rows, one per
    document with a token — the documents the in-memory rankers observe.
    Derived once per file set, so a request inlines them as literals and
    starts no scan or broadcast for them, and an append or overwrite
    derives them again."""
    files = file_signature(path)
    entry = os.path.abspath(path)
    hit = _stats.get(entry)
    if files and hit is not None and hit[0] == files:
        return hit[1]
    n_docs, avgdl = postings.select(key_col, "dl").distinct().agg(*_doc_stat_columns()).first()
    if files:
        _stats[entry] = (files, (n_docs, avgdl))
    return n_docs, avgdl


def _bm25_term(k1: float, b: float, n_docs: int, avgdl: float | None) -> str:
    """The one BM25 formula: the SQL ``term_score`` of a posting row's
    ``tf``, ``dl`` and ``df``, with the corpus scalars inlined as typed
    literals. Every BM25 entry point scores through it, so in-memory,
    single-probe and batched scores are the same doubles."""
    idf = f"ln(({n_docs}L - df + 0.5D) / (df + 0.5D) + 1.0D)"
    norm = f"{_double(1 - b)} + {_double(b)} * dl / {_double(avgdl)}"
    return f"{idf} * (tf * {_double(k1 + 1)}) / (tf + {_double(k1)} * ({norm}))"


def _rank_sql(
    rows: str, key_col: str, score: str, term: str, k: int, fanout: str | None = None
) -> str:
    """One statement that ranks the ``(key, token, tf, dl)`` posting rows
    that the query text ``rows`` selects, one row per (document, token),
    in one Spark job with no exchange: the rows are coalesced to one
    partition, where ``df`` is a count over the token, ``term`` scores
    each row and a key's ``score`` is its term scores' sum rounded to 6
    places, so neither the sum nor the top-k shuffles. The result is the
    top ``k`` keys by score, key ties ascending. With ``fanout`` (a SQL
    ``map`` from each token to the array of query ids containing it) each
    query sums the term scores of its own tokens and is ranked on its
    own: ``(qid, key, score, rk)`` with ``rk <= k``.

    The trade-off: one task ranks every probed posting, a common token's
    included, rather than spreading them over tasks at the cost of
    exchanges and more jobs. A serving request probes few postings, so
    its cost is its jobs; a request whose probe holds most postings of a
    large corpus ranks slower in the one task."""
    key = _ident(key_col)
    scored = (
        f"WITH p AS (SELECT /*+ COALESCE(1) */ * FROM ({rows})), scored AS "
        f"(SELECT {key}, token, {term} AS term_score FROM "
        f"(SELECT *, count(*) OVER (PARTITION BY token) AS df FROM p)) "
    )
    if fanout is None:
        return (
            f"{scored}SELECT {key}, round(sum(term_score), 6) AS {score} FROM scored "
            f"GROUP BY {key} ORDER BY {score} DESC, {key} LIMIT {k}"
        )
    per_query = (
        f"SELECT qid, {key}, round(sum(term_score), 6) AS {score} FROM (SELECT "
        f"explode(element_at({fanout}, token)) AS qid, {key}, term_score FROM scored) "
        f"GROUP BY qid, {key}"
    )
    return (
        f"{scored}SELECT qid, {key}, {score}, rk FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY qid ORDER BY {score} DESC, {key}) AS rk FROM ({per_query})) "
        f"WHERE rk <= {k}"
    )


def keyword_search_analyzed(df: DataFrame, keyword: str, text_col: str = "text") -> DataFrame:
    """Full-analyzer keyword search: diacritic folding + S-stemming on both
    sides (the composition of :func:`keyword_search_folded` and
    :func:`keyword_search_stemmed`) — complete Mongo ``$text`` analyzer
    parity in one predicate. 'cafés' matches 'cafe', 'CAFÉ', 'cafes'."""
    from ..functions.text import analyze_token_py, tokenize_analyzed

    return _analyzed_keyword_search(df, keyword, text_col, analyze_token_py, tokenize_analyzed)


def phrase_search(
    df: DataFrame, key_col: str, phrase: str, text_col: str = "text"
) -> DataFrame:
    """Exact-phrase search via a positional posting join: documents where
    the phrase's tokens occur CONSECUTIVELY, with the match count per
    document — Mongo $text (the reference's search, api.py:22-26) treats a
    quoted string as a phrase; this is that semantic, engine-side.

    The positional posting rows (key, pos, token) are derived in-plan (a
    posexplode of the tokenized text; the L2 posting layout holds
    ``(key, dl, token, tf)`` and no positions) and filtered to each query
    token BEFORE any join, so the n-1 self-joins are equi-joins on
    (key, pos+i) over only the filtered slices (selectivity of the rarest
    token bounds all of them). No window, no cartesian.
    """
    toks = query_tokens(phrase)
    if not toks:
        return df.limit(0).select(
            F.col(key_col), F.lit(0).cast("bigint").alias("n_occurrences")
        )
    postings = df.select(
        F.col(key_col), F.posexplode(tokenize(text_col)).alias("pos", "token")
    )
    anchor = (
        postings.filter(F.col("token") == toks[0])
        .select(key_col, F.col("pos").alias("p0"))
    )
    for i, t in enumerate(toks[1:], start=1):
        nxt = postings.filter(F.col("token") == t).select(
            F.col(key_col), (F.col("pos") - i).alias("p0")
        )
        anchor = anchor.join(nxt, [key_col, "p0"])
    return anchor.groupBy(key_col).agg(F.count("*").alias("n_occurrences"))
