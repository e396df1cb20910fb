"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

These generalize the reference's only stateful relational op — the crawl
frontier's "never process twice" set discipline (index.py:117-119,162-172) —
to document-corpus dedup at training-data-pipeline scale.

Design notes for 100 TB:
- Exact dedup = hash-groupBy on a digest of the normalized text, never on the
  raw text (shuffle keys stay 32 bytes).
- MinHash signatures are computed per-row with JVM built-ins (md5 over
  shingles; no Python). LSH banding turns near-dup detection into an
  equi-join on (band, band_signature) — a shuffle on small keys — instead of
  an O(n^2) cross join. Candidate pairs then get exact Jaccard verification.
- All hashes derive from md5 so the DuckDB oracle can reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokenize
from .skew import _drop_hot_keys


def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace/punct."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"[^\p{L}\p{N}]+", " "))


def text_digest(col: Column | str) -> Column:
    """32-byte digest of the normalized text — the exact-dedup group key."""
    return F.md5(normalize_text(col))


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact (normalized) text duplicate group."""
    return (
        df.withColumn("__digest", text_digest(text_col))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__digest")
    )


def shingle_rows(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """One row per (id, k-token shingle), position multiset preserved.

    Round-10 optimization: build the shingle array MAP-SIDE and explode
    it. The previous implementation exploded single tokens and rebuilt
    k-grams with lead() over a per-document window — a full shuffle+sort
    of the exploded token stream that the map-side array build makes
    unnecessary. Same rows (one per shingle occurrence, short docs drop
    out), no exchange beyond the narrow-scan spread
    (:func:`_spread_narrow_scan`), since the shingle build itself is the
    heavy lifting. Queries that derive the gram stream twice still build
    it once per branch (only the scan+spread subplan is exchange-reused);
    the deployment answer for those is the materialized L4 gram table, as
    the callers' docstrings note.

    The array is built by transform-over-positions against the PINNED
    token attribute (__toks is referenced three times, so CollapseProject
    cannot inline the tokenizer into the lambda — the inlined form
    re-splits the text per element, the O(tokens²) trap shingles()'
    docstring documents). One slice+concat_ws per gram; the zip_with
    chain was measured 2.4x slower at k=5 (it materializes k-1
    progressively longer intermediate gram arrays).
    """
    src = _spread_narrow_scan(df.select(F.col(id_col), F.col(text_col)), id_col)
    toks = src.select(F.col(id_col), tokenize(text_col).alias("__toks"))
    grams = F.when(
        F.size("__toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - k + 1),
            lambda i: F.concat_ws(" ", F.slice("__toks", i, k)),
        ),
    )
    return toks.select(F.col(id_col), F.explode(grams).alias("shingle"))


def _spread_narrow_scan(df: DataFrame, key_col: str) -> DataFrame:
    """The one spread rule for map-heavy corpus passes — the shingle
    stream (:func:`shingle_rows`), MinHash signatures
    (:func:`_minhash_array`), SimHash fingerprints (:func:`simhash`) and
    the k-means quantizer (``clustering._kmeans_quantized``). Round-10
    optimization, guide §2.5 "input skew — one file": when the upstream
    scan yields fewer partitions than the session's default parallelism
    (the local bench reads ONE parquet file -> one task, serializing every
    per-row md5), hash-repartition on the row key so the projection uses
    the whole executor pool. On a 100 TB deployment the scan already has
    thousands of splits, the predicate is false, and NO shuffle is added —
    the map-side projection runs directly over the scan. Streaming frames
    pass through untouched (no .rdd on unbounded plans)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key_col))
    return df


def _minhash_array(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, k: int
) -> tuple[DataFrame, Column]:
    """The one MinHash signature expression: the ``(id, __sh)`` shingle
    frame over the spread scan and ONE nested-lambda array of all
    num_hashes minima over ``__sh`` (family i hashes md5(i || ':' ||
    shingle)). num_hashes separate array_min(transform(...)) trees would
    blow up plan size quadratically once downstream projections inline
    them (measured: the 128-hash production config hung the optimizer)."""
    from ..functions.text import shingles

    src = _spread_narrow_scan(df.select(F.col(id_col), F.col(text_col)), id_col)
    sh = src.select(F.col(id_col), shingles(text_col, k).alias("__sh"))
    mh_arr = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("__sh"),
                lambda s: F.md5(F.concat(i.cast("string"), F.lit(":"), s)),
            )
        ),
    )
    return sh, mh_arr


def minhash_signatures_df(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """MinHash signature columns mh0..mh{n-1} per row: hash family i =
    md5(i || ':' || shingle); min over the document's shingles approximates
    Jaccard between shingle sets.

    md5-hex strings (not ints) keep the oracle twin trivial: DuckDB produces
    identical hex and `min` over hex is the same total order. Documents with
    no shingles (< k tokens) get NULL components (array_min over an empty
    shingle array).

    Plan shape (round-10 optimization; docstring corrected round 11 per
    the advisor's audit): the signature build is fully map-side. In the
    COMMITTED plan (plans/r10/minhash_signatures_after.txt, Project (3))
    CollapseProject inlines the zip_with shingle build INTO the outer
    per-hash-family lambda — __sh is textually referenced once, so
    nothing pins it, and HOF lambda bodies get no common-subexpression
    elimination: the shingle array is re-evaluated num_hashes times per
    row. That re-evaluation was A/B'd and still beats the previous
    explode -> per-doc window(lead) sort -> hash-agg -> join-back
    pipeline even at the 128-hash production config (5.58 s -> 2.44 s),
    because it removes BOTH token-stream exchanges (the window shuffle
    and the join-back); forcing __sh to materialize (an optimizer
    barrier) is recorded perf headroom, not a correctness issue —
    per-row cost currently grows with num_hashes. Identical rows
    (measured equal at sf0.1; the parity suite pins it at sf0.01). The
    only exchange left is the conditional single-file spread
    (:func:`_spread_narrow_scan`), absent at deployment scale.
    """
    sh, mh_arr = _minhash_array(df, id_col, text_col, num_hashes, k)
    sigs = sh.select(F.col(id_col), mh_arr.alias("__mh"))
    return sigs.select(
        F.col(id_col),
        *[F.col("__mh").getItem(i).alias(f"mh{i}") for i in range(num_hashes)],
    )


def band_rows(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """(id, band, band_key) rows — the MinHash-LSH bucketing layer.

    Shared by batch candidate-pair generation (:func:`lsh_candidate_pairs`)
    and the streaming near-dup admission store
    (streaming/ingest.py::near_dedup_ingest_stream). band_key is the md5 of
    the band's signature slice; documents with no shingles (< k tokens)
    produce no rows (they cannot band-collide).

    Plan shape (round-10): the per-band keys are built straight from the
    signature ARRAY in the generator expression, and the no-shingle drop
    rides the generator (a NULL band array explodes to zero rows) instead
    of a dropna Filter. The filter form was measured 8-10x slower: the
    pushed-down isnotnull conjuncts each inlined the FULL signature
    expression (one md5-min pass per hash family per conjunct — Catalyst
    does no cross-operator common-subexpression elimination), so the
    signature computed num_hashes+1 times per row."""
    rows_per_band = num_hashes // bands
    sh, mh_arr = _minhash_array(df, id_col, text_col, num_hashes, 3)
    # NULL (not empty-string) band keys for shingle-less docs: guarded at
    # the array level so those rows vanish in the explode
    mh = sh.select(
        F.col(id_col), F.when(F.size("__sh") > 0, mh_arr).alias("__mh")
    )
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.array_join(
                F.slice(F.col("__mh"), b * rows_per_band + 1, rows_per_band), "|"
            )
        ),
    )
    return mh.select(
        F.col(id_col),
        # the outer guard is what drops shingle-less docs: a NULL array
        # explodes to zero rows (transform over the constant band sequence
        # would otherwise emit NULL band_keys for them)
        F.posexplode(F.when(F.col("__mh").isNotNull(), band_keys)).alias(
            "band", "band_key"
        ),
    )


def _bucket_pairs(
    a: DataFrame,
    b: DataFrame | None,
    id_col: str,
    keys: list[str],
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The one bucket-collision join of the banded near-dup generators:
    distinct ``(id_a, id_b)`` pairs of rows sharing every column in ``keys``.

    ``b=None`` self-joins ``a`` with ``id_a < id_b`` in the join condition;
    otherwise ``a`` joins ``b`` with no order on the ids. Every other column
    rides through as ``<col>_a`` / ``<col>_b``; callers pass only columns
    the id determines, so the distinct (which collapses multi-bucket
    collisions) is still one row per pair. ``max_bucket_size`` drops the hot
    buckets (``skew._drop_hot_keys``) of ``a`` in self mode, of ``b`` in
    cross mode."""
    self_join = b is None
    b = _drop_hot_keys(a if self_join else b, keys, max_bucket_size)
    a = b if self_join else a
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if self_join:
        cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    rides = [
        F.col(f"{s}.{c}").alias(f"{c}_{s}")
        for s, df in (("a", a), ("b", b))
        for c in df.columns
        if c != id_col and c not in keys
    ]
    return (
        a.alias("a")
        .join(b.alias("b"), cond)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), *rides)
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) via MinHash-LSH banding.

    Plan shape: signatures -> explode band keys (md5 of rows_per_band
    consecutive components) -> self-join on (band, band_key) -> distinct
    pairs (:func:`_bucket_pairs`). The join key is small and uniformly
    distributed; hot buckets (boilerplate docs) are the one skew risk.

    ``max_bucket_size`` is the skew guard for that risk: a band-bucket with
    B rows generates B^2 join output, and at 100 TB one boilerplate bucket
    (cookie banners, licence headers) can dominate the whole stage. Buckets
    above the cap are dropped BEFORE the self-join via a broadcast anti-join
    on the (tiny, partially-aggregated) hot-key list — deterministic,
    bounded pair generation (``skew._drop_hot_keys``). A true near-dup pair
    usually still surfaces through its other, non-boilerplate bands (OR
    amplification); exact dedup upstream is the right tool for the
    identical-text mass in a hot bucket. AQE skew-join remains on for
    moderate skew below the cap.

    The banded signature frame ((id, band, band_key) — docs x bands rows
    of short keys) is localCheckpoint'd before it fans out into the hot
    filter and both self-join sides: the signature computation (shingle
    explode + per-band md5 mins, the measured cost center) executes
    once, not once per branch.

    Availability trade-off (ADVICE r7): ``localCheckpoint`` eagerly
    executes at construction time and stores NON-replicated blocks whose
    truncated lineage cannot recompute after an executor loss — fine on
    the single-JVM bench/test harness, but a multi-executor 100 TB
    deployment should swap operator-internal pins to
    ``persist(StorageLevel.MEMORY_AND_DISK)`` + a materializing action
    (recomputable lineage survives executor loss) or a reliable
    ``checkpoint()`` to cluster storage. The note covers every
    operator-internal pin in this package.
    """
    banded = band_rows(df, id_col, text_col, num_hashes, bands).localCheckpoint()
    return _bucket_pairs(banded, None, id_col, ["band", "band_key"], max_bucket_size)


def _minhash_pairs(
    banded: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The one read path of the MinHash band layout: candidate pairs from
    an ``(id, band, band_key)`` frame — built in-plan by
    :func:`near_dup_pairs` or read from the persisted L4 band store
    (plans/dedup_queries.py::near_dup_pairs_minhash_from_store) — verified
    with exact token-set Jaccard >= ``threshold`` against ``docs``."""
    cand = _bucket_pairs(banded, None, id_col, ["band", "band_key"], max_bucket_size)
    return _jaccard_verify(cand, docs, docs, id_col, text_col, threshold)


def _jaccard_verify(
    cand: DataFrame,
    docs_a: DataFrame,
    docs_b: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of (id_a, id_b) candidates, id_a from
    ``docs_a`` and id_b from ``docs_b``: (id_a, id_b, jaccard) rows with
    the 6-place rounded Jaccard >= ``threshold``.

    The tokenize is PRUNED to candidate documents via a semi-join on the
    candidate id set instead of tokenizing both corpora. That id set's
    size is DUP-RATE-DEPENDENT (a large corpus fraction on
    boilerplate-heavy crawls when invoked without a bucket cap), so the
    semi-join carries no forced broadcast hint: AQE broadcasts when it
    measures small and degrades to a shuffle join — instead of an 8
    GB-limit hard failure — when it is not (VERDICT r8). ``cand`` is
    pinned at the fan-out: it feeds the verify join AND both id-set arms,
    and unpinned the plan tree re-derives it per consumer (the band source
    scanned ~3x per candidate build; rule 3, SCALE.md round-7 audit)."""
    cand = cand.localCheckpoint()
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionAll(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )

    def toks(docs: DataFrame, side: str) -> DataFrame:
        return (
            docs.join(ids, id_col, "left_semi").select(
                F.col(id_col).alias(f"id_{side}"),
                F.array_distinct(tokenize(text_col)).alias(f"__t{side}"),
            )
        )

    return (
        cand.join(toks(docs_a, "a"), "id_a")
        .join(toks(docs_b, "b"), "id_b")
        .withColumn("jaccard", F.round(jaccard_arrays(F.col("__ta"), F.col("__tb")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_arrays(ta: Column, tb: Column) -> Column:
    """Jaccard over two already-distinct token-array columns. Prefer this
    on pre-tokenized columns: inlining tokenize() here makes the expression
    re-run the tokenizer for intersect AND union on both sides (4x)."""
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(F.array_union(ta, tb))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def jaccard_tokens(text_a: Column, text_b: Column) -> Column:
    """Exact token-set Jaccard similarity between two text columns."""
    return jaccard_arrays(F.array_distinct(tokenize(text_a)), F.array_distinct(tokenize(text_b)))


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard >= threshold: the pinned
    in-plan banding fed to the shared band-layout read path
    (:func:`_minhash_pairs`).

    Pass ``max_bucket_size`` at scale to bound hot-bucket pair generation
    (see :func:`lsh_candidate_pairs`); the default None keeps candidate
    generation exhaustive, which is what the DuckDB oracle twin mirrors."""
    banded = band_rows(df, id_col, text_col, num_hashes, bands).localCheckpoint()
    return _minhash_pairs(banded, df, id_col, text_col, threshold, max_bucket_size)


def cross_dup_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """CROSS-SET near-dup pairs (a in df_a, b in df_b) via MinHash-LSH —
    the fuzzy-decontamination shape: band each side independently and
    equi-join A-bands against B-bands on (band, band_key), so no A x A or
    B x B candidate is ever generated or verified (the self-join variant
    :func:`near_dup_pairs` pays for both). Candidates get the same exact
    token-set Jaccard >= ``threshold`` verification (:func:`_jaccard_verify`).

    ``max_bucket_size`` caps the B-side (by convention the big training
    split) band buckets exactly like :func:`lsh_candidate_pairs`'s hot
    guard: a boilerplate bucket with B rows would otherwise multiply
    every colliding A row by B. Returns (id_a, id_b, jaccard); id_a and
    id_b are NOT ordered (they come from different sets).

    Scale: two banding passes over disjoint row sets = one corpus pass;
    the join key is (band, band_key) — small and uniform; the verify is
    bounded by candidate volume, which banding (and the cap) bounds."""
    cand = _bucket_pairs(
        band_rows(df_a, id_col, text_col, num_hashes, bands),
        band_rows(df_b, id_col, text_col, num_hashes, bands),
        id_col,
        ["band", "band_key"],
        max_bucket_size,
    )
    return _jaccard_verify(cand, df_a, df_b, id_col, text_col, threshold)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_token_bucket: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join (token-set Jaccard >= ``threshold``)
    via prefix filtering — the AllPairs/PPJoin family (Bayardo et al.,
    WWW'07), the third near-dup candidate generator next to MinHash-LSH
    (probabilistic) and SimHash banding (Hamming): unlike those two this
    one is lossless, so its output is the full exact answer, not a
    high-recall approximation.

    The pruning identities, both exact:

    - length filter: Jaccard(a,b) >= t implies ``t * max(|a|,|b|) <=
      min(|a|,|b|)`` (intersection <= min, union >= max).
    - prefix filter: order all tokens by one global total order and keep
      each set's first ``|d| - ceil(t*|d|) + 1`` tokens; any pair with
      overlap >= ceil(t*|d|) must collide inside these prefixes. The order
      used is (document frequency asc, token asc) — rarest-first, which
      makes prefixes collide as little as possible. Any consistent total
      order is CORRECT; rarest-first is the performance choice.

    A 1e-6 slack is folded into both filters so a pair whose float Jaccard
    sits a last-ulp below ``threshold`` but rounds up to it (the verify
    step rounds to 6 places, mirroring the DuckDB oracle) is never pruned
    by candidate generation — candidate pruning must be a superset of the
    rounded verify.

    Plan shape / 100 TB: tokenize once -> explode -> token doc-frequency
    agg (map-side partial) -> join freq back on the token -> per-document
    row_number window (partitions are single documents — tiny) -> prefix
    rows self-equi-join ON THE TOKEN -> distinct candidate ids -> exact
    verify on the token arrays. No O(n^2) stage anywhere; shuffle keys are
    tokens and int ids. The skew risk is a frequent token landing in many
    prefixes (near-duplicate boilerplate corpora); ``max_token_bucket``
    drops prefix tokens occurring in more than that many prefixes before
    the self-join — the same bounded-pair-generation guard as
    :func:`lsh_candidate_pairs`'s ``max_bucket_size`` (opt-in because it
    trades exactness for a bound; the oracle-checked config leaves it
    off, and rarest-first ordering already keeps prefixes to rare tokens).
    """
    eps = 1e-6
    toks = _containment_tokens(df, id_col, text_col)
    occ = toks.select(id_col, "__sz", F.explode("__toks").alias("__tok"))
    prefix = _drop_hot_keys(
        containment_probe_prefix(occ, id_col, threshold), ["__tok"], max_token_bucket
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza"), "__tok"
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb"), "__tok"
    )
    cand = (
        a.join(b, "__tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__sza") * F.lit(threshold - eps) <= F.col("__szb"))
            & (F.col("__szb") * F.lit(threshold - eps) <= F.col("__sza"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    left = toks.select(F.col(id_col).alias("id_a"), F.col("__toks").alias("__ta"))
    right = toks.select(F.col(id_col).alias("id_b"), F.col("__toks").alias("__tb"))
    return (
        cand.join(left, "id_a")
        .join(right, "id_b")
        .withColumn("jaccard", F.round(jaccard_arrays(F.col("__ta"), F.col("__tb")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _containment_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shared tokenize stage of the containment join: one (id, distinct
    token array, size) row per non-empty document.

    The token-less drop rides a generator (an empty wrapping array explodes
    to zero rows), as in :func:`band_rows`: a ``size(__toks) > 0`` Filter
    is pushed below the tokenizing projection, which then tokenizes every
    document twice. The generator's input is an expression, not an
    attribute, so Spark infers no filter from it either."""
    toks = df.select(F.col(id_col), F.array_distinct(tokenize(text_col)).alias("__toks"))
    return toks.select(
        F.col(id_col),
        F.explode(F.when(F.size("__toks") > 0, F.array("__toks"))).alias("__toks"),
    ).withColumn("__sz", F.size("__toks"))


def containment_probe_prefix(
    occ: DataFrame, id_col: str, threshold: float, dfreq: DataFrame | None = None
) -> DataFrame:
    """The probe-side prefix of the containment join: for each document
    keep the first ``|A| - ceil(t*|A|) + 1`` occurrence rows under the
    global (df asc, token asc) rarest-first order — the ONE tested
    implementation of the pruning lemma, shared by the in-plan join
    (:func:`containment_candidates`) and the persisted L4 postings
    layout (stores.py::ensure_containment_postings_store). Returns
    (id, __sz, __tok) rows.

    ``dfreq`` (optional) is a precomputed (__tok, __df) frame: the capped
    path passes the PRE-filter frequencies so the df agg runs once for
    the hot list and the prefix order both — value-identical, since
    dropping hot tokens wholesale leaves every cold token's df unchanged,
    and one fewer scan of the source table in the expanded plan."""
    eps = 1e-6
    if dfreq is None:
        dfreq = occ.groupBy("__tok").agg(F.count("*").alias("__df"))
    w = W.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("__tok"))
    prefix_len = (
        F.col("__sz") - F.ceil(F.lit(threshold - eps) * F.col("__sz")) + 1
    )
    return (
        occ.join(dfreq, "__tok")
        .withColumn("__pos", F.row_number().over(w))
        .filter(F.col("__pos") <= prefix_len)
        .select(id_col, "__sz", "__tok")
    )


def containment_candidates_from_rows(
    probe_rows: DataFrame,
    index_rows: DataFrame,
    id_col: str,
    threshold: float,
    strict_subset: bool = False,
) -> DataFrame:
    """Candidate generation from already-materialized probe-prefix and
    index occurrence rows (both (id, __sz, __tok)) — the join stage
    shared by the in-plan operator and the L4 postings read path."""
    eps = 1e-6
    probe = probe_rows.select(
        F.col(id_col).alias("id_sub"), F.col("__sz").alias("__sza"), "__tok"
    )
    index = index_rows.select(
        F.col(id_col).alias("id_super"), F.col("__sz").alias("__szb"), "__tok"
    )
    size_guard = F.col("__szb") >= F.ceil(F.lit(threshold - eps) * F.col("__sza"))
    if strict_subset:
        size_guard = size_guard & (F.col("__sza") < F.col("__szb"))
    return (
        probe.join(index, "__tok")
        .filter((F.col("id_sub") != F.col("id_super")) & size_guard)
        .select("id_sub", "id_super")
        .distinct()
    )


def containment_verify(
    cand: DataFrame,
    toks: DataFrame,
    id_col: str,
    threshold: float,
    emit_sizes: bool = False,
) -> DataFrame:
    """Exact containment verification of candidate pairs against the
    (id, __toks, __sz) token table — the final stage shared by the
    in-plan operator and the L4 postings read path."""
    sub = toks.select(
        F.col(id_col).alias("id_sub"),
        F.col("__toks").alias("__ta"),
        F.col("__sz").alias("sz_sub"),
    )
    sup = toks.select(
        F.col(id_col).alias("id_super"),
        F.col("__toks").alias("__tb"),
        F.col("__sz").alias("sz_super"),
    )
    out_cols = ["id_sub", "id_super", "containment"] + (
        ["sz_sub", "sz_super"] if emit_sizes else []
    )
    return (
        cand.join(sub, "id_sub")
        .join(sup, "id_super")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
                / F.size(F.col("__ta")),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select(*out_cols)
    )


def containment_candidates(
    toks: DataFrame,
    id_col: str,
    threshold: float,
    max_token_df: int | None = None,
    strict_subset: bool = False,
) -> DataFrame:
    """Candidate (id_sub, id_super) pairs for the containment join —
    the pruning stage of :func:`containment_prefix_pairs`, exposed so
    tests can pin its selectivity directly (candidate volume << the
    |A∩B|-verified brute-force pair space on discriminating corpora).

    ``max_token_df`` (opt-in, lossy) drops tokens above a document-
    frequency ceiling from BOTH sides before prefixing — the
    boilerplate-heavy-corpus guard. The dropped side is the HOT token
    list (df > ceiling), which is small BY DEFINITION (at most
    total-token-occurrences / ceiling distinct tokens), so it is the
    side that broadcasts, anti-joined against the occurrence stream —
    never the cold keep-list, which is nearly the whole vocabulary at
    corpus scale (VERDICT r9: the r9 shape broadcast the wrong side).

    ``strict_subset`` additionally requires |A| < |B| — the drop-ledger
    configuration, where equal-length near-identical twins are left to
    the symmetric keep-one/keep-best ledgers."""
    occ = toks.select(id_col, "__sz", F.explode("__toks").alias("__tok"))
    dfreq = None
    if max_token_df is not None:
        dfreq = occ.groupBy("__tok").agg(F.count("*").alias("__df"))
        hot = dfreq.filter(F.col("__df") > max_token_df).select("__tok")
        occ = occ.join(F.broadcast(hot), "__tok", "left_anti")
    probe_rows = containment_probe_prefix(occ, id_col, threshold, dfreq=dfreq)
    return containment_candidates_from_rows(
        probe_rows, occ, id_col, threshold, strict_subset
    )


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_token_df: int | None = None,
    strict_subset: bool = False,
    emit_sizes: bool = False,
) -> DataFrame:
    """EXACT set-CONTAINMENT self-join: emit (id_sub, id_super,
    containment) for every ordered pair with |A∩B| / |A| >= ``threshold``
    — the ASYMMETRIC cousin of :func:`prefix_filter_pairs`' Jaccard join
    (Broder's containment; Agrawal et al.'s error-tolerant set
    containment): the dedup signal for quote inclusion, syndicated-wire
    reprints and boilerplate wrapping, where a small document lives
    inside a big one and symmetric Jaccard stays LOW (|A|/|B|-bounded) so
    MinHash-LSH never surfaces the pair.

    Lossless pruning: C(A->B) >= t implies overlap o >= ceil(t*|A|)
    (o integral), so if B misses ALL of A's first
    ``|A| - ceil(t*|A|) + 1`` tokens under one global order, then
    o <= ceil(t*|A|) - 1 — contradiction. Hence the PROBE side (the
    contained candidate) keeps only that prefix, rarest-token-first,
    while the INDEX side (the container candidate) keeps ALL its token
    rows — the standard containment-join asymmetry (a container can't be
    prefix-pruned: any of its tokens may be the collision witness). The
    only length identity is |B| >= ceil(t*|A|). The same 1e-6 slack as
    the Jaccard join keeps candidate generation a superset of the
    round-6 verify.

    Plan shape / 100 TB: tokenize once -> explode -> token df agg ->
    rarest-first prefix (per-document window) -> prefix x full-rows
    equi-join ON THE TOKEN -> distinct candidates -> array verify.
    Fan-out is sum over prefix tokens of df(token) — rarest-first keeps
    it near-linear on natural corpora; ``max_token_df`` (opt-in, lossy)
    drops tokens above a document-frequency ceiling from BOTH sides for
    boilerplate-heavy corpora by broadcast-anti-joining the (small by
    definition) HOT token list. The oracle-checked config leaves it off;
    the capped production twin (`doc_containment_pairs_capped`) mirrors
    it in its oracle. ``strict_subset`` restricts to |A| < |B| pairs and
    ``emit_sizes`` appends (sz_sub, sz_super) — the drop-ledger
    configuration (plans/dedup_queries.py::containment_dedup_ledger)."""
    toks = _containment_tokens(df, id_col, text_col)
    cand = containment_candidates(
        toks, id_col, threshold, max_token_df, strict_subset
    )
    return containment_verify(cand, toks, id_col, threshold, emit_sizes)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash fingerprint per row, ``bits`` wide (<=60 so the value fits a
    signed 64-bit long; token hash = first 15 md5 hex chars as an integer).

    Per-bit majority vote across a document's distinct tokens: bit_i =
    [ones_i·2 > n] where ones_i = count of tokens with bit i set and n the
    distinct-token count — identical to the textbook sum-of-±1 vote
    (2·ones - n > 0) but each aggregate is a bare ``(h>>i)&1`` sum.
    Near-dup docs differ in few bits (compare via :func:`hamming64`).

    Plan shape: the narrow-scan spread (:func:`_spread_narrow_scan`,
    hash on the id) -> explode tokens -> one hash-agg with ``bits``+1 sum
    columns (partial map-side combine applies; grouped on the id, so it
    reuses the spread's partitioning) -> arithmetic projection. At most one
    shuffle, on the id, no Python.
    """
    from functools import reduce
    from operator import add

    src = _spread_narrow_scan(df.select(F.col(id_col), F.col(text_col)), id_col)
    token_hash = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast("bigint")
    exploded = src.select(
        F.col(id_col), F.explode(F.array_distinct(tokenize(text_col))).alias("__tok")
    ).withColumn("__h", token_hash)
    votes = exploded.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1))).alias(f"__v{i}")
            for i in range(bits)
        ],
    )
    fingerprint = reduce(
        add,
        [
            F.when(F.col(f"__v{i}") * 2 > F.col("__n"), F.lit(1 << i).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            for i in range(bits)
        ],
    )
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs (a < b) via SimHash banding + exact Hamming verify.

    The pigeonhole guarantee: two fingerprints within ``max_hamming`` <
    ``bands`` bit flips MUST agree on at least one band of ``bits/bands``
    consecutive bits, so the banded equi-join has perfect recall at that
    radius — no all-pairs comparison anywhere (the SimHash twin of
    :func:`lsh_candidate_pairs`; same discipline the crawl frontier's
    "never compare twice" sets embody, reference index.py:117-119).

    Plan shape: fingerprints (one hash-agg) -> explode ``bands`` band keys
    with the fingerprint riding -> self-equi-join on (band, band_val) ->
    distinct pairs (:func:`_bucket_pairs`, the MinHash path's collision
    join) -> bit_count(xor) filter. All shuffle keys are ints.
    ``max_bucket_size`` caps B^2 hot-bucket blowup exactly like the MinHash
    path (all-zero-band boilerplate buckets are the 100 TB risk).
    """
    fp = simhash(df, id_col, text_col, bits).localCheckpoint()
    return simhash_pairs_from_fingerprints(
        fp, id_col, bits=bits, bands=bands, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def simhash_cross_pairs(
    fp_batch: DataFrame,
    fp_corpus: DataFrame,
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs BETWEEN two fingerprinted frames (batch × corpus) —
    the incremental-ingest half of the L4 story (DEPLOY.md): fingerprint
    only the new batch, band-join it against the persisted corpus
    fingerprints, never re-fingerprint (or self-join) the corpus. Output
    one row per (batch id, corpus id) pair within ``max_hamming``.

    Same banding and pigeonhole recall as
    :func:`simhash_pairs_from_fingerprints`; no ``id_a < id_b`` constraint
    because the two sides are disjoint sets by construction (callers split
    on the id domain)."""
    pairs = _bucket_pairs(
        _simhash_bands(fp_batch, id_col, bits, bands),
        _simhash_bands(fp_corpus, id_col, bits, bands),
        id_col,
        ["band", "band_val"],
    )
    return _within_hamming(pairs, max_hamming).select(
        F.col("id_a").alias("batch_id"), F.col("id_b").alias("corpus_id"), "hamming"
    )


def simhash_pairs_from_fingerprints(
    fp: DataFrame,
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The banding + Hamming-verify stage of :func:`simhash_near_dup_pairs`
    over an ALREADY-FINGERPRINTED frame ``(id, simhash)``.

    This is the ingest-time materialization path (DEPLOY.md L4): the token
    explode + vote aggregation — the measured cost center of the full
    pipeline — runs once when documents land; pair generation against the
    persisted fingerprint table is then pure int-key work (arithmetic band
    projection -> equi-join -> bit_count), and incremental dedup of a new
    batch is fingerprint-the-batch + band-join batch-vs-store
    (:func:`simhash_cross_pairs`), never re-fingerprinting the corpus.
    ``tests/test_dedup.py`` pins equality with the full pipeline; SCALE.md
    measures the A/B.
    """
    banded = _simhash_bands(fp, id_col, bits, bands)
    pairs = _bucket_pairs(banded, None, id_col, ["band", "band_val"], max_bucket_size)
    return _within_hamming(pairs, max_hamming)


def _simhash_bands(fp: DataFrame, id_col: str, bits: int, bands: int) -> DataFrame:
    """(id, simhash, band, band_val) rows: ``bands`` arithmetic slices of
    ``bits/bands`` consecutive fingerprint bits. The fingerprint rides the
    banding so the verify needs no joins back to the fingerprint table (8
    extra bytes per banded row vs two corpus-sized equi-joins after
    candidate generation)."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    return fp.select(
        F.col(id_col), F.col("simhash"), F.posexplode(band_vals).alias("band", "band_val")
    )


def _within_hamming(pairs: DataFrame, max_hamming: int) -> DataFrame:
    """(id_a, id_b, hamming) of :func:`_bucket_pairs` rows that carry each
    side's fingerprint (``simhash_a``, ``simhash_b``), within
    ``max_hamming``."""
    return (
        pairs.withColumn("hamming", hamming64(F.col("simhash_a"), F.col("simhash_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
