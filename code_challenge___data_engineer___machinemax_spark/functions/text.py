"""Text expression library: tokenization, cleansing, analysis.

All JVM-side column expressions (whole-stage codegen; no Python UDFs in the
hot path). Each has exact DuckDB-SQL twins used by the oracle gate.

Reference semantics covered:
- tokenize: the Mongo ``$text`` analyzer's tokenization step, reduced to the
  documented engine semantics (case-insensitive, letter/digit runs, no
  stemming) — reference api.py:22-26, pinned by api-test:45-60.
- strip_html: join paragraph fragments, delete all ``<...>`` tags, trim,
  NULL iff zero fragments — reference newsspider.py:48-49 (exact null vs
  empty-string behavior preserved).
- coalesce_nonblank: Python ``x or y`` fallback (treats '' like None) —
  reference newsspider.py:41-42.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Non-alphanumeric separator, unicode-aware. RE2 (DuckDB) and Java regex both
# support \p{L}/\p{N}.
_SEP = r"[^\p{L}\p{N}]+"


def tokenize(col: Column | str) -> Column:
    """Lowercased letter/digit tokens of a text column (no empty tokens).

    One regex-split pass (not replace+trim+split): tokenize is the hottest
    expression in the engine and the second regex pass measurably costs at
    corpus scale. Splitting on separators leaves '' at the edges when the
    text starts/ends with a separator — filtered like interior empties.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), _SEP), lambda t: t != "")


def tokenize_sql(expr: str) -> str:
    """DuckDB twin of :func:`tokenize`."""
    return (
        "list_filter(regexp_split_to_array(lower(" + expr + "), "
        r"'[^\p{L}\p{N}]+'), t -> t <> '')"
    )


# --- S-stemmer (Harman 1991, "How effective is suffixing?") -----------------
# The light English plural stemmer: three ordered rules, first match wins,
# words of length <= 3 untouched. Chosen over Porter because every rule is a
# suffix test + substring — expressible IDENTICALLY in Spark (codegen'd CASE)
# and DuckDB SQL (no lookbehind, which RE2 lacks; no UDF in the hot path).
# This closes the engine's one documented deviation from the reference's
# Mongo $text semantics (api.py:22-26 — Mongo's English analyzer stems;
# SURVEY.md §2 op 14): stemmed search matches plural/inflected variants.
#   ies -> y   (unless preceded by a or e:  'flies'->'fly', 'ties' stays? no:
#               'ties'->'ty' is accepted S-stemmer behavior; 'eies'/'aies'
#               guards protect 'aies'/'eies' endings)
#   es  -> e   (unless preceded by a, e or o: 'engines'->'engine',
#               'goes'/'sees' untouched)
#   s   -> ''  (unless preceded by u or s: 'engines' caught above,
#               'bus'/'less' untouched)


def s_stem(col: Column | str) -> Column:
    """S-stemmer over a single lowercase token column (JVM-side CASE).

    Each suffix class is TERMINAL: a word ending in 'es' that hits an
    exception ('goes', 'shoes') is protected outright — it must not fall
    through to the bare-s rule, or the exceptions would be dead letters."""
    t = F.col(col) if isinstance(col, str) else col
    n = F.length(t)
    drop_last = t.substr(F.lit(1), n - 1)
    return (
        F.when(n <= 3, t)
        .when(
            t.endswith("ies"),
            F.when(
                t.endswith("eies") | t.endswith("aies"), t
            ).otherwise(F.concat(t.substr(F.lit(1), n - 3), F.lit("y"))),
        )
        .when(
            t.endswith("es"),
            F.when(
                t.endswith("aes") | t.endswith("ees") | t.endswith("oes"), t
            ).otherwise(drop_last),
        )
        .when(t.endswith("s") & ~t.endswith("us") & ~t.endswith("ss"), drop_last)
        .otherwise(t)
    )


def s_stem_sql(expr: str) -> str:
    """DuckDB twin of :func:`s_stem` (expr must be a lowercase token)."""
    t = expr
    return f"""CASE
        WHEN length({t}) <= 3 THEN {t}
        WHEN {t} LIKE '%ies' THEN
            CASE WHEN {t} LIKE '%eies' OR {t} LIKE '%aies' THEN {t}
                 ELSE substr({t}, 1, length({t}) - 3) || 'y' END
        WHEN {t} LIKE '%es' THEN
            CASE WHEN {t} LIKE '%aes' OR {t} LIKE '%ees' OR {t} LIKE '%oes' THEN {t}
                 ELSE substr({t}, 1, length({t}) - 1) END
        WHEN {t} LIKE '%s' AND {t} NOT LIKE '%us' AND {t} NOT LIKE '%ss'
            THEN substr({t}, 1, length({t}) - 1)
        ELSE {t} END"""


def s_stem_py(token: str) -> str:
    """Driver-side twin of :func:`s_stem` for query-token stemming."""
    t = token
    if len(t) <= 3:
        return t
    if t.endswith("ies"):
        return t if t.endswith(("eies", "aies")) else t[:-3] + "y"
    if t.endswith("es"):
        return t if t.endswith(("aes", "ees", "oes")) else t[:-1]
    if t.endswith("s") and not t.endswith(("us", "ss")):
        return t[:-1]
    return t


def tokenize_stemmed(col: Column | str) -> Column:
    """Lowercased, S-stemmed tokens — the analyzer-parity variant of
    :func:`tokenize` (Mongo $text stems; plain tokenize documents the
    no-stemming deviation)."""
    return F.transform(tokenize(col), lambda t: s_stem(t))


def tokenize_stemmed_sql(expr: str) -> str:
    """DuckDB twin of :func:`tokenize_stemmed`."""
    return f"list_transform({tokenize_sql(expr)}, t -> {s_stem_sql('t')})"


# --- Diacritic folding (Mongo $text is diacritic-INSENSITIVE) ---------------
# Fixed explicit mapping (Latin-1 + common Latin Extended-A, lowercase — the
# fold runs after lower()). An explicit translate table, not a library NFD
# pass, so Spark, DuckDB and Python are guaranteed character-identical.
# Characters whose Unicode fold EXPANDS to two letters (ß→ss, þ→th, and the
# æ/œ ligatures) can't ride the 1:1 translate table — a 1:1 'ß'→'s' would
# tokenize 'straße' as 'strase', unreachable from a query for 'strasse'
# (round-3 advice). They get explicit replace() passes BEFORE translate, in
# all three twins.
_FOLD_PAIRS = [
    ("àáâãäåāăą", "a"), ("èéêëēĕėęě", "e"), ("ìíîïĩīĭįı", "i"),
    ("òóôõöøōŏő", "o"), ("ùúûüũūŭůűų", "u"), ("çćĉċč", "c"),
    ("ñńņň", "n"), ("ýÿ", "y"), ("ĝğġģ", "g"), ("ĥħ", "h"), ("ĵ", "j"),
    ("ķ", "k"), ("ĺļľł", "l"), ("ŕŗř", "r"), ("śŝşš", "s"), ("ţťŧ", "t"),
    ("ŵ", "w"), ("źżž", "z"), ("đð", "d"),
]
_ACCENTED = "".join(chars for chars, _ in _FOLD_PAIRS)
_FOLDED = "".join(base * len(chars) for chars, base in _FOLD_PAIRS)
_EXPANSIONS = [("ß", "ss"), ("þ", "th"), ("æ", "ae"), ("œ", "oe")]


def fold_accents(col: Column | str) -> Column:
    """Replace accented Latin characters with their base letter (lowercase
    input expected). The diacritic-insensitivity half of Mongo $text
    analyzer parity (reference api.py:22-26; s_stem covers stemming).
    Multi-char folds (ß→ss, þ→th, æ→ae, œ→oe) run as replace() passes
    before the 1:1 translate table."""
    c = F.col(col) if isinstance(col, str) else col
    for frm, to in _EXPANSIONS:
        c = F.replace(c, F.lit(frm), F.lit(to))
    return F.translate(c, _ACCENTED, _FOLDED)


def fold_accents_sql(expr: str) -> str:
    """DuckDB twin of :func:`fold_accents` (same explicit tables)."""
    e = expr
    for frm, to in _EXPANSIONS:
        e = f"replace({e}, '{frm}', '{to}')"
    return f"translate({e}, '{_ACCENTED}', '{_FOLDED}')"


def fold_accents_py(s: str) -> str:
    """Driver-side twin for query-token folding."""
    for frm, to in _EXPANSIONS:
        s = s.replace(frm, to)
    return s.translate(str.maketrans(_ACCENTED, _FOLDED))


def tokenize_folded(col: Column | str) -> Column:
    """Lowercased, accent-folded tokens — fold BEFORE splitting so accented
    characters are letters of their base token, not separators."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(fold_accents(F.lower(c)), _SEP), lambda t: t != "")


def tokenize_folded_sql(expr: str) -> str:
    """DuckDB twin of :func:`tokenize_folded`."""
    return (
        "list_filter(regexp_split_to_array("
        + fold_accents_sql(f"lower({expr})")
        + ", " + r"'[^\p{L}\p{N}]+')" + ", t -> t <> '')"
    )


def tokenize_analyzed(col: Column | str) -> Column:
    """The FULL Mongo $text analyzer twin: lowercase -> diacritic fold ->
    split -> S-stem. Composes the two parity halves in analyzer order
    (fold before stem: 'cafés' -> 'cafes' -> 'cafe')."""
    return F.transform(tokenize_folded(col), lambda t: s_stem(t))


def tokenize_analyzed_sql(expr: str) -> str:
    """DuckDB twin of :func:`tokenize_analyzed`."""
    return f"list_transform({tokenize_folded_sql(expr)}, t -> {s_stem_sql('t')})"


def analyze_token_py(token: str) -> str:
    """Driver-side twin for query tokens (fold then stem)."""
    return s_stem_py(fold_accents_py(token))


def strip_html(paragraphs: Column) -> Column:
    """Join an array of HTML fragments, strip tags, trim; NULL iff the array
    is empty/NULL (reference newsspider.py:48-49: ``if text_contents else
    None`` — empty-after-strip stays '' not NULL)."""
    joined = F.concat_ws(" ", paragraphs)
    cleaned = F.trim(F.regexp_replace(joined, r"<[^>]*>", ""))
    return F.when(F.coalesce(F.size(paragraphs), F.lit(0)) == 0, F.lit(None)).otherwise(cleaned)


def coalesce_nonblank(*cols: Column) -> Column:
    """First non-NULL, non-empty value — Python ``a or b`` semantics
    (reference newsspider.py:41-42 uses ``extract_first() or xpath(...)``,
    which also skips '')."""
    return F.coalesce(*[F.nullif(c, F.lit("")) for c in cols])


def token_count(col: Column | str) -> Column:
    """Number of tokens (whitespace/punct split)."""
    return F.size(tokenize(col))


def shingles(col: Column | str, k: int = 3) -> Column:
    """k-token shingles (n-grams of tokens) as an array of strings, the input
    unit for MinHash/Jaccard near-dup detection. Pure built-ins.

    Built by zip_with over k shifted views of the token array, NOT by
    transform-over-indices with slice: Catalyst does no common-
    subexpression elimination inside lambda bodies, so the index form
    re-evaluates the full tokenize() split PER ELEMENT — O(tokens x
    tokenize) per document (measured: 8.5 s for a 5000-doc bigram pass at
    sf0.1; this form: sub-second). Here tokenize appears k+1 times per
    ROW and each zip_with pass is linear. zip_with pads the shorter
    (shifted) side with NULL and concat propagates NULL, so the padded
    tail drops in the filter — identical strings to the oracle's
    list_slice twin."""
    toks = tokenize(col)
    gram = toks
    for j in range(1, k):
        shifted = F.slice(
            toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))
        )
        gram = F.zip_with(gram, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(gram, lambda g: g.isNotNull())


def shingles_sql(expr: str, k: int = 3) -> str:
    """DuckDB twin of :func:`shingles`."""
    toks = tokenize_sql(expr)
    return (
        f"CASE WHEN len({toks}) < {k} THEN [] ELSE "
        f"list_transform(range(1, len({toks}) - {k} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k} - 1), ' ')) END"
    )


def winnowing_fingerprints(col: Column | str, k: int = 4, w: int = 5) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every k-token gram to a 60-bit md5-derived int, then
    keep the minimum hash of each sliding window of ``w`` consecutive
    grams. The distinct minima are the fingerprint set — position-robust
    (an insertion changes O(w) fingerprints, not all of them, unlike the
    whole-document digest) and ~1/w the size of the full gram set.

    Guarantee: any shared token run of length >= w+k-1 between two
    documents yields at least one shared fingerprint.

    SCALE WARNING — single-expression form, small documents only: Catalyst
    INLINES the ``grams`` sub-expression into every window lambda (and
    ``toks`` into every gram), so evaluation is O(n_windows x n_grams x k)
    md5/regex work per document — quadratic in document length (measured:
    763 s for the overlap query at sf0.1 vs 5.5 s on the rows form).
    Corpus-scale callers use :func:`winnowing_fingerprint_rows`, which
    evaluates tokenize and each gram exactly once via explode + window
    frames. This form remains for array-valued use on short strings and as
    the 1:1 mirror of the oracle SQL twin.

    Fewer grams than ``w`` -> one window over them all; < k tokens ->
    empty. Fingerprints are 15-char md5 hex prefixes (60 bits): min over
    fixed-length hex strings is the same total order as the numeric value,
    without the per-gram BigInteger parse conv() costs in a hot path
    (measured 3.6x on the LSH keys).
    """
    toks = tokenize(col)
    # coalesce: size(NULL array) is NULL, and `when(NULL < k)` falls through
    # to the OTHERWISE branch — NULL text then emitted a phantom md5('')
    # fingerprint (caught by the rows-form parity test)
    n = F.coalesce(F.size(toks), F.lit(0))
    gram = lambda i: F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 15)
    grams = F.transform(F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))), gram)
    n_windows = F.greatest(F.size(grams) - w + 1, F.lit(1))
    minima = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(grams, i, w)),
    )
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_sort(F.array_distinct(minima))
    )


def winnowing_fingerprint_rows(df, id_col: str, text_col: str, k: int = 4, w: int = 5):
    """Corpus-scale winnowing: (id, fp) rows, each underlying expression
    evaluated exactly once.

    Same output set as ``explode(winnowing_fingerprints(text))`` (property-
    tested), linear cost: posexplode tokens (tokenize runs once per doc in
    the Generate), lead() rebuilds k-grams (the shingle_rows discipline),
    then the per-window minimum is a frame aggregate ``min() OVER (ROWS
    BETWEEN CURRENT ROW AND w-1 FOLLOWING)`` — O(w) per gram with no
    nested-lambda re-expansion, and the frame truncates itself at the
    partition edge which is exactly the tail-window semantics. Shuffle: one
    hash partition by id for the windows, then distinct on (id, fp).
    """
    from pyspark.sql import DataFrame, Window as W  # noqa: F401

    toks = df.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("__pos", "__tok")
    )
    worder = W.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", j).over(worder) for j in range(1, k)]
    grams = (
        toks.select(
            F.col(id_col),
            F.col("__pos").alias("__gpos"),
            F.when(
                parts[-1].isNotNull(),
                F.substring(F.md5(F.concat_ws(" ", *parts)), 1, 15),
            ).alias("__gram"),
        )
        .filter(F.col("__gram").isNotNull())
    )
    wmin = W.partitionBy(id_col).orderBy("__gpos").rowsBetween(0, w - 1)
    wcnt = W.partitionBy(id_col)
    return (
        grams.withColumn("__wmin", F.min("__gram").over(wmin))
        .withColumn("__ng", F.count("*").over(wcnt))
        # valid window starts: 0 .. n_grams-w (0-based), or just 0 when a
        # doc has fewer than w grams (single window over them all)
        .filter(F.col("__gpos") <= F.greatest(F.col("__ng") - w, F.lit(0)))
        .select(F.col(id_col), F.col("__wmin").alias("fp"))
        .distinct()
    )


def winnowing_fingerprints_sql(expr: str, k: int = 4, w: int = 5) -> str:
    """DuckDB twin of :func:`winnowing_fingerprints`."""
    toks = tokenize_sql(expr)
    grams = (
        f"list_transform(range(1, greatest(len({toks}) - {k} + 1, 1) + 1), "
        f"i -> substr(md5(array_to_string(list_slice({toks}, i, i + {k} - 1), ' ')), 1, 15))"
    )
    minima = (
        f"list_transform(range(1, greatest(len({grams}) - {w} + 1, 1) + 1), "
        f"i -> list_aggregate(list_slice({grams}, i, i + {w} - 1), 'min'))"
    )
    return (
        f"CASE WHEN coalesce(len({toks}), 0) < {k} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_sort(list_distinct({minima})) END"
    )
