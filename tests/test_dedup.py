"""Dedup operator semantics on crafted near-dup corpora (the real testdata
has no duplicates, so these pin behavior the oracle queries can't)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
    dedup_exact,
    hamming64,
    jaccard_tokens,
    near_dup_pairs,
    simhash,
)

BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the tall fence and the birds sing in the morning light"
)
NEAR_DUP = BASE_TEXT.replace("morning", "evening")  # one token differs
UNRELATED = (
    "completely different content about database engines query optimizers "
    "and distributed shuffle partitioning strategies at massive scale"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE_TEXT),
        (2, NEAR_DUP),
        (3, UNRELATED),
        (4, "The QUICK   brown fox, jumps over the lazy dog while the cat watches from the tall fence and the birds sing in the morning light!"),
        (5, BASE_TEXT),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup_normalizes(corpus):
    groups = {r.doc_id: r.dup_count for r in dedup_exact(corpus, "text", "doc_id").collect()}
    # 1, 4 (case/punct/whitespace variant) and 5 collapse to one group keyed min id
    assert groups[1] == 3
    assert 4 not in groups and 5 not in groups
    assert groups[2] == 1 and groups[3] == 1


def test_near_dup_pairs_finds_minor_edit(corpus):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             near_dup_pairs(corpus, "doc_id", "text", threshold=0.5).collect()}
    assert (1, 2) in pairs  # one-word edit -> high jaccard candidate
    assert pairs[(1, 2)] > 0.7
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0  # exact dup
    assert not any(3 in p for p in pairs)  # unrelated never pairs


def test_lsh_hot_bucket_cap_bounds_pair_generation(spark):
    # 60 identical boilerplate docs = one band-bucket of 60 in EVERY band
    # -> 60*59/2 = 1770 candidate pairs uncapped. The cap must drop the hot
    # buckets (bounded output) while pairs from normal-sized buckets survive.
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    boiler = [(i, "standard cookie banner please accept terms and conditions now")
              for i in range(60)]
    normal = [(100, BASE_TEXT), (101, NEAR_DUP), (102, UNRELATED)]
    df = spark.createDataFrame(boiler + normal, "doc_id int, text string")

    uncapped = lsh_candidate_pairs(df, "doc_id", "text").count()
    assert uncapped >= 60 * 59 // 2  # hot bucket dominates

    capped = lsh_candidate_pairs(df, "doc_id", "text", max_bucket_size=10)
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert not any(a < 60 and b < 60 for a, b in capped_pairs)  # hot bucket gone
    assert (100, 101) in capped_pairs  # normal near-dup pair survives
    # and the wired-through path in near_dup_pairs
    verified = {(r.id_a, r.id_b) for r in near_dup_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket_size=10).collect()}
    assert verified == {(100, 101)}


def test_production_minhash_config_recall(spark):
    # num_hashes=128 / bands=16 (the 100 TB config; the oracle keeps 8/4):
    # plant mutated near-dups of real sf0.1 docs and require recall >= 0.9
    # for pairs whose exact token Jaccard >= 0.8.
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        jaccard_tokens,
    )
    from code_challenge___data_engineer___machinemax_spark.tables import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.1", "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
    )
    # mutant = truncate the last ~10% of tokens. Contiguous edits keep
    # shingle-Jaccard (what the signatures estimate) close to token-Jaccard
    # (what the verify step thresholds); scattered single-token drops kill
    # ~3 shingles each and deflate LSH recall below what the token-level
    # ground truth implies.
    toks = F.split(F.col("text"), " ")
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.ceil(F.size(toks) * 0.9).cast("int"))
        ).alias("text"),
    )
    corpus = docs.unionByName(mutated)

    truth = (
        docs.alias("o")
        .join(mutated.withColumn("orig_id", F.col("doc_id") - 1_000_000).alias("m"),
              F.col("o.doc_id") == F.col("orig_id"))
        .select(
            F.col("o.doc_id").alias("id_a"),
            F.col("m.doc_id").alias("id_b"),
            jaccard_tokens(F.col("o.text"), F.col("m.text")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    want = {(r.id_a, r.id_b) for r in truth.collect()}
    assert len(want) >= 100  # the plant actually produced >=0.8 pairs

    got = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs(
            corpus, "doc_id", "text", threshold=0.8, num_hashes=128, bands=16
        ).collect()
    }
    recall = len(want & got) / len(want)
    assert recall >= 0.9, f"recall {recall:.3f} over {len(want)} planted pairs"


def test_jaccard_bounds(spark):
    df = spark.createDataFrame([("a b c", "a b c"), ("a b", "c d"), ("", "")], "x string, y string")
    vals = [r.j for r in df.select(jaccard_tokens(F.col("x"), F.col("y")).alias("j")).collect()]
    assert vals[0] == 1.0
    assert vals[1] == 0.0
    assert vals[2] == 0.0  # empty-vs-empty defined as 0, not NaN


def test_simhash_near_dup_pairs_pigeonhole(spark, corpus):
    # doc 1 vs 2 differ by one token -> few flipped bits; 4 bands over 60
    # bits guarantee any pair within hamming<=3 is found (pigeonhole), and
    # exact dups (1,5) are hamming 0. Unrelated docs must not pair.
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(
            corpus, "doc_id", "text", bits=60, bands=4, max_hamming=10
        ).collect()
    }
    assert pairs[(1, 5)] == 0
    assert (1, 2) in pairs and 0 < pairs[(1, 2)] <= 10
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_pairs_hot_bucket_cap(spark):
    # 50 identical docs share every band bucket -> 1225 pairs uncapped;
    # cap 10 drops the hot buckets before the self-join.
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    rows = [(i, BASE_TEXT) for i in range(50)] + [(100, UNRELATED)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = simhash_near_dup_pairs(df, "doc_id", "text").count()
    capped = simhash_near_dup_pairs(df, "doc_id", "text", max_bucket_size=10).count()
    assert uncapped == 50 * 49 // 2
    assert capped == 0


def test_simhash_hamming_locality(spark, corpus):
    fps = {r.doc_id: r.simhash for r in simhash(corpus, "doc_id", "text").collect()}
    d_near = spark.createDataFrame(
        [(fps[1], fps[2]), (fps[1], fps[3]), (fps[1], fps[5])], "a long, b long"
    ).select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()
    near, far, same = d_near[0].h, d_near[1].h, d_near[2].h
    assert same == 0  # identical docs -> identical fingerprint
    assert near < far  # one-token edit closer than unrelated content
    assert near <= 10 and far > 10


def test_simhash_pairs_from_materialized_fingerprints(spark, sf_dir, tmp_path):
    """DEPLOY.md L4: persisting simhash fingerprints at ingest and running
    pair generation from the stored table yields exactly the full
    pipeline's pairs — the fingerprint stage is the only part that needs
    the text."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        simhash,
        simhash_near_dup_pairs,
        simhash_pairs_from_fingerprints,
    )
    from code_challenge___data_engineer___machinemax_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").limit(300)
    full = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs(d, "doc_id", "text").collect()
    }
    path = str(tmp_path / "simhash_fp")
    simhash(d, "doc_id", "text").write.parquet(path)
    stored = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_from_fingerprints(spark.read.parquet(path)).collect()
    }
    assert stored == full and len(full) >= 0


def test_repeated_passages_crafted(spark, tmp_path):
    """Passage mining semantics: a 5-token passage shared by two docs is
    found; one repeated only WITHIN a single doc is not (n_docs >= 2);
    ranking is (spread, frequency, passage)."""
    import __spark_entry__ as mod

    shared = "alpha beta gamma delta epsilon"
    docs = [
        (1, f"intro words here {shared} tail one"),
        (2, f"{shared} completely different remainder text"),
        # internal repeat only: same 5-gram twice in one doc
        (3, "solo uno dos tres cuatro x solo uno dos tres cuatro"),
        (4, "nothing in common with anything else at all"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = mod.queries()["repeated_passages"](spark, str(tmp_path)).collect()
    got = {r.passage: (r.n_docs, r.n_occurrences) for r in rows}
    assert got == {shared: (2, 2)}


def test_duplicate_rate_by_source_crafted(spark, tmp_path):
    """Rate math pinned: source 'a' has 3 docs, 2 sharing a normalized
    fingerprint (case/punct differences) -> 1 redundant, rate 1/3; source
    'b' is all-distinct -> rate 0."""
    import __spark_entry__ as mod

    docs = [
        (1, "a", "Hello, World!"),
        (2, "a", "hello world"),  # same normalized fingerprint as doc 1
        (3, "a", "something else"),
        (4, "b", "unique one"),
        (5, "b", "unique two"),
    ]
    spark.createDataFrame(docs, "doc_id long, source string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = {
        r.source: r
        for r in mod.queries()["duplicate_rate_by_source"](spark, str(tmp_path)).collect()
    }
    a, b = rows["a"], rows["b"]
    assert (a.n_docs, a.n_distinct, a.n_redundant) == (3, 2, 1)
    assert a.dup_rate == round(1 / 3, 6)
    assert (b.n_docs, b.n_distinct, b.n_redundant, b.dup_rate) == (2, 2, 0, 0.0)


def test_prefix_filter_pairs_matches_bruteforce(spark, corpus):
    """The lossless claim: prefix filtering returns EXACTLY the all-pairs
    Jaccard>=t result, on a corpus with exact dups, a near dup, an
    unrelated doc, and a punctuation variant."""
    from itertools import combinations

    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    rows = corpus.select(
        "doc_id", F.array_distinct(
            F.filter(F.split(F.lower("text"), r"[^\p{L}\p{N}]+"), lambda t: t != "")
        ).alias("toks")
    ).collect()
    toks = {r.doc_id: set(r.toks) for r in rows}
    expected = {}
    for a, b in combinations(sorted(toks), 2):
        u = toks[a] | toks[b]
        j = round(len(toks[a] & toks[b]) / len(u), 6) if u else 0.0
        if j >= 0.5:
            expected[(a, b)] = j
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_pairs(corpus, "doc_id", "text", threshold=0.5).collect()
    }
    assert got == expected
    assert (1, 5) in got and got[(1, 5)] == 1.0


def test_prefix_filter_pairs_empty_and_short_docs(spark):
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, "one"), (5, "one two"), (6, None)],
        "doc_id int, text string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    # single-token docs pair at 1.0; {one} vs {one,two} = 0.5 survives the
    # boundary; empty/whitespace/null docs never appear
    assert got == {(3, 4): 1.0, (3, 5): 0.5, (4, 5): 0.5}


def test_prefix_filter_hot_token_cap_bounds_pairs(spark):
    """The skew guard: 40 docs sharing one boilerplate phrase pair-bomb
    without the cap; with it, the hot prefix token is dropped and the pair
    set collapses (bounded generation, exactness traded explicitly)."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    rows = [(i, "accept all cookies to continue reading") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = prefix_filter_pairs(df, "doc_id", "text", threshold=0.5).count()
    assert uncapped == 40 * 39 // 2
    capped = prefix_filter_pairs(
        df, "doc_id", "text", threshold=0.5, max_token_bucket=10
    ).count()
    assert capped == 0


def test_prefix_filter_pairs_random_corpora_match_bruteforce(spark):
    """Losslessness across randomized corpora: three seeded corpora with
    overlapping vocab, varied doc lengths and thresholds — the operator
    must equal the python brute force exactly every time."""
    import random
    from itertools import combinations

    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    vocab = [f"w{i}" for i in range(30)]
    for seed, thr in [(1, 0.5), (2, 0.7), (3, 0.8)]:
        rng = random.Random(seed)
        rows = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(1, 25))))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        toks = {i: set(t.split()) for i, t in rows}
        expected = {}
        for a, b in combinations(sorted(toks), 2):
            u = toks[a] | toks[b]
            j = round(len(toks[a] & toks[b]) / len(u), 6) if u else 0.0
            if j >= thr:
                expected[(a, b)] = j
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_filter_pairs(df, "doc_id", "text", threshold=thr).collect()
        }
        assert got == expected, f"seed={seed} thr={thr}"


def test_minhash_recall_eval_two_bases_crafted(spark, tmp_path):
    # ids are multiples of 5 so the token arm's 20% sample keeps them all.
    # docs 0/5: same vocabulary, REVERSED order -> token-Jaccard 1.0 but
    #   disjoint 3-shingle sets: a token-basis true pair the shingle-based
    #   generator structurally cannot see (the lens gap the report exists
    #   to surface).
    # docs 10/15: byte-identical -> true pair on BOTH bases, and the
    #   banding must catch it (identical signatures).
    docs = [
        (0, "a b c d e f"),
        (5, "f e d c b a"),
        (10, "g h i j k l"),
        (15, "g h i j k l"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    import __spark_entry__ as mod

    rows = {
        r.basis: r
        for r in mod.queries()["minhash_recall_eval"](spark, str(tmp_path)).collect()
    }
    t, s = rows["token"], rows["shingle"]
    assert (t.n_true, t.n_caught, t.n_missed) == (2, 1, 1)
    assert t.recall_e6 == 500000
    assert (s.n_true, s.n_caught, s.n_missed) == (1, 1, 0)
    assert s.recall_e6 == 1000000


def test_cdc_chunk_dedup_identical_docs(spark, tmp_path):
    # two identical long docs + one sub-window doc: every chunk of the
    # twin dedupes, the short doc is its own single chunk -> closed-form
    # accounting without knowing where the boundaries fall
    import hashlib

    t = "".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(60)
    )  # 1920 deterministic chars
    docs = [(1, t), (2, t), (3, "abc")]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    import __spark_entry__ as mod

    r = mod.queries()["cdc_chunk_dedup_report"](spark, str(tmp_path)).collect()[0]
    assert r.n_docs == 3
    assert r.total_chars == 2 * len(t) + 3
    k = (r.n_chunks - 1) // 2  # chunks per copy of t
    assert r.n_chunks == 2 * k + 1
    assert r.n_unique_chunks == k + 1  # twin fully deduped
    assert r.unique_chars == len(t) + 3


def test_cdc_boundaries_survive_prefix_insert(spark, tmp_path):
    # the content-defined property: inserting a prefix SHIFTS positions
    # but window contents at the old content reappear, so the suffix
    # chunks dedup against the original — fixed-size blocking would share
    # nothing. Pinned as unique mass strictly below total mass.
    import hashlib

    t = "".join(hashlib.md5(str(i).encode()).hexdigest() for i in range(60))
    docs = [(1, t), (2, "Z" * 11 + t)]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    import __spark_entry__ as mod

    r = mod.queries()["cdc_chunk_dedup_report"](spark, str(tmp_path)).collect()[0]
    assert r.n_chunks > 2  # t is long enough to have real boundaries
    assert r.unique_chars < r.total_chars  # suffix chunks shared


def test_sampling_weights_cover_corpus_and_match_ledger(spark, sf_dir):
    """SoftDeDup weights: one row per corpus document; singletons carry
    full weight 1e6; clustered docs' (cluster_id, cluster_size) must agree
    with the keep-one ledger's (cluster_id, n_docs); and weight_ppm is
    exactly 1e6 DIV size."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get
    from code_challenge___data_engineer___machinemax_spark.tables import load_table

    weights = get("near_dup_sampling_weights").fn(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(weights) == n_docs
    assert len({r.doc_id for r in weights}) == n_docs

    ledger = {
        r.cluster_id: r.n_docs
        for r in get("near_dup_cluster_keep_one").fn(spark, sf_dir).collect()
    }
    for r in weights:
        assert r.weight_ppm == 1_000_000 // r.cluster_size
        if r.cluster_size == 1:
            assert r.weight_ppm == 1_000_000
        else:
            assert ledger.get(r.cluster_id) == r.cluster_size, r


def test_sampling_weights_membership_tracks_planted_dup_rate(spark, tmp_path):
    """VERDICT r8 #2: the cluster-membership frame joined against the
    corpus in `near_dup_sampling_weights` is NOT structurally small — its
    row count is the number of documents in ANY verified near-dup pair,
    i.e. it scales with the corpus dup rate. Plant a 75%-duplicated
    corpus and assert membership (cluster_size > 1 rows) equals the
    planted dup population — the reason the query must not force-broadcast
    that frame (the hint was removed; AQE decides from measured size)."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get

    n_dup, n_unique = 30, 10
    rows = [
        (i, "shared boiler plate passage repeated across the corpus verbatim")
        for i in range(n_dup)
    ]
    rows += [
        (100 + i, f"singleton{i} entirely distinct tokens alpha{i} beta{i} gamma{i}")
        for i in range(n_unique)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    weights = get("near_dup_sampling_weights").fn(spark, str(tmp_path)).collect()
    assert len(weights) == n_dup + n_unique
    clustered = [r for r in weights if r.cluster_size > 1]
    # membership == planted dup population: 75% of the corpus, nothing like
    # the "KB-sized" frame the removed docstring claimed
    assert len(clustered) == n_dup
    assert all(r.cluster_size == n_dup for r in clustered)
    assert all(r.weight_ppm == 1_000_000 // n_dup for r in clustered)
    singletons = [r for r in weights if r.cluster_size == 1]
    assert len(singletons) == n_unique
    assert all(r.weight_ppm == 1_000_000 for r in singletons)


def _chain_corpus_rows(id_base: int = 200) -> list[tuple[int, str]]:
    """A deterministic 9-document, 8-hop CHAIN-shaped near-dup component:
    doc i = 12-token window starting at token 3i of one token stream, so
    adjacent docs share 9/15 tokens (Jaccard 0.6 >= the 0.5 verify) while
    2-hops share 6/18 (0.333 — never a verified pair). The 'lnk' alphabet
    was searched offline so that EVERY adjacent pair also collides in at
    least one MinHash band (md5 is deterministic, so this is a fixture
    property, not luck). Diameter 8 — the round-9 fixed 4-round hash-min
    closure left this component under multiple labels (ADVICE r9,
    medium); the converged closure must yield exactly one."""
    stream = [f"lnk{j:03d}" for j in range(3 * 8 + 12)]
    return [
        (id_base + i, " ".join(stream[3 * i : 3 * i + 12])) for i in range(9)
    ]


def test_closure_converges_on_long_chain(spark):
    """ADVICE r9 (medium), the direct pin: a chain-shaped component longer
    than 4 hops must converge to ONE label (the old 4-round hash-min left
    it under >=2 labels, which `cluster_aware_split` then bucketed into
    different splits)."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        near_dup_pairs,
    )
    from code_challenge___data_engineer___machinemax_spark.plans.dedup_queries import (
        _closure_labels,
    )

    d = spark.createDataFrame(_chain_corpus_rows(), "doc_id long, text string")
    # fixture sanity: the verified pair set is EXACTLY the 8 chain edges
    pairs = sorted(
        (r.id_a, r.id_b)
        for r in near_dup_pairs(
            d, "doc_id", "text", threshold=0.5, num_hashes=8, bands=4
        ).collect()
    )
    assert pairs == [(200 + i, 201 + i) for i in range(8)]
    labels = _closure_labels(d).collect()
    assert len(labels) == 9
    assert {r.lbl for r in labels} == {200}, (
        "chain component did not converge to one label"
    )


def test_cluster_aware_split_never_straddles_a_cluster(spark, tmp_path):
    """The leakage invariant: every member of a near-dup cluster lands in
    the SAME split. Plant two clique-shaped dup clusters, one 8-hop
    CHAIN-shaped cluster (the shape the round-9 4-round closure broke on
    — ADVICE r9) plus singletons, read back the per-document assignment
    through the same closure + bucket path the query aggregates, and
    check cluster -> split is a function."""
    from code_challenge___data_engineer___machinemax_spark.plans.dedup_queries import (
        _closure_labels,
    )
    from code_challenge___data_engineer___machinemax_spark.plans.pipeline_queries import (
        hash_split_bucket,
    )
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get
    from pyspark.sql import functions as F

    rows = [(i, "first shared boiler plate passage repeated verbatim") for i in range(8)]
    rows += [(20 + i, "second different duplicated passage also repeated verbatim") for i in range(6)]
    rows += [(100 + i, f"singleton{i} unique tokens alpha{i} beta{i} gamma{i}") for i in range(10)]
    rows += _chain_corpus_rows(id_base=200)
    d = spark.createDataFrame(rows, "doc_id long, text string")
    d.write.parquet(str(tmp_path / "documents.parquet"))

    # per-document view of exactly what the query buckets
    labels = _closure_labels(d)
    per_doc = (
        d.select("doc_id")
        .join(labels.select(F.col("node").alias("doc_id"), "lbl"), "doc_id", "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id"))
        .withColumn("bucket", hash_split_bucket(F.col("cluster_id")))
        .collect()
    )
    split_of = {}
    for r in per_doc:
        s = "train" if r.bucket < 80 else ("val" if r.bucket < 90 else "test")
        assert split_of.setdefault(r.cluster_id, s) == s, (
            f"cluster {r.cluster_id} straddles splits"
        )
    # the three planted clusters really are clusters (not 23 singletons)
    from collections import Counter

    sizes = Counter(r.cluster_id for r in per_doc)
    assert sorted(n for n in sizes.values() if n > 1) == [6, 8, 9]
    # and the aggregate view agrees on totals
    agg = get("cluster_aware_split").fn(spark, str(tmp_path)).collect()
    assert sum(r.n_docs for r in agg) == len(rows)
    assert sum(r.n_clusters for r in agg) == len(sizes)


def test_keep_best_quality_prefers_longest_member(spark, tmp_path):
    """Canonical = argmax(n_chars, ties min doc_id): plant one cluster
    whose LONGEST member has the HIGHEST doc_id — keep-one (min id) and
    keep-best must disagree, and keep-best must pick the long copy."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get

    base = "shared boiler plate passage repeated across the corpus verbatim"
    rows = [
        (1, base, len(base)),
        (2, base, len(base)),
        # same token set (near-dup) but longer raw text, highest id
        (9, base + "  " + base, len(base) * 2 + 2),
        (50, "totally unrelated singleton document tokens", 44),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, n_chars long").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    kept = get("near_dup_keep_best_quality").fn(spark, str(tmp_path)).collect()
    assert len(kept) == 1  # singletons carry no cluster row
    r = kept[0]
    assert r.cluster_id == 1 and r.n_docs == 3
    assert r.kept_doc_id == 9 and r.kept_n_chars == len(base) * 2 + 2


def test_dedup_membership_joins_carry_no_forced_broadcast(spark, sf_dir):
    """Plan-level pin for VERDICT r8 #2 (hardened per ADVICE r9: the old
    source grep for 'F.broadcast(mem)' went vacuous on a variable
    rename): the two queries whose dup-rate-dependent frames
    (sampling-weights membership, store-twin candidate id set) must
    never regain an explicit broadcast hint are checked in the ANALYZED
    plan, where a hint survives as ResolvedHint before the optimizer
    erases it into a join strategy. Zero hints expected anywhere in
    either tree — AQE owns the strategy choice for size-unbounded
    frames (an AQE-chosen BroadcastHashJoin in the physical plan is
    fine and deliberately NOT asserted against)."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get

    for name in ("near_dup_sampling_weights", "near_dup_pairs_minhash_from_store"):
        df = get(name).fn(spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, (
            f"{name}: a forced join hint reappeared in the analyzed plan"
        )


def test_cross_dup_pairs_match_self_join_cross_split_subset(spark, sf_dir):
    """The cross-set LSH join must find EXACTLY the cross-split subset of
    the full self-join near-dup pairs (same banding, same verify): no
    candidate lost by banding the splits separately, none invented. The
    same holds for the SimHash cross join against the fingerprint
    self-join."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        cross_dup_pairs,
        near_dup_pairs,
        simhash,
        simhash_cross_pairs,
        simhash_pairs_from_fingerprints,
    )
    from code_challenge___data_engineer___machinemax_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    full = near_dup_pairs(d, "doc_id", "text", threshold=0.5, num_hashes=8, bands=4)
    expected = set()
    for r in full.collect():
        if r.id_a % 10 == 0 and r.id_b % 10 != 0:
            expected.add((r.id_a, r.id_b, r.jaccard))
        elif r.id_b % 10 == 0 and r.id_a % 10 != 0:
            expected.add((r.id_b, r.id_a, r.jaccard))
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in cross_dup_pairs(
            d.filter("doc_id % 10 = 0"),
            d.filter("doc_id % 10 != 0"),
            "doc_id",
            "text",
            threshold=0.5,
            num_hashes=8,
            bands=4,
        ).collect()
    }
    assert got == expected

    fp = simhash(d, "doc_id", "text").localCheckpoint()
    expected_sh = set()
    for r in simhash_pairs_from_fingerprints(fp).collect():
        if r.id_a % 10 == 0 and r.id_b % 10 != 0:
            expected_sh.add((r.id_a, r.id_b, r.hamming))
        elif r.id_b % 10 == 0 and r.id_a % 10 != 0:
            expected_sh.add((r.id_b, r.id_a, r.hamming))
    got_sh = {
        (r.batch_id, r.corpus_id, r.hamming)
        for r in simhash_cross_pairs(
            fp.filter("doc_id % 10 = 0"), fp.filter("doc_id % 10 != 0")
        ).collect()
    }
    assert got_sh == expected_sh and expected_sh


def test_cross_dup_hot_bucket_cap_bounds_candidates(spark):
    """With a planted boilerplate bucket on the train side, the cap must
    drop the hot bucket's pairs while keeping distinct-content matches."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        cross_dup_pairs,
    )

    # train ids must avoid multiples of 10 (the bench-split convention)
    boiler_ids = [i for i in range(1, 35) if i % 10 != 0][:30]
    rows = [(0, "alpha beta gamma delta epsilon unique zero")]
    # 30 identical boilerplate train docs (one hot bucket) + 1 true match
    rows += [(i, "common boiler plate text repeated everywhere") for i in boiler_ids]
    rows += [(41, "alpha beta gamma delta epsilon unique zero")]
    # a bench doc colliding only with the boilerplate bucket
    rows += [(40, "common boiler plate text repeated everywhere")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.filter("doc_id % 10 = 0")
    train = df.filter("doc_id % 10 != 0")
    capped = cross_dup_pairs(
        bench, train, "doc_id", "text", threshold=0.5, max_bucket_size=5
    ).collect()
    # the 30-row boilerplate bucket is dropped; doc 0's exact twin survives
    assert {(r.id_a, r.id_b) for r in capped} == {(0, 41)}
    uncapped = cross_dup_pairs(bench, train, "doc_id", "text", threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in uncapped} == {(0, 41)} | {
        (40, i) for i in boiler_ids
    }


def test_containment_finds_subset_pairs_jaccard_misses(spark, tmp_path):
    """A short doc fully contained in a long one has containment 1.0 but
    Jaccard ~|A|/|B| — the containment join must emit it, the Jaccard-0.8
    prefix join must not; and the asymmetric direction must be right."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        containment_prefix_pairs,
        prefix_filter_pairs,
    )

    small = "alpha beta gamma"
    big = small + " " + " ".join(f"extra{i}" for i in range(20))
    rows = [
        (1, small),
        (2, big),
        (3, "totally disjoint tokens here now"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r.id_sub, r.id_super, r.containment)
        for r in containment_prefix_pairs(d, "doc_id", "text", threshold=0.8).collect()
    }
    assert cont == {(1, 2, 1.0)}  # only small-in-big, only that direction
    jac = prefix_filter_pairs(d, "doc_id", "text", threshold=0.8).collect()
    assert jac == []  # Jaccard(1,2) = 3/23 — invisible to the symmetric join


def test_containment_matches_bruteforce(spark, sf_dir):
    """Lossless-candidates bar: the prefix-pruned join must equal the
    brute-force all-ordered-pairs answer on the real fixture."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        containment_prefix_pairs,
    )
    from code_challenge___data_engineer___machinemax_spark.tables import load_table
    from pyspark.sql import functions as F
    from code_challenge___data_engineer___machinemax_spark.functions.text import tokenize

    d = load_table(spark, sf_dir, "documents").limit(120).localCheckpoint()
    got = {
        (r.id_sub, r.id_super, r.containment)
        for r in containment_prefix_pairs(d, "doc_id", "text", threshold=0.8).collect()
    }
    t = d.select(
        "doc_id", F.array_distinct(tokenize("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    a = t.select(F.col("doc_id").alias("id_sub"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_super"), F.col("toks").alias("tb"))
    brute = {
        (r.id_sub, r.id_super, r.containment)
        for r in a.crossJoin(b)
        .filter(F.col("id_sub") != F.col("id_super"))
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("ta", "tb")) / F.size("ta"), 6
            ),
        )
        .filter(F.col("containment") >= 0.8)
        .collect()
    }
    assert got == brute and len(got) > 0


def test_cut_spans_merge_overlaps_union_not_sum(spark, tmp_path):
    """Two docs sharing one 6-token run produce two OVERLAPPING dup
    5-grams ([0..4], [1..5]); coverage must be the 6-token union, not the
    10-token sum of interval lengths."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get

    shared = "one two three four five six"
    rows = [
        (1, shared + " uniqA1 uniqA2 uniqA3", "en", "srcA", 1),
        (2, shared + " uniqB1 uniqB2 uniqB3", "en", "srcB", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in get("exact_substr_cut_spans").fn(spark, str(tmp_path)).collect()}
    for src in ("srcA", "srcB"):
        r = out[src]
        assert r.n_docs == 1 and r.tokens_total == 9
        assert r.tokens_covered == 6  # the union, never 5+5
        assert r.cut_ppm == 6 * 1_000_000 // 9


def test_containment_ledger_drops_subset_keeps_twins(spark, tmp_path):
    """A quoted subset is dropped in favor of its LONGEST container; two
    equal-length near-identical twins never enter the containment ledger
    (they belong to the symmetric keep-one/keep-best path)."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get

    quote = "alpha beta gamma delta"
    medium = quote + " " + " ".join(f"mid{i}" for i in range(10))
    big = quote + " " + " ".join(f"big{i}" for i in range(30))
    rows = [
        (1, quote),
        (2, medium),
        (3, big),
        # equal-length twins: same token COUNT, same token set
        (10, "twin same tokens here now"),
        (11, "now here tokens same twin"),
        (20, "unrelated disjoint vocabulary entirely separate"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    ledger = {
        r.dropped_doc_id: r
        for r in get("containment_dedup_ledger").fn(spark, str(tmp_path)).collect()
    }
    # the quote is contained 1.0 in BOTH 2 and 3 -> ties break to the
    # larger container (doc 3); medium is NOT contained in big (mid* vs
    # big* tails); the twins are equal-length so neither is dropped
    assert set(ledger) == {1}
    assert ledger[1].kept_super_id == 3
    assert ledger[1].containment == 1.0


def _syndication_corpus(spark, n_articles: int = 40, n_reprints: int = 3):
    """Wide-vocabulary planted-syndication fixture (VERDICT r9 #3: the
    synthetic corpus's 31-word vocabulary makes >=0.95 containment nearly
    universal, so it cannot demonstrate the join's discriminating power):
    ``n_articles`` fully-distinct 30-token articles (disjoint vocabularies)
    plus ``n_reprints`` true subset reprints — doc 1000+i carries the first
    24 tokens of article i, so containment(reprint -> article) = 1.0 while
    containment(article -> reprint) = 24/30 = 0.8 < 0.95."""
    rows = [
        (i, " ".join(f"a{i}w{j}" for j in range(30))) for i in range(n_articles)
    ]
    rows += [
        (1000 + i, " ".join(f"a{i}w{j}" for j in range(24)))
        for i in range(n_reprints)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_wide_vocab_finds_exactly_planted_reprints(spark):
    """Discriminating-power pin: on a wide-vocab corpus the join emits
    EXACTLY the planted (reprint, article) pairs — nothing else reaches
    0.95 — and the prefix pruning's candidate volume is the planted pair
    count, a tiny fraction of the brute-force ordered-pair space."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        _containment_tokens,
        containment_candidates,
        containment_prefix_pairs,
    )

    n_articles, n_reprints = 40, 3
    d = _syndication_corpus(spark, n_articles, n_reprints)
    got = {
        (r.id_sub, r.id_super, r.containment)
        for r in containment_prefix_pairs(
            d, "doc_id", "text", threshold=0.95
        ).collect()
    }
    assert got == {(1000 + i, i, 1.0) for i in range(n_reprints)}

    # selectivity: every reprint's rarest-first prefix is df=2 tokens
    # shared only with its source article, and every article's prefix is
    # its df=1 unique tail — so candidates == planted pairs, while brute
    # force would verify n*(n-1) ordered pairs
    toks = _containment_tokens(d, "doc_id", "text")
    n_cand = containment_candidates(toks, "doc_id", threshold=0.95).count()
    n_docs = n_articles + n_reprints
    assert n_cand == n_reprints
    assert n_cand < 0.01 * n_docs * (n_docs - 1)


def test_containment_cap_broadcasts_only_hot_tokens(spark):
    """VERDICT r9 #2: with ``max_token_df`` set, the broadcast side must
    be the HOT-token list (df > ceiling — small by definition), never the
    cold keep-list (~ the whole vocabulary). Plant a wide vocabulary plus
    3 boilerplate tokens that appear in every document; assert (a) the
    above-ceiling list is exactly those 3 tokens while the vocabulary is
    ~1200, (b) the physical plan anti-joins via a BroadcastExchange, and
    (c) the capped join still finds the planted reprints (their witness
    tokens are cold) while staying lossy ONLY for hot-token overlap."""
    from code_challenge___data_engineer___machinemax_spark.functions.text import (
        tokenize,
    )
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        containment_prefix_pairs,
    )
    from pyspark.sql import functions as F

    from tests.test_plans import explain_text

    boiler = "cookie banner legalese"
    base = _syndication_corpus(spark)
    d = base.select(
        "doc_id", F.concat(F.col("text"), F.lit(" " + boiler)).alias("text")
    )
    cap = 10
    dfreq = (
        d.select(F.explode(F.array_distinct(tokenize("text"))).alias("tok"))
        .groupBy("tok")
        .count()
    )
    hot = dfreq.filter(F.col("count") > cap)
    assert hot.count() == 3  # the 3 boilerplate tokens, nothing else
    assert dfreq.count() > 1000  # the cold keep-list the r9 shape broadcast

    capped = containment_prefix_pairs(
        d, "doc_id", "text", threshold=0.95, max_token_df=cap
    )
    txt = explain_text(capped)
    assert "BroadcastExchange" in txt
    assert "LeftAnti" in txt.replace(" ", "")
    got = {(r.id_sub, r.id_super) for r in capped.collect()}
    # reprint token sets now include the 3 hot boilerplate tokens, so
    # containment(reprint -> article) = 27/27 = 1.0 still; the witness
    # prefix tokens are the cold df=2 article tokens — pairs survive
    assert got == {(1000 + i, i) for i in range(3)}


def test_lsh_band_planner_knee_tradeoff(spark, sf_dir):
    """S-curve economics pin: at fixed b*r, raising r (sharper knee) must
    monotonically SHRINK the expected sub-threshold candidate mass, and
    every expected-detection mass is bounded by 1e6 x its pair count."""
    from code_challenge___data_engineer___machinemax_spark.plans.registry import get

    rows = {
        (r.bands, r.rows_per_band): r
        for r in get("lsh_band_planner").fn(spark, sf_dir).collect()
    }
    grid = [(16, 1), (8, 2), (4, 4), (2, 8)]
    assert set(rows) == set(grid)
    fc = [rows[g].exp_false_cand_e6 for g in grid]
    assert fc == sorted(fc, reverse=True), "false-candidate mass must fall as r rises"
    for g in grid:
        assert 0 <= rows[g].exp_detected_e6 <= 1_000_000 * rows[g].n_target_pairs
        assert 0 <= rows[g].exp_false_cand_e6 <= 1_000_000 * rows[g].n_background_pairs


def test_bucket_pairs_contract(spark):
    """The one bucket-collision join: a pair sharing two buckets comes out
    once, self mode yields only id_a < id_b, cross mode caps only b's hot
    buckets, and a riding column comes out once per side."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        _bucket_pairs,
    )

    schema = "doc_id int, band int, band_key string, fp long"
    a = spark.createDataFrame(
        [(1, 0, "x", 10), (1, 1, "y", 10), (2, 0, "x", 20), (2, 1, "y", 20),
         (3, 0, "z", 30)],
        schema,
    )
    got = _bucket_pairs(a, None, "doc_id", ["band", "band_key"])
    assert got.columns == ["id_a", "id_b", "fp_a", "fp_b"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, 2, 10, 20)]

    # cross mode: no order on the ids; bucket (0, "x") holds 3 rows of b
    b = spark.createDataFrame(
        [(0, 0, "x", 0), (9, 0, "x", 0), (8, 0, "x", 0), (7, 1, "y", 0)], schema
    ).drop("fp")
    cross = _bucket_pairs(a.drop("fp"), b, "doc_id", ["band", "band_key"])
    assert sorted(tuple(r) for r in cross.collect()) == [
        (1, 0), (1, 7), (1, 8), (1, 9), (2, 0), (2, 7), (2, 8), (2, 9)
    ]
    # a's own (0, "x") bucket holds 2 rows: a cap of 2 keeps it on a's
    # side, while b's 3-row bucket is dropped
    capped = _bucket_pairs(a.drop("fp"), b, "doc_id", ["band", "band_key"], 1)
    assert sorted(tuple(r) for r in capped.collect()) == [(1, 7), (2, 7)]


def test_containment_tokens_tokenize_once(spark):
    """The token-less drop must not become a Filter that Catalyst pushes
    below the tokenizing projection (each document tokenized twice)."""
    from code_challenge___data_engineer___machinemax_spark.operators.dedup import (
        _containment_tokens,
    )

    from tests.test_plans import explain_text

    d = spark.createDataFrame(
        [(1, "a b c b"), (2, ""), (3, None), (4, "b d")], "doc_id int, text string"
    )
    toks = _containment_tokens(d, "doc_id", "text")
    assert explain_text(toks).count("split(") == 1
    assert sorted((r[0], sorted(r[1]), r[2]) for r in toks.collect()) == [
        (1, ["a", "b", "c"], 3), (4, ["b", "d"], 2)
    ]
