"""Dedup-family operator tests on planted duplicates (the driver fixtures
contain no near-dups, so parity checks alone can't prove recall)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sdlt_spark import tables
from sdlt_spark.operators import dedup

WORDS = "spark query join filter window table row batch stream hash sort merge".split()


@pytest.fixture(scope="module")
def docs(spark):
    base = " ".join(WORDS * 16)  # 192 tokens
    near = "flink " + base[len("spark ") :]  # one token changed
    far = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (0, base),
        (1, base),          # exact dup of 0
        (2, near),          # near dup of 0
        (3, far),           # disjoint vocabulary
        (4, "one tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, "doc_id").collect()
    by_id = {r["doc_id"]: r["n_dups"] for r in out}
    assert by_id[0] == 2  # doc 1 collapsed into 0
    assert len(out) == 4


def test_minhash_finds_near_dup(docs):
    pairs = dedup.minhash_dedup(docs, "doc_id", threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got  # exact dup: jaccard 1.0
    assert (0, 2) in got or (1, 2) in got  # near dup survives banding
    assert all(r["jaccard"] >= 0.5 for r in pairs)
    assert (0, 3) not in got and (3, 4) not in got


def test_simhash_hamming(docs):
    pairs = dedup.simhash_neardup(docs, "doc_id", max_hamming=7).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(0, 1)] == 0  # identical text -> identical simhash
    # one-token change keeps hamming < num_chunks (8) -> pigeonhole recall
    near = {k: v for k, v in got.items() if 2 in k and (0 in k or 1 in k)}
    assert near and all(0 < v <= 7 for v in near.values())
    assert not any(3 in k or 4 in k for k in got)


def test_ngram_jaccard(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 1)] == 1.0
    assert any(2 in k for k in got)  # near-dup pair found via shared shingles


def test_ngram_jaccard_df_cap_bounds_hot_shingle_skew(spark):
    """Skew guard: plant ONE shingle shared by 10k docs — uncapped, the
    candidate self-join would materialize ~50M pairs from that single hot
    key. With max_doc_frequency the hot shingle leaves candidate
    generation, candidates stay bounded, and pairs sharing NON-hot
    shingles are still found with EXACT jaccard (the verify step counts
    every shared shingle, hot ones included)."""
    n_docs = 10_000
    rows = [(i, f"HOT HOT HOT u{i} v{i} w{i}") for i in range(n_docs)]
    # one genuine near-dup pair sharing non-hot shingles (and the hot one)
    rows.append((n_docs, "HOT HOT HOT alpha beta gamma delta"))
    rows.append((n_docs + 1, "HOT HOT HOT alpha beta gamma delta"))
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    # the capped candidate set is tiny: assert the bound directly on the
    # same building blocks the operator composes
    grams = dedup.doc_ngrams(docs_df, "doc_id", "text", 3)
    hot = (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 100)
    )
    assert hot.count() >= 1  # the planted hot shingles ("HOT HOT HOT", ...)
    capped = grams.join(hot.select("ngram"), "ngram", "left_anti")
    n_cand = (
        capped.alias("g")
        .join(capped.withColumnRenamed("doc_id", "id_b").alias("h"), "ngram")
        .filter(F.col("g.doc_id") < F.col("id_b"))
        .select(F.col("g.doc_id"), "id_b")
        .distinct()
        .count()
    )
    assert n_cand <= 10  # bounded: only the planted pair's shingles collide
    out = dedup.ngram_jaccard_pairs(
        docs_df, "doc_id", n=3, threshold=0.5, max_doc_frequency=100
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    # exact jaccard INCLUDING the hot shingles both docs share: identical
    # texts -> 1.0, not the capped-set ratio
    assert got == {(n_docs, n_docs + 1): 1.0}


def test_minhash_no_false_high_jaccard(docs):
    """Verification step bounds LSH false positives: any reported pair's
    jaccard is the exact value, so thresholding is exact post-verify."""
    pairs = dedup.minhash_dedup(docs, "doc_id", threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, 1)}


def test_dedup_clusters_transitive(spark):
    """Chain a-b, b-c plus isolated pair d-e and singleton f: clusters must
    close transitively and singletons keep their own label."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    out = {
        r["doc_id"]: r["cluster"]
        for r in dedup.dedup_clusters(pairs, ids, "doc_id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_dedup_clusters_long_chain(spark):
    """A 10-node path exercises multi-round propagation to the fixpoint."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(11)], "doc_id long")
    out = dedup.dedup_clusters(pairs, ids, "doc_id").collect()
    assert {r["cluster"] for r in out} == {0}


def test_end_to_end_dedup_pipeline(docs):
    """minhash pairs -> clusters -> canonical selection: docs 0,1,2 collapse
    to one representative; 3 and 4 survive."""
    pairs = dedup.minhash_dedup(docs, "doc_id", threshold=0.5)
    clusters = dedup.dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
    keep = {r["doc_id"] for r in clusters.filter(F.col("doc_id") == F.col("cluster")).collect()}
    assert keep == {0, 3, 4}


def test_pipeline_invariants(spark):
    """End-to-end dedup pipeline on the sf0.01 corpus: labeling invariants
    that any regression in pairs, transitive closure, or canonicalization
    breaks."""
    from sdlt_spark import queries as Q

    sf = "/root/testdata/sf0.01"
    docs = tables.load(spark, sf, "documents")
    n_docs = docs.count()
    labeled = Q.dedup_pipeline(spark, sf).persist()
    try:
        # every document labeled exactly once
        assert labeled.count() == n_docs
        assert labeled.select("doc_id").distinct().count() == n_docs
        # cluster label is the minimum member id -> exactly one canonical per
        # cluster, and it is the label itself
        agg = labeled.groupBy("cluster").agg(
            F.min("doc_id").alias("lo"),
            F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
        )
        assert agg.filter((F.col("lo") != F.col("cluster")) | (F.col("n_canon") != 1)).count() == 0
        # near-dup pair endpoints always land in the same cluster
        pairs = dedup.minhash_dedup(docs, "doc_id", threshold=0.9)
        la = labeled.select(F.col("doc_id").alias("id_a"), F.col("cluster").alias("ca"))
        lb = labeled.select(F.col("doc_id").alias("id_b"), F.col("cluster").alias("cb"))
        split = pairs.join(la, "id_a").join(lb, "id_b").filter(F.col("ca") != F.col("cb"))
        assert split.count() == 0
    finally:
        labeled.unpersist()


def test_deterministic_split_stability(spark):
    """Split membership is a pure function of the key: stable under
    repartitioning and appends, weights approximately honored, and the SQL
    formulation assigns identically."""
    from sdlt_spark.operators.sampling import deterministic_split, deterministic_split_sql

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in deterministic_split(df, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(df.repartition(17), "doc_id").collect()
    }
    assert a == b
    # appending rows never moves existing ones
    bigger = spark.range(8000).select(F.col("id").alias("doc_id"))
    c = {r["doc_id"]: r["split"] for r in deterministic_split(bigger, "doc_id").collect()}
    assert all(c[k] == v for k, v in a.items())
    # fractions within a few percent of 80/10/10
    from collections import Counter

    frac = {k: v / 5000 for k, v in Counter(a.values()).items()}
    assert abs(frac["train"] - 0.8) < 0.03 and abs(frac["val"] - 0.1) < 0.02
    # SQL formulation == DataFrame formulation
    df.createOrReplaceTempView("split_in")
    sql = deterministic_split_sql("doc_id")
    d = {
        r["doc_id"]: r["split"]
        for r in spark.sql(f"SELECT doc_id, {sql} AS split FROM split_in").collect()
    }
    assert d == a


def test_semantic_dedup_planted_duplicates(spark):
    """SemDeDup correctness on a planted corpus: near-identical embedding
    pairs (cos ~ 1) lose their higher-id member; well-separated vectors
    all survive; transitive chains collapse to ONE representative."""
    import numpy as np

    from sdlt_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # plant near-duplicates of vectors 0..3 (ids 100..103) and a CHAIN:
    # 200 ~ vec 4, 201 ~ 200 (tiny accumulating noise -> transitive group)
    for j in range(4):
        v = base[j] + rng.normal(scale=1e-6, size=16)
        rows.append((100 + j, [float(x) for x in v / np.linalg.norm(v)]))
    c1 = base[4] + rng.normal(scale=1e-6, size=16)
    c2 = c1 + rng.normal(scale=1e-6, size=16)
    rows.append((200, [float(x) for x in c1 / np.linalg.norm(c1)]))
    rows.append((201, [float(x) for x in c2 / np.linalg.norm(c2)]))

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, "embedding", "vec_id", k=4, threshold=0.999)
    got = {r["vec_id"]: (r["cluster"], r["keep"]) for r in out.collect()}
    assert len(got) == 26  # every input id labeled
    # planted dups collapse onto their original (min id) and are dropped
    for j in range(4):
        assert got[100 + j] == (j, False)
        assert got[j] == (j, True)
    # the chain 4-200-201 is ONE group kept once
    assert got[4] == (4, True)
    assert got[200] == (4, False) and got[201] == (4, False)
    # all other well-separated vectors survive as their own singletons
    for i in range(5, 20):
        assert got[i] == (i, True)


def test_exact_substring_dedup_semantics(spark):
    """Lee et al. ExactSubstr at window granularity: the globally-first
    occurrence of a duplicated >=W-token run survives, later ones are cut;
    overlapping duplicated windows merge into ONE maximal span (a
    12-token shared run removes 12 tokens, not 8); within-doc repeats cut
    too; untouched docs pass through verbatim; hash keying agrees."""
    from sdlt_spark.operators.dedup import (
        duplicated_substring_spans,
        exact_substring_dedup,
    )

    run = " ".join(f"w{i}" for i in range(12))  # 12-token shared run
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {run} gamma delta"),
            (2, f"start {run} end of second doc pad pad2 pad3"),
            (3, "totally unique words only here nothing repeats at all"),
            # within-doc repeat: the same 8 tokens twice
            (4, "r0 r1 r2 r3 r4 r5 r6 r7 mid r0 r1 r2 r3 r4 r5 r6 r7"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, min_tokens=8).collect()
    }
    # doc 1 is the first occurrence -> intact
    assert out[1]["text"] == f"alpha beta {run} gamma delta"
    assert out[1]["removed_tokens"] == 0
    # doc 2 loses the WHOLE 12-token run (merged span), not just 8
    assert out[2]["text"] == "start end of second doc pad pad2 pad3"
    assert out[2]["removed_tokens"] == 12
    assert out[3]["removed_tokens"] == 0
    # within-doc: second copy of the 8-run goes
    assert out[4]["text"] == "r0 r1 r2 r3 r4 r5 r6 r7 mid"
    assert out[4]["removed_tokens"] == 8

    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_substring_spans(docs, min_tokens=8).collect()
    }
    assert spans == {(2, 1, 13), (4, 9, 17)}

    hashed = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, min_tokens=8, key="hash").collect()
    }
    assert all(hashed[k]["text"] == out[k]["text"] for k in out)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="key must be"):
        exact_substring_dedup(docs, key="md5")


def test_exact_substring_dedup_full_doc_collapses(spark):
    """A document that is entirely a copy of an earlier one collapses to
    the empty string (caller policy decides to drop or keep), and short
    (<W tokens) docs never produce windows."""
    from sdlt_spark.operators.dedup import exact_substring_dedup

    text = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "tiny doc")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in exact_substring_dedup(docs, min_tokens=8).collect()
    }
    assert out[1]["text"] == text
    assert out[2]["text"] == "" and out[2]["removed_tokens"] == 10
    assert out[3]["text"] == "tiny doc" and out[3]["removed_tokens"] == 0


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR sanity: documents whose n-grams match the target corpus get
    higher weight than off-distribution ones; null-text docs weight 0; topk
    picks the target-like slice deterministically."""
    from sdlt_spark.operators.sampling import dsir_topk, dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),
            (2, "quantum flux capacitor hums in violet resonance"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    w = {r["doc_id"]: r for r in dsir_weights(raw, target).collect()}
    assert w[1]["log_w"] > w[2]["log_w"]
    assert w[3]["log_w"] == 0.0 and w[3]["n_grams"] == 0
    top = dsir_topk(raw, target, 1).collect()
    assert [r["doc_id"] for r in top] == [1]


def test_lsh_bucket_cap_bounds_mass_duplicates(spark):
    """Round-9 verdict item 1: plant 10k byte-identical documents — they
    agree on EVERY LSH band, so uncapped candidate generation would emit
    ~50M pairs per band from one bucket. With max_bucket_size the mega
    buckets leave candidate generation; pairs in small buckets are still
    found with exact jaccard."""
    n = 10_000
    rows = [(i, "the same boilerplate page text repeated") for i in range(n)]
    rows += [(n, "alpha beta gamma delta epsilon zeta"),
             (n + 1, "alpha beta gamma delta epsilon zeta eta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_dedup(
        docs, "doc_id", threshold=0.5, max_bucket_size=64
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # the clone mega-buckets are gone; the small-bucket near-pair remains,
    # with jaccard computed over the FULL token sets (6/7)
    assert got == {(n, n + 1): 0.8571}


def test_exact_first_pipeline_bounds_mass_duplicates(spark):
    """exact-dedup-before-minhash: 10k clones collapse to one
    representative BEFORE banding (linear), re-entering as (rep, dup)
    edges; the final clustering still unifies every clone and the
    near-dup pair."""
    n = 10_000
    rows = [(i, "the same boilerplate page text repeated") for i in range(n)]
    rows += [(n, "alpha beta gamma delta epsilon zeta"),
             (n + 1, "alpha beta gamma delta epsilon zeta eta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    edges = dedup.exact_then_minhash_pairs(
        docs, "doc_id", threshold=0.5, max_bucket_size=64
    )
    # linear edge count: n-1 exact edges + the one minhash pair
    assert edges.count() == n
    clusters = dedup.dedup_clusters(edges, docs.select("doc_id"), "doc_id")
    labels = {r["doc_id"]: r["cluster"] for r in clusters.collect()}
    assert all(labels[i] == 0 for i in range(n))
    assert labels[n] == labels[n + 1] == n


def test_simhash_mass_duplicates_collapse_to_linear_edges(spark):
    """Round-11 contract: identical docs share a simhash, and the
    grouped-by-default path collapses them to n-1 (rep, member, 0) edges —
    never the quadratic pair list the pre-grouping cap had to suppress.
    The 2-copy group elsewhere still yields its identity edge."""
    n = 10_000
    rows = [(i, "the same boilerplate page text repeated") for i in range(n)]
    rows += [(n, "alpha beta gamma delta epsilon zeta"),
             (n + 1, "alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.simhash_neardup(
        docs, "doc_id", max_hamming=3, max_bucket_size=64
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    ident = {(0, i): 0 for i in range(1, n)}
    ident[(n, n + 1)] = 0
    # exactly linear: n-1 boilerplate edges + the 2-copy edge; no
    # quadratic within-group pairs, and the distinct-signature band join
    # (2 reps) is far under the cap so nothing true is lost
    assert got == ident


def test_simhash_grouped_exact_first_closure(spark):
    """Round-10 (the sf10 concentration finding): identical texts share a
    simhash, so simhash_neardup_grouped must emit LINEAR (rep, member, 0)
    edges for them — never the quadratic within-group pair list — while
    the transitive closure matches the full pair list's exactly."""
    base = " ".join(WORDS * 16)
    near = "flink " + base[len("spark ") :]
    far = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = (
        [(i, base) for i in (10, 11, 12, 13, 14)]  # 5 identical copies
        + [(20, near)]
        + [(99, far)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_neardup_grouped(df, "doc_id", max_hamming=3).collect()
    }
    ident = {(10, i): 0 for i in (11, 12, 13, 14)}
    # the 5-copy group contributes 4 identity edges, not 5C2 = 10 pairs
    assert {k: v for k, v in got.items() if v == 0} == ident
    near_edges = {k for k, v in got.items() if v > 0}
    assert near_edges == {(10, 20)} or near_edges == set(), near_edges
    ids = df.select(F.col("doc_id").alias("id"))
    full = dedup.simhash_neardup(df, "doc_id", max_hamming=3)
    want = {
        (r["id"], r["cluster"])
        for r in dedup.dedup_clusters(full, ids, "id").collect()
    }
    grouped_edges = dedup.simhash_neardup_grouped(df, "doc_id", max_hamming=3)
    have = {
        (r["id"], r["cluster"])
        for r in dedup.dedup_clusters(grouped_edges, ids, "id").collect()
    }
    assert have == want


def test_dedup_clusters_ignores_foreign_edge_endpoints(spark):
    """ADVICE round-10: an edge endpoint absent from `ids` (e.g. a stale
    pair list joined against a filtered corpus) must not become a cluster
    label — every returned cluster id is a member, so `id == cluster`
    always selects exactly one representative per cluster."""
    ids = spark.createDataFrame([(10,), (11,), (12,)], "id long")
    pairs = spark.createDataFrame(
        [(10, 11), (1, 12)],  # id 1 is not in ids
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster"]
        for r in dedup.dedup_clusters(pairs, ids, "id").collect()
    }
    assert got == {10: 10, 11: 10, 12: 12}


def test_pair_budget_guard_trips_before_the_sweep(spark):
    """Round-12 (round-11 verdict item 5): a loose-threshold sweep whose
    TRUE edge volume explodes must abort from the bucket-statistics
    estimate — BEFORE the candidate join runs — not spend hours emitting
    the edges. Planted corpus: 200 DISTINCT dhashes within a few bits of
    each other (the correlated shape SCALE.md measured at 58M edges /
    604 s at sf10), so every banding scheme's candidate set is ~n^2/2."""
    from sdlt_spark.operators import multimodal as mm

    rows = [(i, i, 0) for i in range(200)]  # hi = i < 2^16: 3 of 4 16-bit
    h = spark.createDataFrame(               # bands are IDENTICAL across rows
        rows, "media_id long, dhash_hi long, dhash_lo long"
    )
    # exact-equality branch (r = 3 // 4 = 0)
    with pytest.raises(dedup.PairBudgetExceeded, match="max_pairs"):
        mm.dhash_neardup_indexed(h, max_hamming=3, max_pairs=500)
    # ball-probe branch (r = 8 // 4 = 2)
    with pytest.raises(dedup.PairBudgetExceeded, match="max_pairs"):
        mm.dhash_neardup_indexed(h, max_hamming=8, max_pairs=500)
    # a budget above the true volume admits the sweep, output unchanged
    key = lambda r: (r["id_a"], r["id_b"], r["hamming"])
    guarded = mm.dhash_neardup_indexed(h, max_hamming=3, max_pairs=10**9)
    plain = mm.dhash_neardup_indexed(h, max_hamming=3)
    assert sorted(map(key, guarded.collect())) == sorted(map(key, plain.collect()))


def test_pair_budget_guard_simhash_plumbing(spark):
    """The budget knob reaches the text path too: a tight budget on a
    correlated text corpus raises; a generous one returns the identical
    edge set (the knob is observational until tripped, so the registry
    oracles are untouched by default)."""
    base = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(120):
        toks = list(base)
        # perturb 3 tokens per doc -> distinct but near signatures
        for j in range(3):
            toks[(d * 3 + j) % 40] = f"v{d}_{j}"
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    distinct_sigs = dedup.simhash(df, "doc_id").select("simhash").distinct().count()
    assert distinct_sigs > 50  # the corpus really is near-but-distinct
    with pytest.raises(dedup.PairBudgetExceeded, match="candidate pairs"):
        dedup.simhash_neardup(df, "doc_id", max_hamming=12, max_pairs=50)
    key = lambda r: (r["id_a"], r["id_b"], r["hamming"])
    guarded = dedup.simhash_neardup(
        df, "doc_id", max_hamming=12, max_pairs=10**9
    )
    plain = dedup.simhash_neardup(df, "doc_id", max_hamming=12)
    assert sorted(map(key, guarded.collect())) == sorted(map(key, plain.collect()))


def test_pair_budget_guard_minhash_lsh(spark):
    """Round-13 (round-12 verdict item 2): the max_pairs circuit breaker
    covers the MinHash-LSH family too. Planted correlated corpus: 150
    near-identical template documents (3 token edits each) at a LOW
    threshold -> many narrow bands -> band buckets concentrate and the
    candidate join would be ~n^2/2. The guard must trip from the pre-join
    bucket-statistics estimate; a generous budget returns the identical
    pair set (knob observational until tripped — oracles untouched)."""
    base = [f"w{i}" for i in range(60)]
    rows = []
    for d in range(150):
        toks = list(base)
        for j in range(3):  # distinct but highly similar token sets
            toks[(d * 3 + j) % 60] = f"v{d}_{j}"
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # snapshot pre-existing storage entries: in a shared session, earlier
    # tests' localCheckpoint blocks legitimately live until their frames
    # are GC'd, so the leak check below must be RELATIVE (no NEW entries
    # survive the aborts), not a global emptiness assert
    pre = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    # low threshold -> tune_bands picks many narrow bands -> buckets
    # collide heavily on this corpus; both prefilter branches must trip
    with pytest.raises(dedup.PairBudgetExceeded, match="max_pairs"):
        dedup.minhash_dedup(df, "doc_id", threshold=0.2, max_pairs=500)
    with pytest.raises(dedup.PairBudgetExceeded, match="max_pairs"):
        dedup.minhash_dedup(
            df, "doc_id", threshold=0.2, estimate_prefilter=False, max_pairs=500
        )
    # the exact-first composition trips too (representatives are all
    # distinct here, so collapsing doesn't relieve the correlation)
    with pytest.raises(dedup.PairBudgetExceeded, match="max_pairs"):
        dedup.exact_then_minhash_pairs(
            df, "doc_id", threshold=0.2, max_pairs=500
        )
    # the abort paths released their persisted intermediates (checked
    # BEFORE the materialized runs below, whose localCheckpoint blocks
    # legitimately live until the frames drop). unpersist is async; allow
    # the executor a beat to drop blocks.
    import time as _time

    for _ in range(20):
        leaked = [
            i
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.id() not in pre
        ]
        if not leaked:
            break
        _time.sleep(0.25)
    assert not leaked, "budget aborts leaked cache entries"
    # budget above the true volume: sweep admitted, output unchanged
    key = lambda r: (r["id_a"], r["id_b"], r["jaccard"])
    guarded = dedup.minhash_dedup(
        df, "doc_id", threshold=0.2, max_pairs=10**9
    )
    plain = dedup.minhash_dedup(df, "doc_id", threshold=0.2)
    assert sorted(map(key, guarded.collect())) == sorted(map(key, plain.collect()))


def test_minhash_refresh_equals_from_scratch(spark, tmp_path):
    """Round-13 (round-12 verdict next item 1): the persisted-signature-
    index incremental path. Build on an initial corpus snapshot, fold two
    CDC batches (inserts + text updates + deletes), maintain the pair set
    per the stale_ids retraction contract — the result must equal the
    from-scratch minhash_dedup run over the FINAL corpus bit-exactly
    (same pairs, same jaccard values)."""
    from sdlt_spark import tables
    from sdlt_spark.operators import minhash_index as mi
    from sdlt_spark.store import VintageTable

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    corpus = VintageTable(spark, str(tmp_path / "corpus"), change_feed=True)
    corpus.write(docs.filter(F.col("doc_id") % 5 < 3))

    idx = str(tmp_path / "index")
    pairs0, rep0 = mi.minhash_index_build(
        corpus, idx, "doc_id", "text", threshold=0.9
    )
    assert rep0["indexed_docs"] > 0
    acc = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs0.collect()}

    def fold(new_pairs, stale_ids):
        stale = {r["doc_id"] for r in stale_ids.collect()}
        for a, b in [k for k in acc if k[0] in stale or k[1] in stale]:
            del acc[(a, b)]
        for r in new_pairs.collect():
            acc[(r["id_a"], r["id_b"])] = r["jaccard"]

    # batch 1: inserts + updates (mutate some existing docs' text so their
    # signatures — and pair memberships — change) + deletes
    corpus.merge(
        docs.filter(F.col("doc_id") % 5 == 3)
        .unionByName(
            corpus.read()
            .filter(F.col("doc_id") % 17 == 1)
            .select("doc_id", F.concat_ws(" ", "text", F.lit("zqx mutated")).alias("text"))
        ),
        ["doc_id"],
    )
    corpus.delete("doc_id % 13 = 2")
    p1, s1, rep1 = mi.minhash_refresh(corpus, idx)
    assert rep1["upserts"] > 0 and rep1["deletes"] > 0
    fold(p1, s1)

    # batch 2: the remaining inserts
    corpus.merge(docs.filter(F.col("doc_id") % 5 == 4), ["doc_id"])
    p2, s2, rep2 = mi.minhash_refresh(corpus, idx)
    assert rep2["upserts"] > 0
    fold(p2, s2)

    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_dedup(
            corpus.read(), "doc_id", threshold=0.9, estimate_prefilter=False
        ).collect()
    }
    assert acc == want

    # the folded index rows equal a from-scratch signature compute over
    # the final corpus (the ivf_refresh-style state equality)
    t = VintageTable(spark, idx)
    fresh = dedup._toks_and_sigs(
        dedup.token_hashes(corpus.read(), "doc_id", "text"), "doc_id", 32
    )
    assert t.read().exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(t.read()).isEmpty()

    # idempotence: a refresh with no corpus changes is a no-op
    p3, s3, rep3 = mi.minhash_refresh(corpus, idx)
    assert p3.isEmpty() and s3.isEmpty()
    assert rep3["upserts"] == 0 and rep3["deletes"] == 0


def test_exact_then_minhash_edges_distinct_without_final_exchange(spark):
    """Round-13 optimization: the pipeline's edge union dropped its
    .distinct() on a disjointness proof — the minhash leg is distinct by
    construction and both sides are representatives, while every exact
    edge's id_b is a NON-representative (its fp-group's min is smaller).
    Pin the proof: on a corpus mixing exact-dup groups with near-dup
    variants, the emitted edge list carries no duplicate rows and no
    exact/minhash overlap."""
    base = " ".join(WORDS * 16)
    rows = []
    for g in range(5):  # five exact-dup groups of 4 copies each
        txt = f"group{g} " + base
        rows += [(g * 10 + j, txt) for j in range(4)]
    # near-dup variants of group 0's text (distinct fingerprints)
    rows += [(100 + j, f"variant{j} group0 " + base) for j in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    edges = dedup.exact_then_minhash_pairs(docs, "doc_id", threshold=0.5)
    got = [(r["id_a"], r["id_b"]) for r in edges.collect()]
    assert len(got) == len(set(got)), "duplicate edges reached the union"
    # exact edges' targets are never representatives: each id_b > its rep
    reps = {g * 10 for g in range(5)} | {100, 101, 102}
    exact_targets = {b for a, b in got if b not in reps}
    assert exact_targets == {g * 10 + j for g in range(5) for j in (1, 2, 3)}


def test_dedup_clusters_driver_finish_matches_distributed(spark, monkeypatch):
    """Round-13 optimization: once the contracted remnant fits under
    _CC_DRIVER_EDGES, components finish on the driver via union-find. The
    fixpoint (per-component min label) is unique, so the driver finish and
    the distributed rounds must label IDENTICALLY; the gate only picks the
    plan. Graph mixes a long chain (contraction-adversarial), a clique,
    and random components."""
    import random

    rnd = random.Random(7)
    edges = [(i, i + 1) for i in range(60)]  # long chain
    edges += [
        (100 + a, 100 + b) for a in range(10) for b in range(a + 1, 10)
    ]  # clique
    edges += [
        tuple(sorted(rnd.sample(range(200, 280), 2))) for _ in range(90)
    ]  # random blobs
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")

    via_driver = {
        r["doc_id"]: r["cluster"]
        for r in dedup.dedup_clusters(pairs, ids, "doc_id").collect()
    }
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 0)  # force distributed
    via_spark = {
        r["doc_id"]: r["cluster"]
        for r in dedup.dedup_clusters(pairs, ids, "doc_id").collect()
    }
    assert via_driver == via_spark


def test_minhash_refresh_to_version_pins_fold(spark, tmp_path):
    """Round-13 optimization: ``to_version`` bounds the folded CDC range so
    a caller can overlap the NEXT batch's ingest with the current refresh
    (guide §2.6) — with the corpus head already at v2, to_version=1 must
    fold batch 1 only; the following unpinned refresh folds batch 2; the
    union of all pairs still equals the from-scratch set."""
    from sdlt_spark.operators import minhash_index as mi
    from sdlt_spark.store import VintageTable

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    corpus = VintageTable(spark, str(tmp_path / "corpus"), change_feed=True)
    v0 = corpus.write(docs.filter(F.col("doc_id") % 5 < 3))
    idx = str(tmp_path / "index")
    pairs0, _ = mi.minhash_index_build(
        corpus, idx, "doc_id", "text", threshold=0.9, version=v0
    )
    # both batches are ALREADY committed when the pinned refresh runs —
    # the overlap's worst-case interleaving, made deterministic here
    v1 = corpus.merge(docs.filter(F.col("doc_id") % 5 == 3), ["doc_id"])
    corpus.merge(docs.filter(F.col("doc_id") % 5 == 4), ["doc_id"])
    p1, _s1, r1 = mi.minhash_refresh(corpus, idx, to_version=v1)
    assert (r1["from_version"], r1["to_version"]) == (1, 1)
    p2, _s2, r2 = mi.minhash_refresh(corpus, idx)
    assert (r2["from_version"], r2["to_version"]) == (2, 2)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in pairs0.unionByName(p1).unionByName(p2).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_dedup(
            corpus.read(), "doc_id", threshold=0.9, estimate_prefilter=False
        ).collect()
    }
    assert got == want


def test_simhash_kernel_survives_arrow_batch_splits(spark):
    """Round-13 optimization: simhash's collect_list regroup became the
    _toks_and_sigs-style streaming kernel. Arrow batches do not align to
    document boundaries, so the kernel carries the trailing id's rows into
    the next batch — force 7-row batches so many documents straddle a
    boundary and pin bit-equality against the default-batching run."""
    base = " ".join(WORDS * 4)  # 48 tokens per doc >> 7-row batches
    docs = spark.createDataFrame(
        [(i, f"doc{i} " + base) for i in range(40)], "doc_id long, text string"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    want = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id").collect()}
    try:
        spark.conf.set(key, "7")
        got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id").collect()}
    finally:
        spark.conf.set(key, old)
    assert got == want and len(got) == 40


def test_dedup_clusters_trusted_edges_matches_guarded(spark):
    """Round-13 optimization: trusted_edges=True skips the input guards
    (endpoint semi-joins + symmetrized-union distinct) when the caller
    proves its pair list clean — the label map must be identical to the
    guarded path on the same (clean) input."""
    base = " ".join(WORDS * 16)
    rows = [(i, "group " + base) for i in range(6)]
    rows += [(10 + j, f"v{j} group " + base) for j in range(3)]
    rows += [(20, "unrelated alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.exact_then_minhash_pairs(docs, "doc_id", threshold=0.5)
    ids = docs.select("doc_id")
    guarded = {
        r["doc_id"]: r["cluster"]
        for r in dedup.dedup_clusters(pairs, ids, "doc_id").collect()
    }
    trusted = {
        r["doc_id"]: r["cluster"]
        for r in dedup.dedup_clusters(
            pairs, ids, "doc_id", trusted_edges=True
        ).collect()
    }
    assert trusted == guarded and len(trusted) == 10


def test_minhash_lifecycle_deferred_equals_eager(spark, tmp_path):
    """Round-14 optimization (r13 verdict item 3): defer=True returns at
    the index-commit point with the pairs verification on a background
    Future, so lifecycle steps overlap. The emitted pairs, stale ids,
    reports, and final index state must be identical to the eager path."""
    from sdlt_spark.operators import minhash_index as mi
    from sdlt_spark.store import VintageTable

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )

    def lifecycle(root, defer):
        corpus = VintageTable(spark, str(root / "corpus"), change_feed=True)
        corpus.write(docs.filter(F.col("doc_id") % 5 < 3))
        idx = str(root / "index")
        p0, rep0 = mi.minhash_index_build(
            corpus, idx, "doc_id", "text", threshold=0.9, defer=defer
        )
        corpus.merge(docs.filter(F.col("doc_id") % 5 == 3), ["doc_id"])
        corpus.delete("doc_id % 13 = 2")
        p1, s1, rep1 = mi.minhash_refresh(corpus, idx, defer=defer)
        corpus.merge(docs.filter(F.col("doc_id") % 5 == 4), ["doc_id"])
        p2, s2, rep2 = mi.minhash_refresh(corpus, idx, defer=defer)
        if defer:
            p0, p1, p2 = p0.result(), p1.result(), p2.result()
        pairs = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for p in (p0, p1, p2)
            for r in p.collect()
        )
        stale = sorted(r["doc_id"] for s in (s1, s2) for r in s.collect())
        reports = [
            {k: rep[k] for k in ("upserts", "deletes")} for rep in (rep1, rep2)
        ]
        index_rows = sorted(map(tuple, VintageTable(spark, idx).read().collect()))
        return pairs, stale, reports, index_rows

    eager = lifecycle(tmp_path / "eager", defer=False)
    deferred = lifecycle(tmp_path / "deferred", defer=True)
    assert deferred == eager
    assert len(eager[0]) > 0 and eager[2][0]["deletes"] > 0


def test_minhash_refresh_deferred_noop_returns_future(spark, tmp_path):
    """defer=True keeps its Future contract even on the no-change fast
    path (head <= watermark): pairs arrives as an already-resolved
    Future of the empty frame."""
    from concurrent.futures import Future

    from sdlt_spark.operators import minhash_index as mi
    from sdlt_spark.store import VintageTable

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    corpus = VintageTable(spark, str(tmp_path / "corpus"), change_feed=True)
    corpus.write(docs.filter(F.col("doc_id") < 200))
    idx = str(tmp_path / "index")
    f0, _ = mi.minhash_index_build(
        corpus, idx, "doc_id", "text", threshold=0.9, defer=True
    )
    f0.result()
    fp, s, rep = mi.minhash_refresh(corpus, idx, defer=True)
    assert isinstance(fp, Future)
    assert fp.result().isEmpty() and s.isEmpty()
    assert rep["upserts"] == 0 and rep["deletes"] == 0


def test_hamming_minchunk_emission_matches_dedup(spark):
    """Round-14 optimization (r13 verdict item 4): the uncapped hamming
    sweep keeps only the pair's FIRST agreeing chunk instead of paying a
    dropDuplicates exchange. Pin bit-equality of the edge set against the
    dedup-exchange form on both engine branches: r = 0 (exact-equality
    banding) and r > 0 (asymmetric ball probe)."""
    base = " ".join(WORDS * 16)
    rows = [(i, f"g{i % 7} " + base) for i in range(40)]
    rows += [(100 + j, f"g0 v{j} " + base) for j in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def edges(mh, nc):
        return sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.simhash_neardup(
                docs, "doc_id", max_hamming=mh, num_chunks=nc
            ).collect()
        )

    old = dedup._HAMMING_MINCHUNK
    try:
        for mh, nc in ((3, 4), (10, 4)):  # r = 0 and r = 2
            dedup._HAMMING_MINCHUNK = True
            minimal = edges(mh, nc)
            dedup._HAMMING_MINCHUNK = False
            classic = edges(mh, nc)
            assert minimal == classic and len(minimal) > 0
    finally:
        dedup._HAMMING_MINCHUNK = old


def test_driver_finish_gate_checks_both_edge_columns(spark, monkeypatch):
    """The driver union-find needs Python's ``<`` to agree with Spark's
    ordering on BOTH endpoint columns: a float column on either side keeps
    the distributed rounds, which still label every component by its min."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    def schema(a, b):
        return StructType([StructField("u", a), StructField("v", b)])

    assert dedup._driver_orderable(schema(LongType(), LongType()))
    assert not dedup._driver_orderable(schema(LongType(), DoubleType()))
    assert not dedup._driver_orderable(schema(DoubleType(), LongType()))

    def _refuse(_e2):
        raise AssertionError("driver finish taken for a float edge column")

    monkeypatch.setattr(dedup, "_driver_components", _refuse)
    pairs = spark.createDataFrame(
        [(1, 2.0), (2, 3.0), (10, 11.0)], "id_a long, id_b double"
    )
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {
        r["doc_id"]: int(r["cluster"])
        for r in dedup.dedup_clusters(pairs, ids, "doc_id").collect()
    }
    want = {i: i for i in range(12)}
    want.update({2: 1, 3: 1, 11: 10})
    assert got == want
