"""Deduplication operators (SURVEY.md §2.11 X1/X2 + north-star extensions):
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes
------------------
- Exact dedup shuffles a fixed-width md5 fingerprint, not document bodies.
- MinHash signatures are computed with k independent xxhash64 functions as
  ONE hash-aggregate over the exploded token table (map-side partial agg);
  LSH banding turns the O(n^2) pair problem into an equi self-join on
  (band, band_hash) — the only pairs materialized are bucket collisions.
- SimHash is pure JVM bit arithmetic (explode -> xor/shift/sum -> assemble);
  candidate pairs come from matching any of four 16-bit chunks (pigeonhole:
  hamming distance <= 3 guarantees one chunk equal).
- All joins are equi joins Catalyst can shuffle-hash/broadcast; no
  cross joins anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sdlt_spark.operators.text import fingerprint

# ------------------------------------------------------------- scan sizing


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _scan_underparallel(df: DataFrame) -> bool:
    """Metadata-only estimate of whether the scan feeding ``df`` will yield
    fewer partitions than half the cluster's cores (so a downstream
    self-join would serialize). Spark packs input files into splits of
    ``maxPartitionBytes``, so partitions are bounded by BOTH the file count
    and total-bytes/split-size: a directory of many tiny files coalesces
    into few partitions (a file-count-only probe would miss that), while a
    physical-plan probe (.rdd.getNumPartitions) would force planning + an
    RDD conversion per call. Non-file inputs report zero files and count as
    under-parallel — the safe default for local relations."""
    spark = df.sparkSession
    target = max(2, spark.sparkContext.defaultParallelism // 2)
    files = df.inputFiles()
    if len(files) < target:
        return True
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")).lower()
    if raw and raw[-1] == "b":
        raw = raw[:-1]
    split = int(raw[:-1]) * _SIZE_SUFFIX[raw[-1]] if raw[-1:] in _SIZE_SUFFIX else int(raw)
    try:
        total = sum(
            os.path.getsize(f[len("file:") :] if f.startswith("file:") else f)
            for f in files
        )
    except OSError:
        return False  # can't stat (remote store): trust the file count
    return min(len(files), total // split + 1) < target


def _materialize_and_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Evaluate ``result`` once (eager localCheckpoint) while ``cached``
    intermediates are hot, then unpersist them all. Long-lived sessions
    call the dedup operators repeatedly; persisted intermediates left
    behind would accumulate in the block manager forever — and they are
    the O(corpus) frames (token tables, gram tables, signatures), the
    leak class dsir_weights' no-persist discipline documents. The
    checkpoint backs the returned frame, so releasing the caches never
    re-runs lineage. The checkpoint's own blocks are O(result) — pairs,
    not corpus — and are reclaimed by Spark's ContextCleaner once the
    caller drops the frame: storage is bounded by LIVE results, never by
    call count."""
    try:
        return result.localCheckpoint(eager=True)
    finally:
        for c in cached:
            c.unpersist()


# --------------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per distinct text; adds ``n_dups``.
    Groups on the md5 fingerprint so the shuffle key is 16 bytes regardless
    of document size.

    NULL text is a MISSING document, not a duplicate of every other null:
    md5(NULL) is NULL and groupBy treats NULLs as equal, so without the
    filter a thousand failed-extraction rows would collapse into one
    group and 999 distinct rows would be reported (and deleted) as exact
    duplicates."""
    fp = fingerprint(df.filter(F.col(text_col).isNotNull()), text_col)
    return fp.groupBy("fp").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    )


# ------------------------------------------------------------------- tokens


def doc_tokens(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Distinct (id, token) pairs — the set representation used by MinHash
    and Jaccard verification."""
    return (
        df.select(id_col, F.explode(F.array_distinct(F.split(text_col, " "))).alias("token"))
    )


def doc_ngrams(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct (id, word-n-gram) pairs (shingles). Documents shorter than
    n tokens produce no shingles (guarded: sequence(0, size-n) would count
    DOWN for short docs and slice(-1) throws)."""
    grams = F.expr(
        f"CASE WHEN size(split({text_col}, ' ')) >= {n} THEN "
        f"transform(sequence(0, size(split({text_col}, ' ')) - {n}), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i + 1, {n}))) "
        f"ELSE array() END"
    )
    return df.select(
        id_col, F.explode(F.array_distinct(grams)).alias("ngram")
    )


# ------------------------------------------------------------------ minhash
#
# Engine-portable hashing: every hash in the MinHash/LSH path is derived
# from md5 (available and byte-identical in Spark, DuckDB, Postgres, ...)
# followed by pure 64-bit-safe integer arithmetic mod the Mersenne prime
# 2^31 - 1. Working in a 31-bit space keeps every intermediate product
# (coeff * hash < 2^62) inside BIGINT in BOTH engines — no 128-bit types,
# no overflow divergence — which is what lets the DuckDB oracle recompute
# signatures, band buckets, candidate pairs, and jaccard values EXACTLY
# (see minhash_oracle_sql). The permutation family h_i = (a_i*h + b_i) mod p
# is the classical universal-hash construction; coefficients come from a
# fixed LCG so both engines embed identical literals.

MINHASH_PRIME = 2147483647  # 2^31 - 1
_BAND_K = 1000003  # polynomial-combine base for band bucket hashes

# Minimal-agreeing-CHUNK emission toggle for _hamming_pairs_grouped's
# uncapped path (round-14 adjudication knob). Identical pair sets either
# way; this only picks which plan computes them, so an isolation A/B can
# alternate the two forms without touching code.
_HAMMING_MINCHUNK = os.environ.get("SDLT_HAMMING_MINCHUNK", "1") != "0"


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) permutation coefficients, identical on every
    call — embedded as literals in both the Spark plan and the oracle SQL."""
    a, b, out = 1, 0, []
    for _ in range(k):
        a = (a * 1103515245 + 12345) % MINHASH_PRIME
        b = (b * 1103515245 + 54321) % MINHASH_PRIME
        out.append((a or 1, b))
    return out


def portable_hash31(col):
    """String -> [0, 2^31-1): first 8 md5 hex chars parsed as an integer.
    Spark spelling: conv(substr(md5(x),1,8),16,10); DuckDB spelling:
    CAST('0x' || substr(md5(x),1,8) AS BIGINT). Both yield the same value
    for the same UTF-8 bytes."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % MINHASH_PRIME


def token_hashes(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, __h) rows: each document's distinct tokens hashed to the
    portable 31-bit space. The md5 runs ONCE here, in a codegen'd projection
    over the exploded token table (an ``F.transform`` lambda would evaluate
    it interpreted per element), and both the signature aggregate and the
    exact-jaccard token sets derive from this single table."""
    return doc_tokens(df, id_col, text_col).select(
        id_col, portable_hash31(F.col("token")).alias("__h")
    )


def _signatures_from_hashes(
    th: DataFrame, id_col: str, num_hashes: int = 32
) -> DataFrame:
    """k-permutation MinHash signature from the (id, __h) token-hash table:
    h_i = min over tokens of (a_i*h + b_i) mod p. One shuffle (groupBy id)
    with map-side partial aggregation; signature width is k longs."""
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_PRIME).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return th.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", num_hashes: int = 32
) -> DataFrame:
    """k-permutation MinHash signature per document (see
    :func:`_signatures_from_hashes`; ONE md5 per token row feeds all k
    permutations via arithmetic — cheaper than k independent string hashes,
    and — unlike xxhash64 — reproducible in the DuckDB oracle)."""
    return _signatures_from_hashes(token_hashes(df, id_col, text_col), id_col, num_hashes)


def _toks_and_sigs(th: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, __h) rows -> one row per id: ``__toks`` (the DISTINCT hash set
    as array<long>) plus, when ``num_hashes > 0``, the k MinHash mins as
    ``h0..h{k-1}`` — the streaming replacement for
    ``groupBy(id).agg(collect_set(...))`` + the signature UDF.

    Why not collect_set: Spark plans it as ObjectHashAggregate, whose
    per-group array buffers do not fit the hash-agg memory model — at the
    sf100 decade (5M docs, 116M distinct (id, hash) rows) the aggregate
    alone measured **541 s and ~45x superlinear** across sf10 -> sf100
    (12 s -> 541 s for 10x rows), with or without the sort-based
    fallback. This shape instead pays ONE shuffle of compact 16-byte
    rows (repartition by id + in-partition sort by (id, hash)) and
    streams each sorted partition through an Arrow kernel that builds
    group arrays with numpy boundary splits and folds all k permutations
    as ``minimum.reduceat`` — linear, spill-friendly (the sort spills
    16-byte rows, never object trees), and identical output: consecutive
    duplicate (id, hash) rows are masked out, so 31-bit token-hash
    collisions shrink the set exactly as collect_set did (the oracle's
    COUNT DISTINCT shrinks identically — jaccard stays bit-equal).

    Arrow batches do not align to group boundaries, so the kernel carries
    the trailing (possibly incomplete) id's rows into the next batch and
    flushes the remainder at end of partition."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    coeffs = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    out_schema = T.StructType(
        [
            th.schema[id_col],
            T.StructField("__toks", T.ArrayType(T.LongType())),
            *[T.StructField(f"h{i}", T.LongType()) for i in range(num_hashes)],
        ]
    )
    # no explicit partition count: shuffle.partitions (cluster-sized) keys
    # the regroup; the in-partition sort spills compact 16-byte rows when a
    # partition outgrows task memory, so the kernel stays linear even when
    # partitions carry 10x the rows (measured: sf100 at 32 partitions =
    # 78 MB/partition sorts, 240 s total and ~linear/decade — raising the
    # exchange to 512 initial partitions measured SLOWER at every scale,
    # see session.py round-12 note)
    sorted_rows = th.repartition(F.col(id_col)).sortWithinPartitions(id_col, "__h")

    def _fuse(batches):
        def build(ids, hs):
            keep = np.ones(len(ids), dtype=bool)
            keep[1:] = (ids[1:] != ids[:-1]) | (hs[1:] != hs[:-1])
            ids, hs = ids[keep], hs[keep]
            bnd = np.flatnonzero(ids[1:] != ids[:-1]) + 1
            starts = np.concatenate(([0], bnd))
            data = {id_col: ids[starts], "__toks": np.split(hs, bnd)}
            for i in range(num_hashes):
                vals = (A[i] * hs + B[i]) % MINHASH_PRIME
                data[f"h{i}"] = np.minimum.reduceat(vals, starts)
            return pd.DataFrame(data)

        hold_ids = hold_hs = None
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            hs = pdf["__h"].to_numpy()
            if hold_ids is not None:
                ids = np.concatenate((hold_ids, ids))
                hs = np.concatenate((hold_hs, hs))
            if not len(ids):
                continue
            # rows of the last id may continue in the next Arrow batch
            earlier = np.flatnonzero(ids != ids[-1])
            cut = (earlier[-1] + 1) if len(earlier) else 0
            if cut:
                yield build(ids[:cut], hs[:cut])
            hold_ids, hold_hs = ids[cut:], hs[cut:]
        if hold_ids is not None and len(hold_ids):
            yield build(hold_ids, hold_hs)

    return sorted_rows.mapInPandas(_fuse, out_schema)


def check_lsh_pair_budget(
    banded: DataFrame, bands: int, rows_per_band: int, max_pairs: int
) -> None:
    """The LSH banding family's ``max_pairs`` circuit breaker, factored so
    :func:`lsh_candidate_pairs` and the incremental index's batch probe
    (``minhash_index.minhash_refresh``) share ONE estimator that can never
    drift. ``banded`` is the (id, band, bh) frame the candidate join would
    run over (post hot-bucket cap); a bucket of n docs emits exactly
    n·(n-1)/2 ordered-filtered rows, so the sum over buckets is EXACT for
    the join's output rows and upper-bounds DISTINCT pairs — the right
    failure direction for a guard. One aggregate over bucket statistics;
    the join itself never starts."""
    est = (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.sum(F.col("__n") * (F.col("__n") - F.lit(1)) / 2).alias("est"))
        .head()["est"]
    )
    if est is not None and est > max_pairs:
        raise PairBudgetExceeded(
            f"LSH banding at bands={bands}, rows_per_band={rows_per_band} "
            f"would produce ~{int(est):,} candidate pairs, over the "
            f"max_pairs budget of {max_pairs:,}. The threshold is "
            "output-bound on this corpus: raise the threshold (fewer, "
            "wider bands), cap hot buckets with max_bucket_size, "
            "exact-dedup mass duplicates first (exact_then_minhash_pairs), "
            "or raise the budget if the volume is intended."
        )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    max_pairs: int | None = None,
) -> DataFrame:
    """Band the signature (b bands x r rows) and self-join on band hash.
    Docs agreeing on ANY band become a candidate pair. P(candidate) =
    1 - (1 - j^r)^b for true Jaccard j — the standard S-curve.

    One posexplode pass emits (id, band, band_hash) — no b-way union, no
    re-computation of the signature lineage per band. Band bucket ids are a
    polynomial combine mod 2^31-1 of the band's signature components
    (engine-portable; see the module note above minhash_coeffs).

    ``max_bucket_size`` caps the skew of the self-join: a bucket holding d
    documents emits d·(d-1)/2 pairs, and IDENTICAL documents agree on
    *every* band — one million-copy boilerplate page (routine in web
    crawls) makes one bucket quadratic AND a hot shuffle key. With the
    cap, (band, bh) buckets larger than it are dropped from candidate
    generation entirely — the same inverted-index df-cut
    ``ngram_jaccard_pairs`` applies to hot shingles. Recall is lost only
    for pairs whose EVERY agreeing band is a mega-bucket — i.e. exact or
    near-exact mass duplicates, which ``dedup_exact`` upstream is the
    designated (linear) tool for: compose exact-dedup first, then cap.
    The hot-bucket list is O(distinct mega-buckets) — tiny — so Catalyst
    broadcasts the anti-join.

    ``max_pairs`` (off by default) is the output-volume circuit breaker —
    the LSH twin of the hamming family's guard (round-12 verdict item 2):
    BEFORE the self-join is submitted, candidate volume is computed from
    per-(band, bh) bucket counts (post-cap) as sum n·(n-1)/2 — EXACT for
    the join's output rows (each bucket of n docs emits exactly that many
    ordered-filtered rows; a pair colliding in several bands counts once
    per band, so the estimate upper-bounds DISTINCT pairs — the right
    failure direction for a guard). Past the budget the sweep raises
    :class:`PairBudgetExceeded` from this seconds-cheap bucket-statistics
    aggregate instead of spending hours shuffling tens of millions of
    candidates: a mis-tuned low threshold (many narrow bands) on a
    correlated corpus is intrinsically output-bound, and no candidate
    scheme can beat its own output volume."""

    def _bh(b: int):
        acc = F.col(f"h{b * rows_per_band}")
        for r in range(1, rows_per_band):
            acc = (acc * _BAND_K + F.col(f"h{b * rows_per_band + r}")) % MINHASH_PRIME
        return acc

    band_hashes = F.array(*[_bh(b) for b in range(bands)])
    if max_bucket_size is None:
        # Minimal-agreeing-band emission (round 13): a pair colliding in
        # several bands used to emit one join row per band and pay a full
        # O(collisions) distinct exchange to dedup (near-identical docs
        # agree on EVERY band, so the exchange carried ~bands x the pair
        # volume — 2.6 s of the sf0.1 fold at ~3.7M rows). Carrying each
        # band hash as its own column lets a flat codegen'd predicate keep
        # ONLY the row whose band is the pair's FIRST agreeing band —
        # unique per pair, so the join output IS the distinct pair set and
        # the exchange disappears. Identical pairs by construction. Only
        # valid when no hot-bucket cap drops band rows: a capped run must
        # emit from a SURVIVING band, and the earlier-band hashes can't
        # see the cap — that path keeps the distinct.
        banded = sig.select(
            F.col(id_col),
            F.posexplode(band_hashes).alias("band", "bh"),
            *[_bh(b).alias(f"__bh{b}") for b in range(bands - 1)],
        )
        if max_pairs is not None:
            check_lsh_pair_budget(banded, bands, rows_per_band, max_pairs)
        a, b = banded.alias("a"), banded.alias("b")
        first_band = F.lit(True)
        for e in range(bands - 1):
            first_band = first_band & (
                (F.col("a.band") <= F.lit(e))
                | (F.col(f"a.__bh{e}") != F.col(f"b.__bh{e}"))
            )
        return a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).filter(first_band).select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )

    banded = sig.select(F.col(id_col), F.posexplode(band_hashes).alias("band", "bh"))
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "bh")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bh"], "left_anti")
    if max_pairs is not None:
        # eager, by design: the guard aborts BEFORE the self-join is
        # submitted (see PairBudgetExceeded / the docstring); callers
        # persist the signature frame first so this aggregate reads cache
        check_lsh_pair_budget(banded, bands, rows_per_band, max_pairs)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, tok: DataFrame, id_col: str, item_col: str = "token"
) -> DataFrame:
    """Exact Jaccard for candidate pairs from the (id, item) set table:
    |A ∩ B| via an equi join on the item, |A ∪ B| = |A| + |B| - |A ∩ B|."""
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    ta = tok.select(F.col(id_col).alias("id_a"), F.col(item_col).alias("__item"))
    tb = tok.select(F.col(id_col).alias("id_b"), F.col(item_col).alias("__item"))
    inter = (
        pairs.join(ta, "id_a")
        .join(tb, on=["id_b", "__item"])  # equi join on (doc, item): |A ∩ B|
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ).alias("jaccard"),
        )
    )


def tune_bands(num_hashes: int, threshold: float) -> int:
    """Smallest band count b dividing num_hashes whose S-curve knee
    (1/b)^(1/r) sits at or below the threshold — high thresholds get few
    wide bands (selective buckets), low ones many narrow bands."""
    for b in range(1, num_hashes + 1):
        if num_hashes % b == 0 and (1.0 / b) ** (b / num_hashes) <= threshold:
            return b
    return num_hashes


def estimate_min_eq(num_hashes: int, threshold: float) -> int:
    """Signature-estimate prefilter cut: keep a candidate when >= this many
    of the k signature components agree (threshold minus two binomial
    sigmas, so the estimator can't drop a pair the exact check would
    keep)."""
    import math

    margin = 2.0 * math.sqrt(threshold * (1 - threshold) / num_hashes)
    return math.ceil((threshold - margin) * num_hashes)


def minhash_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int | None = None,
    estimate_prefilter: bool = True,
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB SQL that recomputes minhash_dedup EXACTLY — same md5-derived
    31-bit hashes, same permutation coefficients, same band buckets, same
    estimate prefilter (when enabled), same hot-bucket cap (when set),
    same distinct-hash jaccard.
    Generated from the same Python constants the Spark plan embeds, so the
    two can't drift. ``estimate_prefilter`` and ``max_bucket_size`` must
    match the Spark call — both change the answer (the estimator can drop
    borderline true pairs; the cap drops mega-bucket candidates)."""
    p = MINHASH_PRIME
    if bands is None:
        bands = tune_bands(num_hashes, threshold)
    r = num_hashes // bands
    min_eq = estimate_min_eq(num_hashes, threshold)
    coeffs = minhash_coeffs(num_hashes)
    sig_cols = ",\n    ".join(
        f"min(({a} * h + {b}) % {p}) AS h{i}" for i, (a, b) in enumerate(coeffs)
    )

    def _bh(b: int) -> str:
        acc = f"h{b * r}"
        for j in range(1, r):
            acc = f"(({acc}) * {_BAND_K} + h{b * r + j}) % {p}"
        return acc

    band_rows = "\n    UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, {_bh(b)} AS bh FROM sig" for b in range(bands)
    )
    n_eq = " + ".join(f"CAST(sa.h{i} = sb.h{i} AS INT)" for i in range(num_hashes))
    est_cte = (
        f""",
    est AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sig sa ON sa.{id_col} = c.id_a
      JOIN sig sb ON sb.{id_col} = c.id_b
      WHERE {n_eq} >= {min_eq}
    )"""
        if estimate_prefilter
        else ""
    )
    verified_src = "est" if estimate_prefilter else "cand"
    bucket_cap_join = (
        ""
        if max_bucket_size is None
        else (
            "JOIN (SELECT band, bh FROM band_all GROUP BY band, bh\n"
            f"            HAVING count(*) <= {max_bucket_size}) __keep\n"
            "        USING (band, bh)"
        )
    )
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT DISTINCT {id_col}, u.token
      FROM {table}, LATERAL unnest(string_split({text_col}, ' ')) AS u(token)
    ),
    th AS MATERIALIZED (
      SELECT {id_col}, token,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % {p} AS h
      FROM tok
    ),
    sig AS MATERIALIZED (
      SELECT {id_col},
    {sig_cols}
      FROM th GROUP BY {id_col}
    ),
    band_all AS MATERIALIZED (
    {band_rows}
    ),
    band AS (
      SELECT band_all.* FROM band_all
      {bucket_cap_join}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
      FROM band a JOIN band b
        ON a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}
    ){est_cte},
    hs AS MATERIALIZED (SELECT DISTINCT {id_col}, h FROM th),
    sz AS (SELECT {id_col}, count(*) AS sz FROM hs GROUP BY {id_col}),
    scored AS (
      SELECT e.id_a, e.id_b,
             round(CAST(count(*) AS DOUBLE)
                   / (any_value(za.sz) + any_value(zb.sz) - count(*)), 4) AS jaccard
      FROM {verified_src} e
      JOIN hs a ON a.{id_col} = e.id_a
      JOIN hs b ON b.{id_col} = e.id_b AND b.h = a.h
      JOIN sz za ON za.{id_col} = e.id_a
      JOIN sz zb ON zb.{id_col} = e.id_b
      GROUP BY e.id_a, e.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}
    """


def cluster_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    estimate_prefilter: bool = True,
    exact_first: bool = False,
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB SQL reproducing minhash_dedup -> dedup_clusters exactly:
    the portable minhash pair SQL feeds a recursive-CTE transitive closure
    whose min-reachable-label per node IS the min-id connected-component
    label the Spark fixpoint converges to. Closure size is bounded by
    sum(cluster_size^2) — fine at oracle scale; the Spark side stays the
    join-based label propagation that scales.

    ``exact_first`` mirrors the pipeline composition that exact-dedups
    (md5 of lower/trimmed text, min-id representative) BEFORE minhash:
    minhash runs over representatives only and each dropped duplicate
    contributes a (rep, dup) edge instead of flowing through banding —
    identical mass-duplicates can no longer make an LSH bucket quadratic.
    ``max_bucket_size`` additionally caps surviving hot buckets; both
    knobs must match the Spark call."""
    if not exact_first:
        inner = minhash_oracle_sql(
            table, id_col, text_col, threshold, num_hashes,
            estimate_prefilter=estimate_prefilter,
            max_bucket_size=max_bucket_size,
        )
        pair_ctes = f"pairs AS MATERIALIZED ({inner})"
    else:
        inner = minhash_oracle_sql(
            "reps_docs", id_col, text_col, threshold, num_hashes,
            estimate_prefilter=estimate_prefilter,
            max_bucket_size=max_bucket_size,
        )
        pair_ctes = f"""xfp AS MATERIALIZED (
      SELECT {id_col}, md5(lower(trim({text_col}))) AS fp
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    xrep AS MATERIALIZED (SELECT fp, min({id_col}) AS rep_id FROM xfp GROUP BY fp),
    xcanon AS (SELECT f.{id_col}, r.rep_id FROM xfp f JOIN xrep r USING (fp)),
    reps_docs AS MATERIALIZED (
      SELECT d.* FROM {table} d JOIN xrep r ON r.rep_id = d.{id_col}
    ),
    mh_pairs AS MATERIALIZED ({inner}),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM mh_pairs
      UNION
      SELECT rep_id AS id_a, {id_col} AS id_b FROM xcanon
      WHERE {id_col} <> rep_id
    )"""
    return f"""
    WITH RECURSIVE {pair_ctes},
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      SELECT id, id AS lbl FROM nodes
      UNION
      -- lbl < dst pruning: the final label is the component MIN, which
      -- always propagates under this guard (from its own seed the min
      -- label m satisfies m < y for every other member y), while rows
      -- carrying non-minimal labels past smaller ids — the bulk of the
      -- closure on big clusters — are cut. Sound: comp takes min(lbl)
      -- and every node keeps its (id, id) seed.
      SELECT e.dst AS id, r.lbl
      FROM reach r JOIN edges e ON e.src = r.id AND r.lbl < e.dst
    ),
    comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
    SELECT d.{id_col} AS {id_col},
           coalesce(c.cluster, d.{id_col}) AS cluster,
           d.{id_col} = coalesce(c.cluster, d.{id_col}) AS is_canonical
    FROM {table} d LEFT JOIN comp c ON c.id = d.{id_col}
    """


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int | None = None,
    estimate_prefilter: bool = True,
    max_bucket_size: int | None = None,
    materialize: bool = True,
    max_pairs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs: MinHash -> LSH banding -> signature-estimate
    prefilter -> exact-Jaccard verify on token arrays.
    ``max_bucket_size`` caps hot LSH buckets (mass-duplicate boilerplate
    pages) at candidate generation — see :func:`lsh_candidate_pairs`; run
    :func:`dedup_exact` first so byte-identical copies never reach the
    banding join at all. The oracle takes the same knob.
    ``max_pairs`` (off by default) aborts with :class:`PairBudgetExceeded`
    from a pre-join bucket-statistics estimate when the banding's candidate
    volume exceeds the budget — the LSH twin of the hamming family's
    circuit breaker; see :func:`lsh_candidate_pairs`. At 100 TB, set it to
    the edge volume downstream clustering can actually consume.
    ``materialize`` (default): evaluate eagerly and RELEASE the persisted
    intermediates before returning (no block-manager growth across calls);
    pass False to get the lazy plan back — the intermediates stay cached
    and the CALLER owns ``spark.catalog.clearCache()`` (plan tests and
    callers that compose further before acting use this).
    Returns (id_a, id_b, jaccard) with jaccard >= threshold.

    ``bands`` defaults to the standard S-curve tuning: pick b so the collision
    knee (1/b)^(r/num_hashes... precisely t ~ (1/b)^(1/r)) sits at the
    threshold — a high threshold gets few wide bands (selective buckets), a
    low one many narrow bands. This is what keeps candidate volume sane when
    the corpus is globally similar: at t=0.9, r=8 buckets collide with
    probability j^8 (3% at j=0.65) instead of j^4 (18%).

    Verification is fused into ONE pass over the candidate list: a cheap
    signature-component estimate (>= threshold - 2 sigma, so the binomial
    estimator can't drop a pair the exact check would keep) short-circuits
    the exact Jaccard, computed by array_intersect over per-doc DISTINCT
    arrays of portable_hash31(token). Hashing tokens to longs makes the
    intersect a native long comparison instead of string hashing (~2x at
    sf0.1). The whole path — signatures, band buckets, estimate, jaccard —
    uses only md5 + BIGINT arithmetic, so the DuckDB oracle
    (minhash_oracle_sql) reproduces the output EXACTLY, including the rare
    31-bit token-hash collisions (both engines hash, then distinct).

    Scale notes (this shape is deliberate — an earlier variant that carried
    the 32-long signature array through BOTH sides of the banding self-join
    multiplied shuffle bytes by ~bands x signature-width and recomputed the
    signature lineage per join side; it benched 11x slower at sf0.1):

    - Under-parallel scans (one small file = one task) are repartitioned
      before the token explode so signature compute uses every core.
    - Token md5 runs ONCE: the (id, __h) table is persisted and BOTH the
      signature aggregate and the exact-jaccard token sets derive from it.
      A previous form recomputed the hash per consumer, and computed the
      token-set copy inside an ``F.transform`` lambda — higher-order
      functions evaluate their lambda INTERPRETED per element, so the md5
      ran outside codegen for the whole corpus.
    - Intermediates are **persisted AND materialized** (MEMORY_AND_DISK,
      spillable — persisting is NOT broadcasting; all are O(docs) or
      O(candidates), far smaller than the corpus). The count() that fills
      each cache (a) stops consumers from re-running lineage per join side,
      and (b) gives Catalyst the *actual* cached size, so per-doc side
      joins become broadcast-hash joins exactly when the side truly fits
      under autoBroadcastJoinThreshold — no manual F.broadcast of O(corpus)
      state (the round-1 OOM hazard).
    - The banding self-join shuffles only compact ``(id, band, bh)`` rows
      (reuses :func:`lsh_candidate_pairs`).
    - The estimate filter runs as its OWN small stage whose survivors are
      persisted, and the exact-jaccard verify is a second small stage. An
      earlier form fused banding + both signature joins + the 32-equality
      estimate + both token-array joins + array_intersect into ONE
      whole-stage-codegen region; Janino compilation of that ~70-column
      generated class took minutes on a cold JVM (measured 120-170 s cold
      vs ~9 s warm at sf0.1 — the compiled-class cache made every rerun
      fast and hid the cost from in-session measurements). Two small
      stages compile in seconds and run just as fast warm.
    - The estimate is a codegen'd sum of 32 column equalities, not a
      zip_with/filter HOF pair — higher-order functions evaluate their
      lambda interpreted per element (~100M evals at sf0.1, measured ~2x
      slower than the flat comparison chain).

    ``estimate_prefilter`` (round-5 knob; changes the ANSWER, so the oracle
    takes the same flag): the estimator is a binomial approximation that can
    drop borderline true pairs (3226 of 908310 at sf0.1/t=0.9), and it only
    pays for itself when per-doc token sets are LARGE relative to the
    signature (it intersects 2 x num_hashes longs instead of two token
    arrays). On short-doc corpora (fixture: avg 23 distinct tokens < k=32)
    it is strictly wasteful — the no-prefilter path skips the two 33-column
    signature joins AND the k-wide min-aggregate entirely: the signature is
    derived from the (anyway-materialized) token arrays by a vectorized
    pandas UDF, so the whole pipeline is one shuffle (groupBy id) plus
    broadcast joins — the former candidate-distinct exchange is gone since
    minimal-band emission (see lsh_candidate_pairs) — and the cold-JVM wall
    time halves (measured 17.2 s -> 9.6 s at sf0.1; the retired k-wide
    HashAggregate and 64-column estimate join were the two slowest Janino
    compiles)."""
    out, caches = _minhash_pairs_lazy(
        df,
        id_col,
        text_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        estimate_prefilter=estimate_prefilter,
        max_bucket_size=max_bucket_size,
        max_pairs=max_pairs,
    )
    return _materialize_and_release(out, *caches) if materialize else out


def _minhash_pairs_lazy(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int | None = None,
    estimate_prefilter: bool = True,
    max_bucket_size: int | None = None,
    max_pairs: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """:func:`minhash_dedup`'s body, returning ``(lazy_out, caches)`` so a
    composing caller (``exact_then_minhash_pairs``) can extend the plan —
    e.g. union the exact-dup edges on — and pay ONE eager checkpoint for
    the whole composition instead of checkpointing the minhash leg
    separately and re-shuffling its output (round-13: the pipeline's
    intermediate pair checkpoint + its union-level distinct were a full
    extra materialization of the O(pairs) frame). The caller OWNS
    releasing ``caches`` once its own materialization is done; a
    :class:`PairBudgetExceeded` abort releases them before raising."""
    if bands is None:
        bands = tune_bands(num_hashes, threshold)
    rows_per_band = num_hashes // bands

    if _scan_underparallel(df):
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)

    if not estimate_prefilter:
        th = token_hashes(df, id_col, text_col)
        # token set + all k signature mins in ONE streaming Arrow pass over
        # (id, hash)-sorted partitions — see _toks_and_sigs for why the
        # collect_set + UDF form this replaces went 45x superlinear at sf100
        combined = _toks_and_sigs(th, id_col, num_hashes).persist()
        combined.count()  # one materialization feeds banding AND verify
        try:
            cand = lsh_candidate_pairs(
                combined, id_col, bands, rows_per_band, max_bucket_size,
                max_pairs=max_pairs,
            )
        except PairBudgetExceeded:
            combined.unpersist()  # budget abort: don't leak the cache entry
            raise
        ta = combined.select(
            F.col(id_col).alias("id_a"), F.col("__toks").alias("__toks_a")
        )
        tb = combined.select(
            F.col(id_col).alias("id_b"), F.col("__toks").alias("__toks_b")
        )
        inter = F.size(F.array_intersect("__toks_a", "__toks_b"))
        union = F.size("__toks_a") + F.size("__toks_b") - inter
        out = (
            cand.join(ta, "id_a")
            .join(tb, "id_b")
            .withColumn("jaccard", F.round(inter.cast("double") / union, 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        return out, [combined]

    th = token_hashes(df, id_col, text_col).persist()
    sig = _signatures_from_hashes(th, id_col, num_hashes).persist()
    sig.count()  # materialize: single signature compute + true size stats
    try:
        cand = lsh_candidate_pairs(
            sig, id_col, bands, rows_per_band, max_bucket_size,
            max_pairs=max_pairs,
        )
    except PairBudgetExceeded:
        th.unpersist()  # budget abort: don't leak the cache entries
        sig.unpersist()
        raise

    sa = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"h{i}").alias(f"__ha{i}") for i in range(num_hashes)]
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"h{i}").alias(f"__hb{i}") for i in range(num_hashes)]
    )
    min_eq = estimate_min_eq(num_hashes, threshold)
    n_eq = sum(
        [(F.col(f"__ha{i}") == F.col(f"__hb{i}")).cast("int") for i in range(num_hashes)],
        F.lit(0),
    )
    # stage 1: banding candidates -> signature-estimate prefilter. Persisted
    # so the verify stage starts from compact (id_a, id_b) pairs instead of
    # extending one giant codegen region (see docstring).
    est = (
        cand.join(sa, "id_a").join(sb, "id_b").filter(n_eq >= min_eq)
        .select("id_a", "id_b")
        .persist()
    )
    est.count()

    # DISTINCT hash set per doc via the streaming regroup (_toks_and_sigs
    # with k=0): if two distinct tokens of one doc collide in the 31-bit
    # space (P ~ n^2/2^32 per doc — rare but real), the doc's hash SET
    # shrinks by one, and the oracle (count DISTINCT of the same hash)
    # shrinks identically, so jaccard stays bit-equal across engines.
    toks_arr = _toks_and_sigs(th, id_col, 0).persist()
    toks_arr.count()  # materialize: see note above
    ta = toks_arr.select(F.col(id_col).alias("id_a"), F.col("__toks").alias("__toks_a"))
    tb = toks_arr.select(F.col(id_col).alias("id_b"), F.col("__toks").alias("__toks_b"))
    inter = F.size(F.array_intersect("__toks_a", "__toks_b"))
    union = F.size("__toks_a") + F.size("__toks_b") - inter
    # stage 2: exact-jaccard verify over the estimate's survivors only
    out = (
        est.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", F.round(inter.cast("double") / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out, [th, sig, est, toks_arr]


def exact_then_minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int | None = None,
    estimate_prefilter: bool = True,
    max_bucket_size: int | None = None,
    max_pairs: int | None = None,
) -> DataFrame:
    """Duplicate-pair edges for the full dedup pipeline, with exact dedup
    composed BEFORE minhash — the 100 TB ordering. Byte-identical (after
    lower/trim normalization) documents agree on EVERY LSH band, so a
    million-copy boilerplate page would make one bucket emit d·(d-1)/2
    candidate pairs per band; collapsing each identical group to its
    min-id representative first keeps every LSH bucket's size equal to
    its count of DISTINCT texts. The dropped duplicates re-enter the
    graph as direct (representative, duplicate) edges — a linear number —
    so the transitive closure downstream sees the same components.
    ``max_bucket_size`` additionally caps buckets that are hot with
    near-identical (not byte-identical) variants.

    ``max_pairs`` (off by default) is the same pre-join output-volume
    circuit breaker as :func:`minhash_dedup`'s — here it runs over the
    REPRESENTATIVES' banding buckets, i.e. after mass duplicates have
    already collapsed, so a trip means the corpus is genuinely
    output-bound at this threshold even with exact-first composition.

    Returns (id_a, id_b) edges; feed to :func:`dedup_clusters`. The
    portable oracle is ``cluster_oracle_sql(..., exact_first=True)``."""
    # the shared normalization contract (md5 of lower/trim) lives in ONE
    # place — text.fingerprint — for exact_dedup, this composition, and
    # the oracle's xfp CTE alike. canon is persisted because three
    # consumers (rep agg, canon_map join, left_semi) would otherwise
    # re-run the corpus-wide md5 scan; released before returning.
    canon = fingerprint(
        df.filter(F.col(text_col).isNotNull()), text_col
    ).select(id_col, "fp").persist()
    rep = canon.groupBy("fp").agg(F.min(id_col).alias("rep_id"))
    canon_map = canon.join(rep, "fp").select(id_col, "rep_id")
    reps_docs = df.join(
        rep.select(F.col("rep_id").alias(id_col)), id_col, "left_semi"
    )
    try:
        mh, mh_caches = _minhash_pairs_lazy(
            reps_docs,
            id_col,
            text_col,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            estimate_prefilter=estimate_prefilter,
            max_bucket_size=max_bucket_size,
            max_pairs=max_pairs,
        )
    except PairBudgetExceeded:
        canon.unpersist()  # budget abort: don't leak the cache entry
        raise
    exact_edges = canon_map.filter(F.col(id_col) != F.col("rep_id")).select(
        F.col("rep_id").alias("id_a"), F.col(id_col).alias("id_b")
    )
    # The union needs NO distinct: the minhash leg is distinct by
    # construction (lsh_candidate_pairs dedups candidates), the exact leg
    # is one row per non-representative document (canon_map is one row per
    # doc), and the two legs are DISJOINT — an exact edge's id_b is never
    # any fp-group's representative (its group's min is rep_id < id_b), so
    # it cannot appear in the minhash leg, whose both sides are
    # representatives. Dropping it removes a full O(pairs) exchange, and
    # taking the minhash leg LAZY (one composed checkpoint, caches released
    # after) removes the intermediate O(pairs) materialization the round-12
    # shape paid (round-13 profile: the second dedup.py checkpoint +
    # distinct were ~1.5-2 s of dedup_pipeline's 10.6 s at sf0.1).
    out = mh.select("id_a", "id_b").unionByName(exact_edges)
    return _materialize_and_release(out, canon, *mh_caches)


# ------------------------------------------------------------------ simhash


def portable_hash60(col):
    """String-md5-hex -> [0, 2^60): first 15 md5 hex chars as
    hi-28 * 2^32 + lo-32. Pure positive BIGINT arithmetic (no shifts past
    the sign bit, no overflow) so Spark and DuckDB produce identical
    values — the SimHash analogue of portable_hash31. Takes the md5 HEX
    column (not the raw string) so callers hash each token once and feed
    both substrings from it."""
    hi = F.conv(F.substring(col, 1, 7), 16, 10).cast("long")
    lo = F.conv(F.substring(col, 8, 8), 16, 10).cast("long")
    return hi * F.lit(4294967296) + lo


def simhash(df: DataFrame, id_col: str, text_col: str = "text", bits: int = 60) -> DataFrame:
    """60-bit SimHash per document: token hash bits vote +1/-1 weighted by
    term frequency; the sign vector is packed back into one long.

    Token hashing is JVM-side in a codegen'd projection over the EXPLODED
    token rows — duplicates kept, so term frequency still weights votes;
    md5-derived (one md5 per token occurrence, both hash halves substring
    the same hex) so the DuckDB oracle reproduces every bit. An earlier
    form hashed inside an ``F.transform`` lambda, which higher-order
    functions evaluate INTERPRETED per element — two non-codegen md5 calls
    per token occurrence over the whole corpus (~7 s of the cold sf0.1
    run).

    The regroup is the ``_toks_and_sigs`` streaming kernel shape (round
    13): ONE shuffle of compact (id, 8-byte hash) rows — repartition by id
    + in-partition sort by id — streamed through an Arrow kernel that
    counts per-lane one-bits per document with ``add.reduceat``. This
    replaces the previous ``collect_list`` regroup: collect_list plans as
    ObjectHashAggregate, whose per-group array buffers are exactly the
    shape that measured 45x superlinear at the sf100 decade for the
    minhash family (see _toks_and_sigs) — the kernel is linear and
    spill-friendly (the sort spills 16-byte rows, never object trees).
    Vote order is irrelevant (bit sums), so sorting by id alone — not
    (id, hash) — suffices and the output is bit-identical. NULL text:
    split -> NULL -> explode emits no row, so the doc is absent — same as
    the collect_list form's post-UDF NULL filter. Empty text splits to
    [""], one token, as before."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # explode WITHOUT distinct (term frequency weights votes)
    tok = df.select(F.col(id_col), F.explode(F.split(text_col, " ")).alias("__t"))
    th = tok.select(id_col, portable_hash60(F.md5("__t")).alias("__h"))
    out_schema = T.StructType(
        [th.schema[id_col], T.StructField("simhash", T.LongType())]
    )
    sorted_rows = th.repartition(F.col(id_col)).sortWithinPartitions(id_col)

    def _fuse(batches):
        def build(ids, hs):
            bnd = np.flatnonzero(ids[1:] != ids[:-1]) + 1
            starts = np.concatenate(([0], bnd))
            lens = np.diff(np.concatenate((starts, [len(ids)])))
            u = hs.view(np.uint64)
            out = np.zeros(len(starts), dtype=np.uint64)
            for lane in range(bits):
                bit = (u >> np.uint64(lane)) & np.uint64(1)
                ones = np.add.reduceat(bit, starts).astype(np.int64)
                out |= ((2 * ones) > lens).astype(np.uint64) << np.uint64(lane)
            return pd.DataFrame({id_col: ids[starts], "simhash": out.view(np.int64)})

        hold_ids = hold_hs = None
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            hs = pdf["__h"].to_numpy()
            if hold_ids is not None:
                ids = np.concatenate((hold_ids, ids))
                hs = np.concatenate((hold_hs, hs))
            if not len(ids):
                continue
            # rows of the last id may continue in the next Arrow batch
            earlier = np.flatnonzero(ids != ids[-1])
            cut = (earlier[-1] + 1) if len(earlier) else 0
            if cut:
                yield build(ids[:cut], hs[:cut])
            hold_ids, hold_hs = ids[cut:], hs[cut:]
        if hold_ids is not None and len(hold_ids):
            yield build(hold_ids, hold_hs)

    return sorted_rows.mapInPandas(_fuse, out_schema)


def _ball_masks(width: int, radius: int) -> list[int]:
    """All XOR masks of <= ``radius`` bits over a ``width``-bit value — the
    hamming ball used by multi-index probe enumeration. Sizes are
    sum_{i<=r} C(width, i); guarded so a mis-parameterized call can't
    explode the plan (radius 2 over 16 bits = 137 masks, the largest any
    default reaches)."""
    import itertools

    masks: list[int] = []
    for r in range(radius + 1):
        for combo in itertools.combinations(range(width), r):
            m = 0
            for i in combo:
                m |= 1 << i
            masks.append(m)
    if len(masks) > 4096:
        raise ValueError(
            f"hamming-ball enumeration of radius {radius} over {width}-bit "
            f"chunks needs {len(masks)} probe keys per row — use more/narrower "
            "chunks or a tighter max_hamming"
        )
    return masks


class PairBudgetExceeded(ValueError):
    """A near-dup sweep's candidate volume exceeds its ``max_pairs``
    budget. Raised BEFORE the candidate join executes (the estimate runs
    over per-bucket statistics — seconds — never the join itself), so a
    mis-parameterized loose-threshold sweep on a correlated corpus aborts
    fast instead of spending hours emitting tens of millions of edges.
    The operator's output-level analogue of ``max_bucket_size``."""


def _check_pair_budget(
    banded: DataFrame, width: int, r: int, max_pairs: int, max_hamming: int
) -> None:
    """Estimate the candidate join's output rows (post ``id_a < id_b``)
    from per-bucket counts and raise :class:`PairBudgetExceeded` when it
    exceeds ``max_pairs``.

    The estimate is EXACT for the join's row count, not a sample: for
    the exact-equality scheme (r == 0) each (chunk, cv) bucket of n
    distinct signatures contributes n*(n-1)/2 ordered-filtered rows; for
    ball probing, probe-side key counts come from convolving the bucket
    histogram with the radius-r ball (a small explode over the DISTINCT
    bucket table, never over rows), each unordered pair appears once per
    matching chunk in each orientation and each rep self-collides once
    per chunk, so filtered rows = (sum(n_a*n_b) - sum(n)) / 2. Since
    candidates >= verified pairs, the budget certifiably bounds the
    verified output too (an over-trip is possible — candidates can
    exceed true pairs — which is the right failure direction for a
    guard). Cost: one aggregate over the banded reps + a bucket-stats
    self-join, both O(distinct buckets); the sweep itself never starts."""
    stats = banded.groupBy("chunk", "cv").agg(F.count(F.lit(1)).alias("__n"))
    if r == 0:
        est = stats.agg(
            F.sum(F.col("__n") * (F.col("__n") - F.lit(1)) / 2).alias("est")
        ).head()["est"]
    else:
        masks = _ball_masks(width, r)
        probe = (
            stats.select(
                "chunk",
                F.explode(
                    F.array(*[F.col("cv").bitwiseXOR(F.lit(m)) for m in masks])
                ).alias("key"),
                F.col("__n").alias("__na"),
            )
            .groupBy("chunk", "key")
            .agg(F.sum("__na").alias("__na"))
        )
        row = probe.join(
            stats.select(
                "chunk", F.col("cv").alias("key"), F.col("__n").alias("__nb")
            ),
            ["chunk", "key"],
        ).agg(
            F.sum(F.col("__na") * F.col("__nb")).alias("tot"),
            F.sum("__nb").alias("selfs"),
        ).head()
        tot = row["tot"] or 0
        est = (tot - (row["selfs"] or 0)) / 2
    if est is not None and est > max_pairs:
        raise PairBudgetExceeded(
            f"near-dup sweep at max_hamming={max_hamming} would produce "
            f"~{int(est):,} candidate pairs, over the max_pairs budget of "
            f"{max_pairs:,}. The threshold is output-bound on this corpus: "
            "tighten max_hamming, raise num_chunks, cap hot buckets with "
            "max_bucket_size, or raise the budget if the volume is intended."
        )


def _hamming_pairs_grouped(
    sigs: DataFrame,
    id_col: str,
    sig_cols: list[str],
    chunk_exprs_fn,
    width: int,
    max_hamming: int,
    max_bucket_size: int | None,
    hamming_expr,
    max_pairs: int | None = None,
):
    """Shared engine for simhash/dhash near-dup: identical-signature
    grouping, then multi-index ball-probe candidates over DISTINCT
    signatures, returning (ident_edges, verified_rep_pairs_unverified).

    - **Grouping** (round-10 sf10 finding): identical signatures agree on
      every chunk, so ANY banding scheme goes quadratic in a duplicate
      group (76 distinct dhashes across 500k images measured 1,164 s).
      Collapsing each identical-signature group to its min-id
      representative first makes those pairs LINEAR (rep, member, 0)
      edges and every later stage runs over distinct signatures only.
    - **Ball probing** (Norouzi et al. 2012, multi-index hashing): exact
      chunk equality needs > max_hamming chunks for pigeonhole recall, so
      a loose threshold forces narrow chunks with few buckets — the
      round-10 831 s wall (hamming <= 10 -> 12 x 5-bit chunks = 32
      buckets). Instead keep WIDE chunks and probe each chunk's hamming
      ball: with per-chunk radius r = max_hamming // num_chunks,
      pigeonhole still guarantees some chunk pair is within r (else the
      total exceeds num_chunks*(r+1) > max_hamming). Enumerating radius
      ceil(r/2) on one side and floor(r/2) on the other makes key
      collision EXACTLY equivalent to chunk distance <= r, with
      ball(ceil(r/2)) keys per row instead of ball(r). Candidates shrink
      by the bucket-count ratio (2^15 vs 2^5 = 1024x fewer collisions per
      chunk for the simhash default) while recall stays exact; the
      verified output — all pairs within max_hamming — is therefore
      IDENTICAL to the equality scheme's, so oracles are unaffected by
      the probe shape.

    ``max_bucket_size`` drops rows whose EXACT chunk value sits in a
    bucket of more than the cap's distinct signatures; with grouping in
    front it only matters for near-identical (not identical) mass groups.
    NOTE: the cap is defined on THIS call's chunk scheme. The SQL oracles
    reproduce the same rule but on their own (equality-scheme) chunking —
    ``simhash_grouped_oracle_sql`` defaults to the first divisor of 60
    exceeding max_hamming (12x5-bit at hamming<=10) for pigeonhole
    recall, while this engine's simhash default is 4x15-bit — so a CAPPED
    run is oracle-comparable only when both sides are given the same
    ``num_chunks``. Uncapped runs (every registry entry) are
    scheme-independent: the verified output is full-recall either way.

    ``chunk_exprs_fn(fmt)`` returns the per-chunk value expressions with
    every signature column name passed through ``fmt`` — identity for the
    banding explode, ``a.{c}``/``{c}_a`` forms for re-deriving a side's
    chunk values on the join output (the minimal-agreeing-chunk emission
    below needs both sides' chunk values, and the join output already
    carries the full signatures for the popcount verify, so the re-derive
    is a few codegen'd shifts — the shuffle widens by ZERO bytes).

    ``hamming_expr`` computes the distance from the _a/_b-suffixed sig
    columns; it is applied to the raw join output (verify-before-dedup,
    see inline note). Returns (ident_edges, verified_near_pairs), both
    as (id_a, id_b, hamming); caller unions them.

    **Minimal-agreeing-chunk emission** (round 14 — the hamming twin of
    the LSH minimal-band emission, adjudicated at sf0.1 and sf10): a pair
    within max_hamming collides once per agreeing chunk (collision at a
    chunk is EXACTLY chunk-distance <= r, with key multiplicity exactly 1
    — see the asymmetric-enumeration note), so the join output used to
    carry up to num_chunks rows per pair and pay a dropDuplicates
    exchange + aggregate over verified-pairs x multiplicity. A flat
    codegen'd predicate keeps only the row whose chunk is the pair's
    FIRST agreeing chunk — unique per pair, so the verified join output
    IS the distinct pair set and the exchange disappears (guide §2.4).
    Identical pairs by construction. Only valid when no hot-bucket cap
    drops chunk rows: a capped run must emit from a SURVIVING chunk and
    the earlier-chunk test cannot see the cap — that path keeps the
    dropDuplicates."""
    chunk_exprs = chunk_exprs_fn(lambda c: c)
    num_chunks = len(chunk_exprs)
    r = max_hamming // num_chunks
    # asymmetric enumeration: probe side A over the FULL radius-r ball,
    # side B exact. A pair's chunks match on a key iff b in ball(a, r) —
    # so collision is exactly chunk-distance <= r with key multiplicity
    # EXACTLY 1 per chunk. The symmetric split (radius ceil(r/2) both
    # sides) shuffles fewer probe rows but multiplies every EQUAL-chunk
    # pair by |ball(a) intersect ball(b)| = ball(r/2) join rows — and on correlated
    # corpora equal chunks are the common case (measured 15.9M join rows
    # vs ~1M for the same 327k true pairs at sf0.1, hamming<=10).
    qa, qb = r, 0
    groups = sigs.groupBy(*sig_cols).agg(F.min(id_col).alias("rep_id"))
    ident = (
        sigs.join(groups, sig_cols)
        .filter(F.col(id_col) != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    reps = groups.select(F.col("rep_id").alias(id_col), *sig_cols)
    banded = reps.select(
        id_col, *sig_cols, F.posexplode(F.array(*chunk_exprs)).alias("chunk", "cv")
    )
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("chunk", "cv")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("chunk", "cv")
        )
        banded = banded.join(F.broadcast(hot), ["chunk", "cv"], "left_anti")
    if max_pairs is not None:
        # eager, by design: the guard's whole point is aborting before the
        # candidate join is submitted (see PairBudgetExceeded)
        _check_pair_budget(banded, width, r, max_pairs, max_hamming)

    def probe(side: str, radius: int) -> DataFrame:
        keys = F.array(
            *[F.col("cv").bitwiseXOR(F.lit(m)) for m in _ball_masks(width, radius)]
        )
        return banded.select(
            F.col(id_col).alias(f"id_{side}"),
            *[F.col(c).alias(f"{c}_{side}") for c in sig_cols],
            "chunk",
            F.explode(keys).alias("key"),
        )

    # minimal-agreeing-chunk emission: see the docstring. `chunk` is the
    # pair's agreeing chunk on the row; keep the row iff NO earlier chunk
    # also agrees (agreement = chunk-distance <= r; == for r = 0).
    minimal = max_bucket_size is None and _HAMMING_MINCHUNK

    def _first_chunk(ca: list, cb: list, chunk_col):
        keep = F.lit(True)
        for e in range(num_chunks - 1):
            agree = (
                (ca[e] == cb[e])
                if r == 0
                else (F.bit_count(ca[e].bitwiseXOR(cb[e])) <= F.lit(r))
            )
            keep = keep & ((chunk_col <= F.lit(e)) | ~agree)
        return keep

    if r == 0:
        # exact-equality banding: join the SAME frame against itself via
        # subquery aliases so both sides share one physical plan and
        # Catalyst's ReuseExchange serves one shuffle to both — per-side
        # projections (differing aliases) would run the grouping
        # aggregate and banding explode twice (measured ~1.5x on the sf10
        # grouped sweep)
        pa, pb = banded.alias("a"), banded.alias("b")
        joined = pa.join(
            pb,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        if minimal:
            joined = joined.filter(
                _first_chunk(
                    chunk_exprs_fn(lambda c: f"a.{c}"),
                    chunk_exprs_fn(lambda c: f"b.{c}"),
                    F.col("a.chunk"),
                )
            )
        matched = joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in sig_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in sig_cols],
        )
    else:
        a, b = probe("a", qa), probe("b", qb)
        matched = a.join(b, ["chunk", "key"]).filter(F.col("id_a") < F.col("id_b"))
        if minimal:
            matched = matched.filter(
                _first_chunk(
                    chunk_exprs_fn(lambda c: f"{c}_a"),
                    chunk_exprs_fn(lambda c: f"{c}_b"),
                    F.col("chunk"),
                )
            )
    # VERIFY BEFORE DEDUP: the join's output is the candidate stream — on
    # correlated corpora (real text at loose thresholds: 38% of sf0.1 doc
    # pairs sit within chunk-distance 2 of each other) it can be 10-50x
    # the true pair count, and shuffling it through a dropDuplicates first
    # was the dominant cost (measured 15.1 s -> ~4 s at sf0.1,
    # hamming<=10). The popcount verify is a codegen'd map over the join
    # output, so false candidates die in place; with minimal-chunk
    # emission the surviving rows are ALREADY one per pair and no dedup
    # exchange runs at all (capped runs keep it — see the docstring).
    near = (
        matched.withColumn("hamming", hamming_expr)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )
    if not minimal:
        near = near.dropDuplicates(["id_a", "id_b"])
    return ident, near


def simhash_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    num_chunks: int | None = None,
    max_bucket_size: int | None = None,
    materialize: bool = True,
    max_pairs: int | None = None,
) -> DataFrame:
    """Near-dup edges by SimHash hamming distance — identical-signature
    groups collapse to min-id representative edges (hamming 0), then
    multi-index ball-probe candidates over distinct signatures are
    verified with bit_count(xor) <= max_hamming (see
    :func:`_hamming_pairs_grouped` for both design arguments; this is the
    round-11 unification that retired the two measured sf10 walls from
    every registry name). The edge set is O(corpus + true near-dup pairs
    among distinct signatures); ``dedup.dedup_clusters`` downstream
    closes the same transitive structure the full quadratic pair list
    would.

    ``num_chunks`` (a divisor of 60; default 4 -> 15-bit chunks, 32,768
    buckets/chunk) sets the bucket-count/probe-fan-out trade. Recall is
    exact for ANY value: the per-chunk probe radius max_hamming //
    num_chunks adapts so pigeonhole always covers the threshold — unlike
    the pre-round-11 equality scheme, a small num_chunks can no longer
    silently lose recall.

    ``max_pairs`` (off by default) is the output-volume circuit breaker
    for loose thresholds: near-dup edge count is intrinsically
    output-bound (SCALE.md: hamming<=10 at sf10 is ~58M TRUE edges — no
    candidate scheme can beat its own output), so past this budget the
    sweep raises :class:`PairBudgetExceeded` from a seconds-cheap
    bucket-statistics estimate instead of spending hours emitting the
    edges. At 100 TB, set it to the volume downstream clustering can
    actually consume."""
    bits = 60  # simhash() width; 60 keeps every value positive-BIGINT portable
    if num_chunks is None:
        num_chunks = 4
    if not 1 <= num_chunks <= bits or bits % num_chunks:
        raise ValueError(f"num_chunks must divide {bits}, got {num_chunks}")
    width = bits // num_chunks
    mask = (1 << width) - 1
    # simhash()'s streaming kernel already regroups by id through one
    # exchange, so its output carries cluster-wide partitioning whatever
    # the scan's file layout — no under-parallel repartition needed (the
    # round-13 kernel retired both the collect_list aggregate and the
    # conditional output reshuffle this comment used to justify).
    sh = simhash(df, id_col, text_col).persist()

    def chunk_exprs_fn(fmt):
        return [
            F.shiftrightunsigned(F.col(fmt("simhash")), width * c).bitwiseAND(
                F.lit(mask)
            )
            for c in range(num_chunks)
        ]

    try:
        ident, near = _hamming_pairs_grouped(
            sh,
            id_col,
            ["simhash"],
            chunk_exprs_fn,
            width,
            max_hamming,
            max_bucket_size,
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
            max_pairs=max_pairs,
        )
    except PairBudgetExceeded:
        sh.unpersist()
        raise
    out = near.unionByName(ident)
    return _materialize_and_release(out, sh) if materialize else out


def simhash_neardup_grouped(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    num_chunks: int | None = None,
    max_bucket_size: int | None = None,
    max_pairs: int | None = None,
) -> DataFrame:
    """Alias of :func:`simhash_neardup` (kept for round-10 API compat):
    identical-signature grouping became the ONLY simhash near-dup path in
    round 11 — the classic name now runs the same grouped + ball-probe
    composition, so the sf10 walls this twin was introduced to dodge
    (chunk density at loose thresholds, signature concentration) are
    unreachable from either name."""
    return simhash_neardup(
        df, id_col, text_col, max_hamming, num_chunks, max_bucket_size,
        max_pairs=max_pairs,
    )


def simhash_grouped_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    num_chunks: int | None = None,
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB twin of :func:`simhash_neardup_grouped`: the same signature
    construction as the Spark-side :func:`simhash`, then min-id groups,
    identity edges, and the chunk join over DISTINCT signatures.

    Chunking here is the EQUALITY scheme (default: first divisor of 60
    exceeding ``max_hamming``, for pigeonhole recall), not the operator's
    wide ball-probed chunks — irrelevant uncapped (both are full-recall,
    so verified outputs match), but it means a ``max_bucket_size`` cap is
    applied to different buckets than the operator's default 4x15-bit
    scheme: capped runs compare only when both sides pass the same
    ``num_chunks``. No registry entry exercises the cap."""
    bits = 60
    if num_chunks is None:
        num_chunks = next(
            (c for c in range(2, bits + 1) if bits % c == 0 and c > max_hamming), bits
        )
    width = bits // num_chunks
    mask = (1 << width) - 1
    o_cols = ",\n      ".join(f"sum((h >> {i}) & 1) AS o{i}" for i in range(bits))
    sh_expr = " + ".join(
        f"CAST(2 * o{i} > n AS BIGINT) * {1 << i}" for i in range(bits)
    )
    chunk_rows = "\n      UNION ALL ".join(
        f"SELECT {id_col}, simhash, {c} AS chunk,"
        f" (simhash >> {width * c}) & {mask} AS cv FROM r"
        for c in range(num_chunks)
    )
    bucket_cap_join = (
        ""
        if max_bucket_size is None
        else (
            "JOIN (SELECT chunk, cv FROM chunks_all GROUP BY chunk, cv\n"
            f"            HAVING count(*) <= {max_bucket_size}) __keep\n"
            "        USING (chunk, cv)"
        )
    )
    return f"""
    WITH tok AS (
      SELECT {id_col}, u.token
      FROM {table}, LATERAL unnest(string_split({text_col}, ' ')) AS u(token)
    ),
    th AS (
      SELECT {id_col},
             CAST(('0x' || substr(md5(token), 1, 7)) AS BIGINT) * 4294967296
             + CAST(('0x' || substr(md5(token), 8, 8)) AS BIGINT) AS h
      FROM tok
    ),
    votes AS (
      SELECT {id_col}, count(*) AS n,
      {o_cols}
      FROM th GROUP BY {id_col}
    ),
    sh AS (
      SELECT {id_col}, {sh_expr} AS simhash FROM votes
    ),
    g AS (SELECT simhash, min({id_col}) AS rep_id FROM sh GROUP BY simhash),
    ident AS (
      SELECT g.rep_id AS id_a, sh.{id_col} AS id_b, CAST(0 AS INT) AS hamming
      FROM sh JOIN g USING (simhash) WHERE sh.{id_col} <> g.rep_id
    ),
    r AS (SELECT rep_id AS {id_col}, simhash FROM g),
    chunks_all AS (
      {chunk_rows}
    ),
    chunks AS (
      SELECT chunks_all.* FROM chunks_all
      {bucket_cap_join}
    ),
    cand AS (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.cv = b.cv AND a.{id_col} < b.{id_col}
    ),
    near AS (
      SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    )
    SELECT * FROM near UNION ALL SELECT * FROM ident
    """


# ------------------------------------------------------------- ngram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_frequency: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard for all pairs sharing at least one
    shingle. The shared-shingle equi join IS the candidate generator — pairs
    with zero overlap (jaccard 0) never materialize.

    ``max_doc_frequency`` caps the skew of that join: a shingle appearing
    in d documents contributes d·(d-1)/2 candidate pairs, so ONE stopword
    trigram shared by a million web documents is a quadratic hot key. With
    the cap, shingles whose document frequency exceeds it are dropped from
    CANDIDATE GENERATION only (the standard inverted-index df-cut) — the
    verify step still counts every shared shingle, so reported jaccard
    values stay exact; what's sacrificed is recall for pairs whose only
    overlap is ultra-common shingles, which sit far below any useful
    threshold anyway. The dropped-shingle set is O(distinct hot shingles)
    — tiny — so Catalyst broadcasts the anti-join. MinHash-LSH remains
    the designated scale path for all-pairs near-dup at 100 TB."""
    # grams feeds up to 6 consumers (df-cap agg, both join sides, and the
    # three scans inside jaccard_verify) — persist it once, evaluate the
    # whole pipeline under that cache, then RELEASE it before returning:
    # a long-lived session calling this repeatedly must not accumulate
    # cache entries (the discipline dsir_weights documents). The result
    # is eager-localCheckpointed so unpersisting cannot trigger a full
    # recompute at the caller's first action.
    grams = doc_ngrams(df, id_col, text_col, n).persist()
    cand = grams
    if max_doc_frequency is not None:
        hot = (
            grams.groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_frequency)
            .select("ngram")
        )
        cand = grams.join(F.broadcast(hot), "ngram", "left_anti")
    out = jaccard_verify(
        cand.alias("g")
        .join(cand.withColumnRenamed(id_col, "id_b").alias("h"), "ngram")
        .filter(F.col(f"g.{id_col}") < F.col("id_b"))
        .select(F.col(f"g.{id_col}").alias("id_a"), "id_b")
        .distinct(),
        grams,
        id_col,
        "ngram",
    ).filter(F.col("jaccard") >= threshold)
    return _materialize_and_release(out, grams) if materialize else out


# ----------------------------------------------------------- dup clustering


# Contracted-remnant size (edges) below which connected components finish
# on the driver via union-find instead of further distributed rounds. Each
# Spark round on a tiny remnant is pure fixed overhead (a join + aggregate
# + checkpoint over a few thousand rows); the collect this gate admits is
# bounded control-plane state — 100k edges of two ids ≈ a few MB, the same
# class as the k-means centroid collects. Scale-safe by construction: the
# gate reads the EXACT contracted edge count the loop already computes, so
# a 100 TB graph whose remnant stays large never collects anything.
_CC_DRIVER_EDGES = 100_000


def _driver_orderable(schema) -> bool:
    """True when Python's ``<`` over collected values provably matches
    Spark's ``min``/``least`` ordering for EVERY column of ``schema`` (the
    edge frame's two endpoint columns): integral types
    (identical integer order), strings (Python compares by code point;
    Spark's UTF-8 byte order preserves code points), and booleans. Floats
    are excluded (NaN ordering diverges: Spark sorts NaN greatest, Python
    ``<`` on NaN is always False), as is everything exotic — those ids
    keep the distributed rounds, which need no cross-engine ordering
    agreement (ADVICE round 13)."""
    from pyspark.sql import types as T

    ok = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType, T.BooleanType)
    return all(isinstance(f.dataType, ok) for f in schema)


def _driver_components(e2: DataFrame) -> DataFrame:
    """Finish the contracted component graph on the driver: collect the
    (already persisted, gate-bounded) edge list, union-find it, and return
    the (u, cluster = component min) label map as a local DataFrame —
    bit-identical to the distributed fixpoint (the per-component minimum
    is unique, and Spark's string ordering matches Python's here because
    UTF-8 byte order preserves code-point order)."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in e2.collect():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    roots: dict = {}
    for x in parent:
        r = find(x)
        if r not in roots or x < roots[r]:
            roots[r] = x
    rows = [(x, roots[find(x)]) for x in parent]
    utype = e2.schema[0].dataType
    schema = T.StructType(
        [T.StructField("u", utype), T.StructField("cluster", utype)]
    )
    return e2.sparkSession.createDataFrame(rows, schema)


def dedup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_iterations: int = 20,
    trusted_edges: bool = False,
) -> DataFrame:
    """Connected components over the near-dup pair graph: transitively
    closed duplicate clusters, labeled by their minimum member id (the
    canonical representative).

    Label propagation with iterated star contraction (round 13): each
    contraction level takes the min-of-self-and-neighbors label in a
    single aggregate — no join — and relabels the edge set through it,
    so the cliques that dominate near-dup graphs collapse out of the
    edge table immediately (measured at sf0.1: 1.8M edges -> 2094 ->
    170 -> 12 per level); levels repeat while the edge count at least
    halves, then the pointer-jumped fixpoint loop finishes the remnant
    and the final label map is the composition of all level maps
    (exactness argued at the contraction site below).

    The fixpoint iterates over EDGE-INCIDENT nodes only (round 10):
    singletons — at 100 TB the overwhelming majority of a deduped corpus
    — can never change label, so carrying them through every round would
    shuffle O(corpus) rows per iteration for nothing. They are joined
    back once at the end. Each round is one join + one min-aggregate over
    the dup subgraph, and the convergence probe reads a fused
    changed-flag off the checkpointed frame instead of re-joining old
    vs new labels (one O(nodes) join saved per round).

    Returns (id, cluster) for EVERY id in ``ids`` — singletons keep their
    own id as cluster — so downstream `keep = id == cluster` selects
    canonical documents directly. Edges whose endpoints are not in
    ``ids`` are dropped up front (two semi-joins of the edge list —
    the SMALL side — against the id column): otherwise an out-of-corpus
    endpoint with a small id could become a cluster's min label and no
    member would satisfy `id == cluster`.

    ``trusted_edges`` (round 13): a caller that PROVES its pair list is
    duplicate-free with both endpoints in ``ids`` — e.g.
    ``exact_then_minhash_pairs`` over the same corpus frame, whose edge
    set is distinct by construction (see its union note) and whose
    endpoints are all corpus documents — can skip the two guard
    semi-joins and the symmetrized-union distinct: one exchange plus two
    joins off the first (largest) contraction level's lineage. The
    union of both directions of a distinct canonical-ordered (a < b)
    pair list cannot itself collide, so the edge set is identical.
    Default False: arbitrary callers keep the guards.
    """
    members = ids.select(F.col(id_col).alias("u"))
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).unionByName(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    if not trusted_edges:
        edges = (
            edges.join(members, "u", "left_semi")
            .join(members.withColumnRenamed("u", "v"), "v", "left_semi")
            .distinct()
        )
    edges = edges.persist()
    # Iterated star contraction (round 13). Each level's neighbor-min
    # needs no join at all — relative to the current edge set every label
    # is still the node's own id, so L(u) = least(u, min(v)) is ONE
    # aggregate over it — and the edge set is then relabeled THROUGH L:
    # near-dup graphs are dominated by cliques (mass near-identical
    # variants), and a clique's members all take its min id, so whole
    # cliques leave the edge table per level (sf0.1 pipeline graph: 1.8M
    # -> 2094 -> 170 -> 12 edges). Exactness, by induction per level:
    # L maps each node to a node of its own component, contracted
    # components are the images of real components, and the component min
    # m survives contraction as itself (m's neighbors all have larger
    # ids, so L(m) = m) — so the remnant loop's per-component min over
    # label-nodes IS the real min, and composing the level maps outward
    # (coalescing to the level's own label for label-nodes a level
    # isolated, i.e. fully self-contained stars) reproduces the exact
    # fixpoint. The remnant loop keeps pointer jumping, which covers the
    # adversarial case contraction does not (long increasing-id chains
    # lose O(1) edges per level — the shrink-stall break below hands
    # those to the loop's O(log diameter) jumped rounds).
    level_maps: list[DataFrame] = []
    e2 = edges
    n_cur = None
    driver_labels = None
    for _ in range(max_iterations):
        lvl = (
            e2.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least(F.col("u"), F.col("__mv")).alias("cluster"))
            .localCheckpoint(eager=True)
        )
        level_maps.append(lvl)
        nxt = (
            e2.join(lvl.select("u", F.col("cluster").alias("__lu")), "u")
            .join(
                lvl.select(F.col("u").alias("v"), F.col("cluster").alias("__lv")),
                "v",
            )
            .filter(F.col("__lu") != F.col("__lv"))
            # both input directions survive the relabel: symmetry preserved
            .select(F.col("__lu").alias("u"), F.col("__lv").alias("v"))
            .distinct()
            .persist()
        )
        n_next = nxt.count()  # control-plane scalar: drives the stop rule
        if e2 is not edges:
            e2.unpersist()
        prev, e2, n_cur = n_cur, nxt, n_next
        if n_next == 0:
            break
        if n_next <= _CC_DRIVER_EDGES and _driver_orderable(e2.schema):
            # The contracted remnant fits the driver's control plane (the
            # gate bounds the collect: default 100k edges = a few MB, the
            # same cost class as the k-means centroid collects). Every
            # further distributed round — each a full pass of joins +
            # aggregates + a checkpoint over a FEW THOUSAND rows — costs
            # pure fixed overhead (round-13 profile: levels past the first
            # + the remnant loop were ~1.5-2 s of dedup_pipeline at sf0.1
            # for <3k edges). A driver union-find computes the identical
            # fixpoint (per-component min label) in microseconds; graphs
            # whose contracted remnant stays above the gate keep the
            # distributed rounds unchanged. Id types whose Python `<`
            # could diverge from Spark's min/least ordering (floats with
            # NaN, binary, exotic orderables) — on EITHER edge column —
            # skip the driver finish and take the distributed rounds.
            driver_labels = _driver_components(e2)
            break
        if prev is not None and n_next * 2 > prev:
            # shrink factor under 2x: contraction has hit an adversarial
            # shape (long increasing-id chains lose O(1) edges per level)
            # — stop paying a level per O(1) progress and let the
            # pointer-jumped loop below finish in O(log diameter) rounds
            break
    if driver_labels is not None:
        labels = driver_labels
        n_cur = 0  # remnant fully resolved: skip the distributed loop
    else:
        labels = e2.select("u").distinct().withColumn("cluster", F.col("u"))

    for _ in range(max_iterations - 1) if n_cur else ():
        neighbor_min = (
            e2.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        new_cluster = F.least(
            F.col("cluster"), F.coalesce("nbr_cluster", F.col("cluster"))
        )
        stepped = labels.join(neighbor_min, "u", "left").select(
            "u", F.col("cluster").alias("__old"), new_cluster.alias("cluster")
        )
        # Pointer jumping (path compression): follow the propagated label
        # one more hop through the PREVIOUS round's label map —
        # L'(u) = L(step(u)) — inside the same materialization. Label
        # values are always label-map keys (mins over incident-node ids,
        # inductively), so the hop resolves for every row, and L(w) <= w
        # means the jump only ever lowers a label within its component:
        # the unique fixpoint (per-component min) is untouched. What
        # changes is the ROUND COUNT: distance-to-min roughly doubles per
        # round, so chains converge in O(log diameter) edge-wide joins
        # instead of O(diameter) — each avoided round is a full
        # edge-table shuffle, the dominant clustering cost at 100 TB.
        # Using the previous (checkpoint-backed) map as the jump table
        # keeps the round at ONE materialization — jumping through the
        # fresh tentative labels would re-evaluate the edge join.
        jump = labels.select(
            F.col("u").alias("__j"), F.col("cluster").alias("__c2")
        )
        final_c = F.coalesce("__c2", "cluster")
        # localCheckpoint truncates the lineage each round — without it the
        # plan doubles per iteration and Catalyst blows up on deep graphs
        new_labels = (
            stepped.join(jump, stepped["cluster"] == jump["__j"], "left")
            .select(
                "u",
                final_c.alias("cluster"),
                (final_c != F.col("__old")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("__changed").limit(1).count()
        labels = new_labels.select("u", "cluster")
        if changed == 0:
            break
    # Compose the contraction levels outward: every incident node's final
    # label is the loop's label of its star root, looked up through each
    # level's map in turn (label-nodes a level isolated — self-contained
    # stars — keep that level's label). One lazy plan of tiny joins, one
    # checkpoint; every frame here is O(incident nodes of its level), the
    # same class the loop already checkpoints per round.
    composed = labels
    for lvl in reversed(level_maps):
        m = composed.select(F.col("u").alias("__l"), F.col("cluster").alias("__c2"))
        composed = lvl.join(m, lvl["cluster"] == m["__l"], "left").select(
            "u", F.coalesce("__c2", "cluster").alias("cluster")
        )
    composed = composed.localCheckpoint(eager=True)
    # composed is checkpoint-backed (no lineage into the caches), so they
    # can be released immediately — no per-call cache accumulation in a
    # long-lived session
    edges.unpersist()
    if e2 is not edges:
        e2.unpersist()
    return (
        ids.select(F.col(id_col).alias("u"))
        .join(composed, "u", "left")
        .select(
            F.col("u").alias(id_col),
            F.coalesce("cluster", F.col("u")).alias("cluster"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    threshold: float = 0.95,
    iters: int = 2,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    near-duplicate removal — k-means partition the corpus, compute
    pairwise cosine ONLY within each cluster, transitively close the
    >= threshold pairs, keep the minimum-id representative per group.

    Returns (id, cluster, keep): ``cluster`` is the duplicate-group label
    (its min member id; singletons label themselves) and ``keep`` marks
    the one representative per group — ``filter(keep)`` is the deduped
    corpus.

    Scale shape: the O(n^2) all-pairs GEMM is fenced per k-means cell —
    choose k so cells average ~10^3-10^4 vectors (SemDeDup used 50k
    clusters for LAION-440M) and each cell is one Arrow-batched
    applyInPandas task doing a dense numpy GEMM; cross-cell pairs are
    never computed (the approximation the paper accepts: true duplicates
    co-locate because k-means cells are cosine-tight). ``k`` MUST grow
    with the corpus — per-cell work is O((n/k)^2 * d), so a fixed k is
    quadratic in n: round-10 measured k=8 at 2.5 s on 20k vectors but
    PAST A 10-MINUTE CAP on 200k, while k = n/2000 returns the curve to
    ~linear (cells bounded at ~2k rows). Centroid training
    is the bounded-driver Lloyd loop shared with ``kmeans_fit``
    (per-(cluster,dim) partial sums; the driver holds k x dim scalars);
    the component closure is the same join-based label propagation as
    ``dedup_clusters`` — everything distributed, nothing all-pairs
    across cells."""
    from pyspark.sql import types as T

    from sdlt_spark.operators.clustering import kmeans_fit

    assigned, _cents = kmeans_fit(
        df.select(id_col, vec_col), vec_col, id_col, k=k, iters=iters, seed=seed
    )
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def _cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["__id"].to_numpy()
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        sims = unit @ unit.T
        ia, ib = np.triu_indices(len(ids), k=1)
        hit = sims[ia, ib] >= threshold
        a, b = ids[ia[hit]], ids[ib[hit]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos_sim": sims[ia, ib][hit]}
        )

    cells = assigned.select(
        F.col("cluster").alias("__c"),
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__v"),
    )
    pairs = cells.groupBy("__c").applyInPandas(_cell_pairs, out_schema)
    ids = df.select(F.col(id_col).cast("long").alias(id_col))
    labels = dedup_clusters(pairs, ids, id_col)
    return labels.select(
        id_col,
        "cluster",
        (F.col(id_col) == F.col("cluster")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the ExactSubstr pass, re-expressed
# Spark-first: the paper builds a corpus-wide suffix array on one big
# machine; the equivalent declarative form is a rolling-window self-group)
# ---------------------------------------------------------------------------


def duplicated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    key: str = "string",
) -> DataFrame:
    """Token spans ``(id, span_start, span_end)`` that are NON-FIRST
    occurrences of some ``min_tokens``-token window appearing more than
    once in the corpus (across documents or repeated within one). The
    globally first occurrence — ordered by (id, position) — is the one
    that stays; merged, overlapping cut windows coalesce into maximal
    spans, so any duplicated run of length >= min_tokens yields one span
    covering the whole run, exactly the paper's remove-all-but-one
    semantics at window granularity.

    Plan shape (everything JVM-side): one scan; windows come from a
    codegen'd ``transform(sequence(...))`` + ``posexplode`` (no
    self-join); ONE shuffle keyed on the window to rank occurrences;
    span-merge is the classic islands pattern — two window functions
    partitioned by document, i.e. one more shuffle keyed by id.

    ``key='string'`` groups on the literal window text (exact; what the
    DuckDB parity oracle mirrors). ``key='hash'`` groups on xxhash64 of
    the window — 8-byte shuffle keys instead of ~min_tokens words, the
    100 TB path (a 2^-64 collision merges two windows and over-cuts one
    span; the standard trade, same as the paper's hashed variants)."""
    if key not in ("string", "hash"):
        raise ValueError(f"key must be 'string' or 'hash', got {key!r}")
    toks = F.split(F.col(text_col), " ")
    w = min_tokens
    windows = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - w),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, w)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(windows).alias("__pos", "__w"),
    )
    if key == "hash":
        wins = wins.withColumn("__w", F.xxhash64("__w"))
    from pyspark.sql import Window

    rank_w = Window.partitionBy("__w").orderBy("__id", "__pos")
    cuts = (
        wins.withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") > 1)
        .select("__id", F.col("__pos").alias("__s"), (F.col("__pos") + w).alias("__e"))
    )
    doc_w = Window.partitionBy("__id").orderBy("__s", "__e")
    prev_max_end = F.max("__e").over(
        doc_w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        cuts.withColumn(
            "__brk",
            (F.col("__s") > F.coalesce(prev_max_end, F.lit(-1))).cast("int"),
        )
        .withColumn(
            "__isl",
            F.sum("__brk").over(doc_w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return islands.groupBy("__id", "__isl").agg(
        F.min("__s").alias("span_start"), F.max("__e").alias("span_end")
    ).select(F.col("__id").alias(id_col), "span_start", "span_end")


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    key: str = "string",
) -> DataFrame:
    """Cut every duplicated-substring span (see
    :func:`duplicated_substring_spans`) out of its document and return
    ``(id, text, removed_tokens)`` — the corpus with all-but-first
    occurrences of every >= min_tokens duplicated run removed. Documents
    with no duplicated spans pass through verbatim; a fully-duplicated
    document collapses to the empty string (the paper drops or keeps
    these by policy — returning them lets the caller decide).

    The cut itself is a broadcast-friendly join (spans are a small
    fraction of the corpus) plus a codegen'd higher-order filter over the
    token array — no Python in the row path."""
    # one small file = one task: the window explode (in spans) and the
    # per-row token filter would serialize on a single core
    if _scan_underparallel(df):
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    spans = duplicated_substring_spans(df, id_col, text_col, min_tokens, key)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.split(F.col(text_col), " ")
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda p: (s["i"] >= p["span_start"]) & (s["i"] < p["span_end"]),
        ),
    )
    out_text = F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
    return (
        df.join(per_doc, on=id_col, how="left")
        .withColumn(
            "__out",
            F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(out_text),
        )
        .select(
            id_col,
            F.col("__out").alias(text_col),
            F.when(F.col("__spans").isNull(), F.lit(0))
            .otherwise(F.size(toks) - F.size(kept))
            .alias("removed_tokens"),
        )
    )
