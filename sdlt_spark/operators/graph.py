"""Graph algorithms over edge DataFrames.

The dedup clustering in :mod:`sdlt_spark.operators.dedup` already does
join-based label propagation (connected components); this module adds
PageRank — link-based document ranking, the classic seed-quality signal
in web-crawl curation (OPIC/Harmonic centrality serve the same role in
e.g. Common Crawl pipelines).

Determinism design: floating-point PageRank is NOT reproducible across
engines (per-group float sums reorder under shuffle), so ``pagerank``
here runs in INTEGER arithmetic — contributions are integer-divided
BEFORE the sum, the damping is applied by integer multiply-then-divide
AFTER the sum, and integer addition is associative — making every
iteration bit-identical in Spark and any SQL engine, at any parallelism.
Ranks are fixed-point: ``scale`` = 1.0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Persist gate (bytes of the edge scan, Catalyst driver-side estimate).
# Persisting e/deg/nodes avoids ~4-5 re-scans of the edge source per
# iteration — the right trade exactly when those re-scans outweigh the
# fixed cost of 3 persists + their materialization jobs + the final eager
# checkpoint. The round-13 unconditional persist regressed the sf0.1
# bench row 1.52 -> 2.11 s (driver ground truth): at a few MB of edges
# the re-scans are nearly free and the cache machinery dominates. Same
# size-gated-plan pattern as packing.py / minhash_index.py: identical
# results either way (the integer arithmetic is deterministic), plan
# picked by input size; stats unavailable -> persist (the scale-safe
# side, matching the 100 TB design point).
_PAGERANK_PERSIST_MIN_BYTES = 64 << 20


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 5,
) -> DataFrame:
    """Fixed-point PageRank over an (src, dst) edge list.

    r_0(v) = scale;  r_{k+1}(v) = (100 - d)% * scale
                                  + d% * Σ_{u -> v} (r_k(u) DIV deg(u))
    with the percent applied as multiply-then-integer-divide AFTER the
    sum. Dangling contributions are dropped (their mass leaves the
    system), matching the common sparse formulation.

    ``checkpoint_every``: the rank vector's plan otherwise deepens by one
    join + one aggregate per iteration — fine at the default 3, but a
    20-iteration web-graph walk compounds into a plan Catalyst spends
    minutes (or a stack overflow) analyzing. Every N rounds the vector is
    eagerly localCheckpointed (the same lineage-truncation move as
    ``dedup_clusters``), so plan size stays bounded by N iterations
    regardless of the walk length. Checkpointing changes no values —
    the integer arithmetic is deterministic either way.

    Scale shape per iteration: ONE equi-join of the edge list with the
    current rank vector on ``src`` (AQE broadcasts the vector while it
    fits; both sides shuffle on the key otherwise) and ONE partial-agg
    groupBy on ``dst`` — O(edges) shuffled per iteration, the driver
    holds nothing. The out-degree table is computed once and reused.
    Plan depth grows linearly with ``iterations``; for long walks,
    localCheckpoint every few rounds (the k-means/label-propagation
    pattern elsewhere in this repo).

    Result contract: above the persist gate (``_PAGERANK_PERSIST_MIN_BYTES``
    of edges) the returned ranks are checkpoint-backed, computed once; below
    it they are a LAZY frame, and every action on it re-runs the iterations
    over the edge source. A caller that acts on small-input ranks more than
    once should persist or checkpoint them itself.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    # node ids keep their OWN type (string URLs are the web-crawl case —
    # a silent cast('long') would NULL them all and collapse the graph
    # onto one node); NULL endpoints are dropped like malformed edges
    # e / deg / nodes are read on EVERY iteration (edge join, rank
    # rebuild): without caching, each of the `iterations` plan levels
    # re-embeds their lineage and the edge source is re-scanned ~4-5x per
    # iteration (the captured bench plan held 7 scans of the same parquet
    # for 3 iterations). ABOVE the size gate, persist all three once and
    # release after the final vector is checkpoint-backed — the
    # _materialize_and_release discipline, so long-lived sessions keep no
    # per-call cache entries. Below it the re-scans are cheaper than the
    # cache machinery (round-13 driver measurement) and the plan stays
    # fully lazy.
    from sdlt_spark.operators.packing import _plan_size_bytes

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    size = _plan_size_bytes(e)
    do_persist = size is None or size >= _PAGERANK_PERSIST_MIN_BYTES
    if do_persist:
        e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    if do_persist:
        nodes = nodes.persist()
        deg = deg.persist()
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for it in range(iterations):
        contrib = (
            e.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                # JVM long division (`div`), never float: exact in both
                # engines at any magnitude
                F.expr("rank div __deg").alias("__c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            F.expr(
                f"CAST({base} + ({damping_pct} * coalesce(__s, CAST(0 AS "
                f"BIGINT))) div 100 AS BIGINT)"
            ).alias("rank"),
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    if not do_persist:
        return ranks
    from sdlt_spark.operators.dedup import _materialize_and_release

    return _materialize_and_release(ranks, e, nodes, deg)
