"""Incremental MinHash-LSH dedup against a PERSISTED signature index —
the daily-ingest 100 TB path (round-12 verdict next item 1).

The classic :func:`sdlt_spark.operators.dedup.minhash_dedup` recomputes
signatures and re-bands the ENTIRE corpus per run; with a daily 0.1%
increment on a 100 TB corpus that is a 1000x overpay per day. This module
applies the ``ivf_refresh`` pattern (``operators/similarity.py``) to the
dedup family:

- :func:`minhash_index_build` materializes the per-document MinHash state
  — the distinct token-hash set (``__toks``, what exact-Jaccard
  verification needs) plus the k signature mins (``h0..h{k-1}``, what LSH
  banding needs) — as ONE VintageTable row per document, stamped with the
  corpus version it reflects (``txn_id`` watermark) and a params sidecar
  (threshold / k / bands are baked into an index for its lifetime).
- :func:`minhash_refresh` folds the corpus' CDC since the watermark:
  signatures are computed for the BATCH only, candidates come from
  batch x batch banding plus a batch x index probe (the batch's banded
  keys BROADCAST against a column-pruned scan of the index — the index is
  never shuffled, never re-hashed, and index x index pairs are never
  re-derived), verified pairs are emitted for the batch's docs only, and
  the batch is folded into the index via one merge commit. Refresh cost
  is O(batch signatures + index scan), never O(corpus re-hash) — and the
  index rows are ~30 longs/doc where the corpus row is the document body.

Incremental-equality contract (the oracle the registry entry enforces):
after any sequence of build + refreshes, the UNION of all emitted pairs —
minus pairs touching ids the caller retracted per ``stale_ids`` — equals
the from-scratch ``minhash_dedup`` pair set over the corpus head,
bit-exactly (same jaccard values): signatures depend only on the document
text, and a pair shares a band bucket in the incremental probe iff it
shares one in the from-scratch banding, so each pair surfaces exactly
when its later-arriving member does.

Reference parity: incremental merge ingest is the reference's core verb
(``/root/reference/README.md:125-130``); this gives the extension dedup
family the same incrementality the reference's choreography gives
observations.
"""

from __future__ import annotations

import json
import os
import uuid
from concurrent.futures import Future

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sdlt_spark.exec import overlap
from sdlt_spark.operators.dedup import (
    _BAND_K,
    MINHASH_PRIME,
    _materialize_and_release,
    _toks_and_sigs,
    check_lsh_pair_budget,
    estimate_min_eq,
    lsh_candidate_pairs,
    token_hashes,
    tune_bands,
)
from sdlt_spark.operators.packing import _plan_size_bytes

# Target data-file size for the persisted index (bytes). The signature
# kernel's output keeps the session's shuffle partitioning, so a naive
# write shatters a small index into shuffle.partitions tiny files — and
# every refresh then pays per-file overhead on 2-3 index scans plus the
# merge's footer stats (guide: keep files in the 128 MB-1 GB band). The
# writer coalesces to ceil(cached_bytes / this) files — scale-adaptive:
# one file at bench scale, ~128 MB files at 100 TB.
_INDEX_FILE_BYTES = 128 << 20

# Candidate-fetch prune gate (bytes of live index data files). The verify
# step only needs (__toks, h*) rows for CANDIDATE ids; at 100 TB pruning
# the index scan down to those ids (broadcast semi-join) is what keeps
# verification O(candidates) instead of O(corpus). But the prune has a
# fixed cost — it forces the probe join to materialize early (cids needs
# cand), an explode + distinct, and a second pass over the index — and at
# bench scale the candidates cover most of the index anyway, so the prune
# machinery costs more than it saves. Gate it on the live index's
# data-file bytes, read from driver-side commit metadata (the packing.py
# size-gated-plan pattern: same results either way, plan picked by size).
_PRUNE_MIN_BYTES = 256 << 20


def _size_coalesced(df):
    """Coalesce ``df`` (persisted + materialized, so Catalyst stats are the
    TRUE cached size) to ceil(size / _INDEX_FILE_BYTES) partitions for
    writing. coalesce never raises the partition count, so a frame already
    below the target is returned as-is; stats unavailable -> unchanged."""
    size = _plan_size_bytes(df)
    if not size:
        return df
    return df.coalesce(max(1, -(-size // _INDEX_FILE_BYTES)))

_PARAMS_FILE = "minhash_params.json"


def _band_exprs(num_hashes: int, bands: int) -> list:
    """Band bucket hashes (polynomial combine mod 2^31-1) over the
    ``h0..h{k-1}`` signature columns — the same arithmetic
    ``dedup.lsh_candidate_pairs`` embeds, factored so the index probe and
    the from-scratch banding can never drift."""
    r = num_hashes // bands

    def _bh(b: int):
        acc = F.col(f"h{b * r}")
        for j in range(1, r):
            acc = (acc * _BAND_K + F.col(f"h{b * r + j}")) % MINHASH_PRIME
        return acc

    return [_bh(b) for b in range(bands)]


def _write_params(index_path: str, params: dict) -> None:
    """Atomic params sidecar publish (tmp + rename, the
    ``_write_ivf_sidecar`` discipline). Params are fixed for the index's
    LIFETIME — a refresh with different threshold/k/bands would silently
    change which pairs exist, so refresh always reads them back from
    here, never from arguments."""
    os.makedirs(index_path, exist_ok=True)
    final = os.path.join(index_path, _PARAMS_FILE)
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(params, fh)
    os.rename(tmp, final)


def read_params(index_path: str) -> dict:
    with open(os.path.join(index_path, _PARAMS_FILE)) as fh:
        return json.load(fh)


def _estimate_filter(
    cand: DataFrame, rows: DataFrame, id_col: str, num_hashes: int, threshold: float
) -> DataFrame:
    """Signature-component estimate prefilter (>= threshold - 2 sigma; see
    ``dedup.estimate_min_eq``) applied to candidate pairs, both sides
    resolved from ``rows`` (id + h0..h{k-1})."""
    min_eq = estimate_min_eq(num_hashes, threshold)
    sa = rows.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"h{i}").alias(f"__ha{i}") for i in range(num_hashes)],
    )
    sb = rows.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"h{i}").alias(f"__hb{i}") for i in range(num_hashes)],
    )
    n_eq = sum(
        [(F.col(f"__ha{i}") == F.col(f"__hb{i}")).cast("int") for i in range(num_hashes)],
        F.lit(0),
    )
    return cand.join(sa, "id_a").join(sb, "id_b").filter(n_eq >= min_eq).select(
        "id_a", "id_b"
    )


def _jaccard_verify_toks(
    cand: DataFrame, rows: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate pairs from the per-doc DISTINCT
    token-hash arrays (the same array_intersect arithmetic — and 4 dp
    rounding — as ``minhash_dedup``, so values are bit-equal to the
    from-scratch run and the DuckDB oracle)."""
    ta = rows.select(F.col(id_col).alias("id_a"), F.col("__toks").alias("__toks_a"))
    tb = rows.select(F.col(id_col).alias("id_b"), F.col("__toks").alias("__toks_b"))
    inter = F.size(F.array_intersect("__toks_a", "__toks_b"))
    union = F.size("__toks_a") + F.size("__toks_b") - inter
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", F.round(inter.cast("double") / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_index_build(
    corpus,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    num_hashes: int = 32,
    bands: int | None = None,
    estimate_prefilter: bool = False,
    app_id: str = "minhash",
    max_pairs: int | None = None,
    version: int | None = None,
    defer: bool = False,
) -> tuple[DataFrame, dict]:
    """Build the persisted MinHash signature index for ``corpus`` at its
    head version and return ``(pairs, report)``: the from-scratch
    near-dup pairs among the initial documents, plus a report dict.

    The index is a VintageTable at ``index_path`` holding one row per
    document — ``(id, __toks array<long>, h0..h{k-1})`` — i.e. exactly
    the ``_toks_and_sigs`` streaming-kernel output the classic operator
    computes and throws away. Banding is NOT materialized: band bucket
    hashes are k multiply-adds re-derived in a codegen'd projection at
    probe time (cheaper than storing bands x 16-byte rows, and it keeps
    band-scheme choice out of the storage format). The build commit is
    stamped ``txn_id='<app_id>:<corpus_version>'`` so refresh knows which
    corpus version the index reflects (the ``ivf_refresh`` watermark
    pattern), and threshold/k/bands land in an atomic params sidecar —
    an index answers ONE parameterization for its lifetime.

    ``corpus`` is a :class:`~sdlt_spark.store.VintageTable` whose rows
    carry ``id_col`` + ``text_col``. NULL-text documents are absent from
    the index (they have no token set — same contract as the classic
    operator).

    ``version`` pins the corpus snapshot the index reflects (default: the
    head at call time). Passing it explicitly lets a caller overlap the
    build with LATER corpus commits (guide §2.6) — the build's reads and
    its watermark are then deterministic regardless of what concurrent
    ingest does to the corpus head.

    The index write runs in the calling thread while the pairs
    verification runs beside it (:func:`sdlt_spark.exec.overlap`); the
    signature cache is released once both are done. ``defer`` decides
    only when the verification is awaited:

    - ``defer=False`` waits for it and returns the checkpointed pairs
      frame; a verification failure (e.g.
      :class:`~sdlt_spark.operators.dedup.PairBudgetExceeded`) raises
      from this call.
    - ``defer=True`` returns AS SOON AS the index write + params sidecar
      have committed — i.e. as soon as a refresh against this index is
      legal — and the first tuple element is a
      :class:`concurrent.futures.Future` resolving to the same pairs (or
      raising what the verification raised). The verify jobs keep
      running, overlapping whatever the caller submits next (typically
      the first ``minhash_refresh``).

    Pairs are bit-identical either way. When both legs fail, in either
    mode, the index write's exception is the one raised: the
    verification's exception (e.g. ``PairBudgetExceeded``) is its
    ``__cause__``, and its finished Future is its ``pending_verify``.
    """
    from sdlt_spark.store import VintageTable

    spark = corpus.spark
    if bands is None:
        bands = tune_bands(num_hashes, threshold)
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    head = corpus.latest_version() if version is None else version
    docs = corpus.read(version=head).select(id_col, text_col)
    combined = _toks_and_sigs(
        token_hashes(docs, id_col, text_col), id_col, num_hashes
    ).persist()
    n_docs = combined.count()  # materialize once: index write + banding + verify
    t = VintageTable(spark, index_path, change_feed=True)
    # The index write and the initial-pairs verification are INDEPENDENT
    # consumers of the materialized `combined` cache, so they run as
    # CONCURRENT Spark jobs (guide §2.6 — actions are only sequential
    # because driver code calls them sequentially): one leg's tasks
    # back-fill executors the other's stage tails leave idle. Determinism
    # is untouched — both legs read the same materialized cache.
    # size-targeted layout: without the coalesce the kernel's shuffle
    # partitioning shatters the index into 32 ~150 KB files at bench
    # scale (each later scan = 32 tasks, each merge = 32 footer stats)
    src = _size_coalesced(combined)  # driver-side stats read, main thread

    def _write_and_publish():
        t.write(src, txn_id=f"{app_id}:{head}")
        # params publish rides the write leg so the index is
        # refreshable exactly when it exists — even if the verify leg
        # aborts (e.g. PairBudgetExceeded), matching the sequential
        # ordering this replaces
        _write_params(
            index_path,
            {
                "id_col": id_col,
                "text_col": text_col,
                "threshold": threshold,
                "num_hashes": num_hashes,
                "bands": bands,
                "estimate_prefilter": estimate_prefilter,
            },
        )

    def _verify():
        cand = lsh_candidate_pairs(
            combined, id_col, bands, num_hashes // bands, max_pairs=max_pairs
        )
        if estimate_prefilter:
            cand = _estimate_filter(cand, combined, id_col, num_hashes, threshold)
        pairs = _jaccard_verify_toks(cand, combined, id_col, threshold)
        return pairs.localCheckpoint(eager=True)

    # Write leg FOREGROUND (return = the index is committed and
    # refreshable), verify leg BACKGROUND; the signature cache is released
    # once both legs finished, before the Future resolves.
    _, pairs = overlap(_write_and_publish, _verify, release=[combined])
    report = {
        "corpus_version": head,
        "indexed_docs": n_docs,
        "index_version": t.latest_version(),
    }
    return (pairs if defer else pairs.result()), report


def minhash_refresh(
    corpus,
    index_path: str,
    app_id: str = "minhash",
    max_pairs: int | None = None,
    to_version: int | None = None,
    defer: bool = False,
) -> tuple[DataFrame, DataFrame, dict]:
    """Fold the corpus changes since the index watermark into the
    persisted signature index and return ``(new_pairs, stale_ids,
    report)`` — O(batch), never O(corpus).

    - ``new_pairs`` — verified (id_a, id_b, jaccard >= threshold) pairs
      with AT LEAST ONE side in the batch: batch x batch pairs from LSH
      banding over the batch signatures, plus batch x index pairs from
      probing the persisted index. Pairs among untouched index documents
      were emitted by earlier builds/refreshes and are never re-derived.
    - ``stale_ids`` — one-column frame of every id whose state changed in
      the folded range (updates, deletes, and fresh inserts — a small
      superset of "ids with invalidated pairs"; retracting pairs for a
      fresh insert is a no-op). The caller's pair store must drop all
      previously-emitted pairs touching these ids BEFORE unioning
      ``new_pairs``: an updated document's old pairs are stale, a deleted
      document's pairs are gone, and its new pairs (if still above
      threshold) are re-emitted here.
    - ``report`` — folded range, upsert/delete counts, index version.

    Plan shape (the 100 TB story — mirror of ``ivf_refresh``):

    1. Net batch state from ``corpus.table_changes(last+1, head)`` —
       latest change per id wins (one window over O(changed rows)).
    2. Batch signatures via the streaming Arrow kernel — the ONLY
       text-hashing work in a refresh, O(batch).
    3. Candidates: ONE broadcast probe join — the batch's banded keys
       (tiny) broadcast against the union of the batch's and the live
       index's (id, band-hash) rows, covering batch x batch and
       batch x index together; minimal-agreeing-band emission (each side
       carries its earlier band hashes) makes every pair exit the join
       exactly once, so no dedup exchange follows. The index
       contributes ONE column-pruned scan reading k longs/row, no
       shuffle, no re-hash; the batch side never pays a shuffle
       self-join. Stale index rows (ids in the batch) are anti-joined
       out of the probe so an updated document never matches its own
       superseded signature. ``max_pairs`` still guards the batch's
       banding buckets pre-join via the shared estimator.
    4. Verification fetches (id, __toks, h*) for CANDIDATE ids only
       (broadcast semi-join against batch ∪ live index — one more
       column-pruned index scan), then applies the same estimate
       prefilter (if the index was built with it) and exact-Jaccard
       arithmetic as the classic operator.
    5. ONE merge commit folds the batch into the index: upserts replace
       superseded signature rows in copy-on-write, deletes ride the same
       commit as sentinel rows (``h0 = -1`` — real signature components
       are in [0, 2^31-1), so the sentinel is unreachable), exactly the
       ``ivf_refresh`` single-commit fold. The commit is stamped with the
       new corpus-version watermark.

    ``max_pairs`` (off by default) extends the LSH family's circuit
    breaker to the batch x batch banding (the batch x index probe is
    bounded by batch fan-out and is not separately estimated).

    Steps 4 and 5 overlap (:func:`sdlt_spark.exec.overlap`): the merge
    commit runs in the calling thread while the verification runs beside
    it, and ``defer`` decides only when the verification is awaited.
    ``defer=False`` waits for it and returns the pairs frame, so a
    verification failure (e.g. ``PairBudgetExceeded``) raises from this
    call. ``defer=True`` returns AS SOON AS the fold's merge commit lands
    — i.e. as soon as the NEXT refresh is legal — and ``new_pairs`` is a
    :class:`concurrent.futures.Future` resolving to the checkpointed pairs
    frame. Fold N's verification then overlaps fold N+1's signature/probe
    work (guide §2.6 applied across lifecycle steps). Pairs are
    bit-identical either way. When both legs fail, in either mode, the
    merge's exception is the one raised: the verification's exception
    (e.g. ``PairBudgetExceeded``) is its ``__cause__``, and its finished
    Future is its ``pending_verify``.
    """
    from pyspark.sql import Window

    from sdlt_spark.store import VintageTable

    spark = corpus.spark
    p = read_params(index_path)
    id_col, text_col = p["id_col"], p["text_col"]
    threshold, num_hashes, bands = p["threshold"], p["num_hashes"], p["bands"]
    t = VintageTable(spark, index_path, change_feed=True)
    token = t.last_txn_id(app=app_id)
    if token is None:
        raise ValueError(
            f"index at {index_path} carries no '{app_id}' watermark; build "
            f"it with minhash_index_build so refresh knows which corpus "
            "version it reflects"
        )
    # ``to_version`` pins the fold's upper bound (default: head at call
    # time) so a caller can overlap the refresh with LATER corpus commits
    # (guide §2.6): the folded range — and therefore the emitted pairs and
    # the new watermark — is deterministic regardless of concurrent ingest.
    last = int(token)
    head = corpus.latest_version() if to_version is None else to_version
    report = {
        "from_version": last + 1,
        "to_version": head,
        "upserts": 0,
        "deletes": 0,
    }
    id_type = corpus.read().schema[id_col].dataType.simpleString()
    empty_pairs = spark.createDataFrame(
        [], f"id_a {id_type}, id_b {id_type}, jaccard double"
    )
    empty_ids = spark.createDataFrame([], f"{id_col} {id_type}")
    if head <= last:
        report["index_version"] = t.latest_version()
        if defer:  # API consistency: pairs is a Future in deferred mode
            done: Future = Future()
            done.set_result(empty_pairs)
            return done, empty_ids, report
        return empty_pairs, empty_ids, report

    ch = corpus.table_changes(last + 1, head).select(
        F.col(id_col),
        F.col(text_col),
        F.col("_change_type").isin("insert", "update_postimage").alias("__ins"),
        "_commit_version",
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_commit_version").desc(), F.col("__ins").desc()
    )
    net = (
        ch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "_commit_version")
        .persist()
    )
    persisted: list[DataFrame] = [net]
    try:
        upserts = net.filter(F.col("__ins")).select(id_col, text_col)
        # batch signatures: the only text hashing in the refresh
        batch = _toks_and_sigs(
            token_hashes(upserts, id_col, text_col), id_col, num_hashes
        ).persist()
        persisted.append(batch)
        n_upserts = batch.count()
        # removed = deletes PLUS upserts that produced no signature row
        # (text became NULL: the doc leaves the dedup universe, same as
        # the classic operator's NULL-text contract). Its COUNT needs no
        # anti-join job: batch ids are a subset of the (distinct) net ids,
        # so n_removed = |net| - |batch| — and the frame itself is only
        # built when a delete actually has to ride the merge commit.
        stale = net.select(id_col).persist()
        persisted.append(stale)
        n_removed = stale.count() - n_upserts
        report["upserts"] = n_upserts
        report["deletes"] = n_removed

        # live index rows: superseded/deleted ids leave the probe so an
        # updated doc can't match its own old signature (stale is small ->
        # broadcast anti join; the index is scanned, never shuffled)
        index_snap = t._snapshot()
        index_live = t._scan(index_snap).join(F.broadcast(stale), id_col, "left_anti")

        bexprs = _band_exprs(num_hashes, bands)
        band_arr = F.posexplode(F.array(*bexprs))
        if n_upserts:
            batch_banded = batch.select(
                F.col(id_col).alias("__bid"),
                band_arr.alias("band", "bh"),
                *[bexprs[e].alias(f"__pbh{e}") for e in range(bands - 1)],
            )
            if max_pairs is not None:
                # same pre-join estimator as lsh_candidate_pairs (shared
                # helper — can't drift), over the batch x batch buckets;
                # the batch x index side stays bounded by batch fan-out
                check_lsh_pair_budget(
                    batch_banded, bands, num_hashes // bands, max_pairs
                )
            # ONE broadcast probe join covers batch x batch AND
            # batch x index: the tiny batch-banded side probes the union
            # of (batch ∪ live index) banded keys. Minimal-agreeing-band
            # emission (round 13, mirror of lsh_candidate_pairs): both
            # sides carry their earlier band hashes, so a flat codegen'd
            # predicate keeps only the row whose band is the pair's FIRST
            # agreeing band, and the batch-leg flag keeps one orientation
            # of batch x batch pairs — the join output IS the distinct
            # pair set and the O(collisions) distinct exchange (2.6 s of
            # the sf0.1 fold at ~3.7M rows) disappears. The index
            # contributes ONE column-pruned scan, no shuffle, no re-hash.
            def _base(src, is_batch: bool):
                return src.select(
                    F.col(id_col),
                    band_arr.alias("band", "bh"),
                    *[bexprs[e].alias(f"__bbh{e}") for e in range(bands - 1)],
                    F.lit(is_batch).alias("__isb"),
                )

            base_banded = _base(batch, True).unionByName(_base(index_live, False))
            first_band = F.lit(True)
            for e in range(bands - 1):
                first_band = first_band & (
                    (F.col("band") <= F.lit(e))
                    | (F.col(f"__bbh{e}") != F.col(f"__pbh{e}"))
                )
            cand = (
                base_banded.join(F.broadcast(batch_banded), ["band", "bh"])
                .filter(F.col(id_col) != F.col("__bid"))
                .filter(first_band)
                # batch x batch pairs arrive in BOTH orientations (each
                # side probes the other): keep the base-id-smaller one.
                # batch x index pairs arrive once — always kept.
                .filter(~F.col("__isb") | (F.col(id_col) < F.col("__bid")))
                .select(
                    F.least(id_col, "__bid").alias("id_a"),
                    F.greatest(id_col, "__bid").alias("id_b"),
                )
                # Rebalance the emitted pairs before verification: the
                # fused probe's partitioning follows batch-cache ∪
                # index-scan splits, and the index leg — one or two task
                # splits of the size-coalesced index file — emits most
                # pairs, so a fully fused verify would run on 1-2 cores.
                # This exchange carries only the DISTINCT pairs (934k rows
                # at sf0.1); the distinct it replaced exchanged every band
                # collision (~3.7M rows) AND paid a hash aggregate.
                .repartition(F.col("id_a"), F.col("id_b"))
            )
            # fetch candidate rows once (batch ∪ live index are id-disjoint).
            # Above the size gate, prune to candidate ids (broadcast
            # semi-join — the 100 TB path: verify touches O(candidate)
            # rows, never O(corpus)); cand is then consumed TWICE (the
            # prune and the verify), so it persists, and materializing
            # FETCH — now O(candidates) — also materializes cand through
            # cids (no separate count job; the semi-join is broadcast by
            # hint, not by cached-size stats). Below the gate the prune's
            # fixed cost (explode + distinct + a second index pass)
            # exceeds what it saves, cand feeds exactly ONE downstream
            # plan leg and fetch is a cheap column-pruned re-scan of
            # batch ∪ live index — so neither persists and probe+verify
            # run as ONE lazy plan into the pairs checkpoint: one
            # materialization per fold instead of two (the fetch.count
            # job alone was 0.3-0.6 s per fold at bench scale).
            # Identical pairs either way, plan picked by size
            # (see _PRUNE_MIN_BYTES).
            fetch = batch.unionByName(index_live)
            if t._live_bytes_at_least(_PRUNE_MIN_BYTES, index_snap.files):
                cand = cand.persist()
                persisted.append(cand)
                cids = cand.select(
                    F.explode(F.array("id_a", "id_b")).alias(id_col)
                ).distinct()
                fetch = fetch.join(
                    F.broadcast(cids), id_col, "left_semi"
                ).persist()
                persisted.append(fetch)
                fetch.count()
            c2 = (
                _estimate_filter(cand, fetch, id_col, num_hashes, threshold)
                if p["estimate_prefilter"]
                else cand
            )
            pairs_plan = _jaccard_verify_toks(c2, fetch, id_col, threshold)
        else:
            pairs_plan = None

        def _fold_merge():
            if n_upserts and not n_removed:
                # append/update-only fold (THE daily-crawl shape): a plain
                # updateAll/insertAll merge — clause-mode plans carry ~2x
                # the commit overhead (measured 4.3 s vs 2.1 s on the sf0.1
                # lifecycle) and buy nothing without deletes. The batch is
                # size-coalesced so each fold appends ~_INDEX_FILE_BYTES
                # files, not one shard per shuffle partition.
                t.merge(
                    _size_coalesced(batch),
                    [id_col],
                    on_duplicate_source="assume_unique",
                    txn_id=f"{app_id}:{head}",
                )
            elif n_upserts or n_removed:
                # ONE merge commit: upserts replace superseded rows, deletes
                # ride as h0 = -1 sentinel rows (unreachable by real
                # signatures, which live in [0, 2^31-1)). The removed-id
                # frame is derived here, on the only path that needs it.
                removed = stale.join(batch.select(id_col), id_col, "left_anti")
                del_rows = removed.select(
                    F.col(id_col),
                    F.lit(None).cast("array<long>").alias("__toks"),
                    F.lit(-1).cast("long").alias("h0"),
                    *[F.lit(None).cast("long").alias(f"h{i}") for i in range(1, num_hashes)],
                )
                cols = {c: f"src_{c}" for c in ["__toks"] + [f"h{i}" for i in range(num_hashes)]}
                t.merge(
                    _size_coalesced(batch).unionByName(del_rows),
                    [id_col],
                    matched_delete="src_h0 = -1",
                    matched_update=cols,
                    matched_condition="coalesce(src_h0, 0) >= 0",
                    insert_condition="coalesce(h0, 0) >= 0",
                    on_duplicate_source="assume_unique",
                    txn_id=f"{app_id}:{head}",
                )

        # The fold's index merge and the pairs verification are INDEPENDENT:
        # the merge consumes the persisted batch (and stale) caches, the
        # verify consumes the same caches plus the PRE-merge index files —
        # which the copy-on-write merge never deletes (only vacuum does),
        # and the verify's index scan was pinned to the old version's file
        # list by index_snap. So they run as CONCURRENT Spark jobs
        # (guide §2.6), the merge's commit machinery (zone-map agg, touched
        # scan, data + CDC writes) hiding under the verify's candidate
        # compute. The merge runs FOREGROUND (return = the new watermark is
        # committed, so the NEXT refresh is legal) and the verify on the
        # background thread, which releases the fold's caches once both
        # legs are done.
        def _verify():
            return (
                _materialize_and_release(pairs_plan, cand, fetch)
                if pairs_plan is not None
                else empty_pairs
            )

        # stale_out checkpoints BEFORE cleanup ownership moves to the
        # background thread — it must not race stale's unpersist
        stale_out = stale.localCheckpoint(eager=True)
        caches = list(persisted)
        persisted.clear()  # overlap owns their release now
        _, pairs = overlap(_fold_merge, _verify, release=caches)
    finally:
        # double-unpersist of frames _materialize_and_release already
        # dropped is a harmless no-op; what matters is that NO path —
        # including a PairBudgetExceeded abort mid-probe — leaves an
        # O(corpus) cache entry behind in a long-lived session (once the
        # legs start, overlap owns exactly the same cleanup; `persisted`
        # was handed over empty)
        for c in persisted:
            c.unpersist()
    report["index_version"] = t.latest_version()
    return (pairs if defer else pairs.result()), stale_out, report
