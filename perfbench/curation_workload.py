"""``llm_curation``: LLM training-data curation rounds over a versioned corpus.

Set-up writes a seeded synthetic document corpus into a ``VintageTable``
with the change feed on, builds its persisted MinHash index, and writes a
seeded embeddings table. The timed cycle mixes:

- a curation round (``write``): a seeded revision batch of revised, new and
  deleted documents goes through the language/quality gate and exact dedup,
  is applied to the corpus as one merge, and is followed by the MinHash
  index refresh and BPE token accounting. Deletes match the inserted documents in number, so the corpus
  size stays constant;
- a full sweep (``read``): MinHash near-dup pairs over the whole corpus,
  their connected components, and exact cosine near-dup pairs over the
  embeddings;
- an as-of corpus read (``travel``): the corpus as set-up wrote it or as
  the warm-up round left it, in turn.

The generator knows which batch documents should pass the gate and which
are exact copies, so each round's outcome is checked against a model of the
corpus. Each sweep's pairs must equal the pairs maintained incrementally
from the index refreshes, and its component count must equal a union-find
over them. At the end, the corpus content is checked against the model and
the exact dedup count, the pair set and the near-dup cluster count against
the DuckDB oracles.
"""

from __future__ import annotations

import os
import random
import re

import numpy as np
from pyspark.sql import functions as F

from perfbench.harness import READ, TRAVEL, WRITE, Op, dir_bytes, file_bytes, require

SCALES = {
    # 1,000 documents of 30-70 words, 1,000 64-dim embeddings
    "bench": {"docs": 1000, "revised": 12, "new": 6, "vectors": 1000},
    "tiny": {"docs": 40, "revised": 4, "new": 2, "vectors": 40},
}
THRESHOLD = 0.9  # MinHash Jaccard threshold of the index and the sweep
# Corpus layout, the same for every seed so the near-dup graph (and the work
# its components take) does not vary with the seed: in each block of BLOCK
# ids the first document is a base, the next two are near-dup variants of
# it and the fourth an exact copy. Bases are never revised or deleted;
# rounds revise and delete other documents and add new variants of bases,
# so clusters stay stars around their base.
BLOCK = 25
COS_THRESHOLD = 0.9
DIM = 64
STOPWORDS = {
    "en": ["the", "a", "and", "is", "of", "to", "in", "that"],
    "es": ["el", "la", "los", "y", "es", "de", "que", "un"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
}


def union_find_canonical(ids, pairs) -> int:
    """Number of connected components over ``ids`` joined by ``pairs``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sum(1 for i in ids if find(i) == i)


class LlmCuration:
    # seven as-of reads: a cheap op's median needs many samples, and its
    # warm-up many runs
    CYCLE = ["round"] + ["travel"] * 7 + ["sweep"]
    WARM_UP = CYCLE

    def __init__(self, spark, seed: int, scale: str, workdir: str, tracer):
        from sdlt_spark.operators import dedup, minhash_index, similarity, text
        from sdlt_spark.store import VintageTable

        self.spark = spark
        self.tracer = tracer
        self.dedup, self.mi, self.sim, self.text = dedup, minhash_index, similarity, text
        self.cfg = SCALES[scale]
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        letters = "abcdefghijklmnopqrstuvwxyz"
        self.vocab = [
            "".join(self.rng.choice(letters) for _ in range(self.rng.randint(3, 9)))
            for _ in range(3000)
        ]
        self.corpus_dir = os.path.join(workdir, "corpus")
        self.index_dir = os.path.join(workdir, "minhash_index")
        self.emb_dir = os.path.join(workdir, "embeddings")
        self.corpus = VintageTable(spark, self.corpus_dir, change_feed=True)
        self.emb = VintageTable(spark, self.emb_dir)
        self.docs: dict[int, str] = {}  # model of the live corpus
        self.count: list[int] = []  # corpus rows per corpus version
        self.chars: list[int] = []  # corpus text characters per version
        self.pairs: dict[tuple[int, int], float] = {}  # from index refreshes
        self.next_id = 0
        self.cos_pairs = 0
        self.n_travel = 0

    # ------------------------------------------------------------ generator

    def _fresh(self) -> str:
        stops = STOPWORDS[self.rng.choice(sorted(STOPWORDS))]
        return " ".join(
            self.rng.choice(stops) if self.rng.random() < 0.25 else self.rng.choice(self.vocab)
            for _ in range(self.rng.randint(30, 70))
        )

    def _variant(self, base: str) -> str:
        words = base.split(" ")
        words[self.rng.randrange(len(words))] = self.rng.choice(self.vocab)
        return " ".join(words)

    def _low_quality(self) -> str:
        if self.rng.random() < 0.5:  # too short
            return " ".join(self.rng.choice(self.vocab) for _ in range(5))
        return " ".join(  # punctuation-heavy, and too many characters per token
            self.rng.choice(self.vocab) + "!?" * 5 for _ in range(self.rng.randint(30, 70))
        )

    def _is_base(self, i: int) -> bool:
        return i % BLOCK == 0 and i < self.cfg["docs"]

    def _base_variant(self) -> str:
        return self._variant(self.docs[BLOCK * self.rng.randrange(self.cfg["docs"] // BLOCK)])

    def _snapshot(self, version: int) -> str | None:
        if version != len(self.count):
            return f"corpus commit returned version {version}, expected {len(self.count)}"
        self.count.append(len(self.docs))
        self.chars.append(sum(len(t) for t in self.docs.values()))
        return None

    # --------------------------------------------------------------- setup

    def setup(self) -> None:
        docs = {}
        for i in range(self.cfg["docs"]):
            base = i - i % BLOCK
            if i % BLOCK in (1, 2):
                docs[i] = self._variant(docs[base])
            elif i % BLOCK == 3:
                docs[i] = docs[base]
            else:
                docs[i] = self._fresh()
        self.next_id = len(docs)
        df = self.spark.createDataFrame(sorted(docs.items()), "doc_id long, text string")
        v = self.corpus.write(df, num_files=4)
        self.docs = docs
        require(self._snapshot(v))
        pairs, _report = self.mi.minhash_index_build(
            self.corpus, self.index_dir, "doc_id", "text", threshold=THRESHOLD
        )
        self.pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        # embeddings: gaussian vectors; every 20th is a near-copy of the one before
        n = self.cfg["vectors"]
        vecs = self.np_rng.standard_normal((n, DIM)).astype(np.float32)
        for i in range(1, n, 20):
            vecs[i] = vecs[i - 1] + 0.05 * self.np_rng.standard_normal(DIM).astype(np.float32)
        unit = vecs.astype(np.float64)
        unit /= np.linalg.norm(unit, axis=1, keepdims=True)
        gram = unit @ unit.T
        self.cos_pairs = int(np.sum(np.triu(gram >= COS_THRESHOLD, k=1)))
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
        self.emb.write(
            self.spark.createDataFrame(rows, "vec_id long, embedding array<float>"), num_files=2
        )

    # ----------------------------------------------------------------- ops

    def prepare(self, kind: str) -> Op:
        return getattr(self, f"_op_{kind}")()

    def _op_round(self) -> Op:
        cfg = self.cfg
        live = [i for i in sorted(self.docs) if not self._is_base(i)]
        revised = self.rng.sample(live, cfg["revised"])
        batch: dict[int, str] = {}
        passes: set[int] = set()
        for i in revised:
            if self.rng.random() < 0.2:
                batch[i] = self._low_quality()
            else:
                batch[i] = self._fresh()
                passes.add(i)
        new_ids = list(range(self.next_id, self.next_id + cfg["new"]))
        self.next_id += cfg["new"]
        for i in new_ids:
            batch[i] = self._fresh() if self.rng.random() < 0.6 else self._base_variant()
            passes.add(i)
        # one exact copy inside the batch: exact dedup keeps the smaller id
        batch[new_ids[-1]] = batch[new_ids[0]]
        kept = passes - {new_ids[-1]}
        n_inserted = sum(1 for i in new_ids if i in kept)
        candidates = [i for i in live if i not in batch]
        deleted = self.rng.sample(candidates, n_inserted)
        rows = sorted(batch.items())
        bpe = re.compile(self.text.BPE_PATTERN)
        want_tokens = sum(len(bpe.findall(batch[i])) for i in kept)
        user_bytes = sum(len(t) for t in batch.values())
        T, dedup = self.tracer, self.dedup

        def run():
            df = self.spark.createDataFrame(rows, "doc_id long, text string")
            with T.span("text.score_gate"):
                gated = (
                    self.text.quality_score(self.text.language_scores(df))
                    .filter((F.col("quality") >= 0.7) & F.col("pred_lang").isNotNull())
                    .select("doc_id", "text")
                    .persist()
                )
                gated.count()
            with T.span("dedup.exact_dedup"):
                reps = [r["doc_id"] for r in dedup.exact_dedup(gated, "doc_id").collect()]
            upserts = gated.filter(F.col("doc_id").isin(reps))
            # the batch is applied as ONE merge: matched delete markers are
            # deleted, other matches updated, new documents inserted. A
            # delete marker has no text; the insert condition tests that,
            # because the insert projection drops source-only columns first
            changes = upserts.withColumn("__del", F.lit(False)).unionByName(
                self.spark.createDataFrame(
                    [(i, None, True) for i in deleted], "doc_id long, text string, __del boolean"
                )
            )
            with T.span("vintage.merge"):
                version = self.corpus.merge(
                    changes, ["doc_id"], matched_delete="src___del",
                    matched_update={"text": "src_text"}, insert_condition="text IS NOT NULL",
                )
            with T.span("minhash_index.refresh"):
                new_pairs, stale, _report = self.mi.minhash_refresh(self.corpus, self.index_dir)
                new_pairs, stale = new_pairs.collect(), stale.collect()
            with T.span("text.bpe_token_count"):
                tokens = self.text.bpe_token_count(upserts).agg(F.sum("n_bpe_tokens")).head()[0]
            gated.unpersist()
            return set(reps), version, new_pairs, stale, tokens

        def check(out):
            reps, version, new_pairs, stale, tokens = out
            err = None
            if reps != kept:
                err = f"gate + exact dedup kept {sorted(reps)}, model keeps {sorted(kept)}"
            for i in reps:  # the model follows what was merged
                self.docs[i] = batch[i]
            for i in deleted:
                del self.docs[i]
            err = err or self._snapshot(version)
            stale_ids = {r[0] for r in stale}
            for p in [p for p in self.pairs if p[0] in stale_ids or p[1] in stale_ids]:
                del self.pairs[p]
            self.pairs.update({(r["id_a"], r["id_b"]): r["jaccard"] for r in new_pairs})
            if tokens != want_tokens:
                err = err or f"bpe tokens {tokens}, model counts {want_tokens}"
            return err

        return Op("round", WRITE, run, check, user_bytes)

    def _op_sweep(self) -> Op:
        T, dedup = self.tracer, self.dedup
        n_vec = self.cfg["vectors"]

        def run():
            with T.span("vintage.read"):
                docs = self.corpus.read()
                emb = self.emb.read()
            with T.span("dedup.minhash_dedup"):
                pairs = dedup.minhash_dedup(
                    docs, "doc_id", threshold=THRESHOLD, estimate_prefilter=False
                )
                got = pairs.collect()
            with T.span("dedup.dedup_clusters"):
                clusters = dedup.dedup_clusters(pairs, docs.select("doc_id"), "doc_id")
                canonical = clusters.filter(F.col("doc_id") == F.col("cluster")).count()
            with T.span("similarity.neardup_cosine_pairs"):
                cos = self.sim.neardup_cosine_pairs(
                    emb, "embedding", "vec_id", threshold=COS_THRESHOLD, n_rows=n_vec
                ).count()
            return got, canonical, cos

        def check(out):
            got, canonical, cos = out
            got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got}
            if got.keys() != self.pairs.keys():
                return (f"sweep found {len(got)} pairs, index refreshes maintain "
                        f"{len(self.pairs)}; differing {sorted(got.keys() ^ self.pairs.keys())[:5]}")
            bad = [p for p in got if abs(got[p] - self.pairs[p]) > 1e-9]
            if bad:
                return f"jaccard differs from the index for {bad[:5]}"
            want = union_find_canonical(self.docs, self.pairs)
            if canonical != want:
                return f"{canonical} canonical documents, union-find over the pairs gives {want}"
            if cos != self.cos_pairs:
                return f"{cos} cosine pairs, numpy finds {self.cos_pairs}"
            return None

        return Op("sweep", READ, run, check,
                  probe=lambda out: self._count_lsh(self.corpus.read(), len(out[0])))

    def _op_travel(self) -> Op:
        # the corpus set-up wrote and the one the warm-up round produced, in
        # turn: the same versions in every run, however long it is
        self.n_travel += 1
        v = self.n_travel % 2
        T = self.tracer

        def run():
            with T.span("vintage.read"):
                df = self.corpus.read(version=v)
            with T.span("vintage.read.exec"):
                return df.agg(F.count(F.lit(1)), F.sum(F.length("text"))).head()

        def check(row):
            if (row[0], row[1]) != (self.count[v], self.chars[v]):
                return (f"as-of version {v}: {row[0]} rows / {row[1]} chars, model has "
                        f"{self.count[v]} / {self.chars[v]}")
            return None

        return Op("travel", TRAVEL, run, check)

    # ------------------------------------------------------- measurements

    def _count_lsh(self, docs, verified: int) -> None:
        """LSH candidates vs verified pairs, for the traced run only."""
        bands = self.dedup.tune_bands(32, THRESHOLD)
        sig = self.dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=32)
        candidates = self.dedup.lsh_candidate_pairs(
            sig, "doc_id", bands=bands, rows_per_band=32 // bands
        ).count()
        self.tracer.count("lsh_candidates", candidates)
        self.tracer.count("lsh_verified_per_candidate", verified / max(1, candidates))

    def _tables(self):
        from sdlt_spark.store import VintageTable

        return [self.corpus, VintageTable(self.spark, self.index_dir), self.emb]

    def live_files(self) -> int:
        return len(self.corpus.read().inputFiles())

    def storage_amp(self) -> float:
        live = sum(file_bytes(t.read().inputFiles()) for t in self._tables())
        return self.table_bytes() / live

    def table_bytes(self) -> int:
        return dir_bytes(self.corpus_dir, self.index_dir, self.emb_dir)

    def final_checks(self) -> list[str]:
        """Corpus content against the model; exact and near-dup cluster
        counts and the pair set against the DuckDB oracles."""
        import duckdb

        errs = []
        final = self.corpus.read()
        got = {r["doc_id"]: r["text"] for r in final.collect()}
        if got != self.docs:
            errs.append(f"corpus has {len(got)} documents, model has {len(self.docs)}; "
                        f"differing ids {sorted(set(got) ^ set(self.docs))[:5]}")
        head = len(self.count) - 1
        for v in sorted({0, head // 2, head}):
            n = self.corpus.read(version=v).count()
            if n != self.count[v]:
                errs.append(f"as-of version {v}: {n} rows, model has {self.count[v]}")
        con = duckdb.connect()
        try:
            con.register("docs_df", final.toPandas())
            con.execute("CREATE TABLE docs AS SELECT * FROM docs_df")
            exact_want = con.execute(
                "SELECT count(DISTINCT md5(lower(trim(text)))) FROM docs WHERE text IS NOT NULL"
            ).fetchone()[0]
            exact_got = self.dedup.exact_dedup(final, "doc_id").count()
            if exact_got != exact_want:
                errs.append(f"exact dedup keeps {exact_got}, DuckDB oracle {exact_want}")
            oracle_pairs = {
                (a, b) for a, b, _j in con.execute(self.dedup.minhash_oracle_sql(
                    "docs", "doc_id", threshold=THRESHOLD, estimate_prefilter=False
                )).fetchall()
            }
            if oracle_pairs != self.pairs.keys():
                errs.append(f"maintained pairs {len(self.pairs)}, DuckDB oracle {len(oracle_pairs)}")
            canon_want = con.execute(
                "SELECT count(*) FROM (" + self.dedup.cluster_oracle_sql(
                    "docs", "doc_id", threshold=THRESHOLD, estimate_prefilter=False
                ) + ") WHERE is_canonical"
            ).fetchone()[0]
        finally:
            con.close()
        # every sweep checked Spark's components against this union-find
        canon_got = union_find_canonical(self.docs, self.pairs)
        if canon_got != canon_want:
            errs.append(f"near-dup clusters {canon_got}, DuckDB oracle {canon_want}")
        return errs
