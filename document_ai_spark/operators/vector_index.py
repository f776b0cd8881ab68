"""Persisted embedding indexes: IVF codebook + incremental near-dup.

Two persisted structures a 100 TB embedding pipeline maintains instead
of recomputing per run (both on the AtomicBatchIndex commit discipline —
staging write, atomic rename, parameter + format pinning):

``CodebookIndex`` — the trained IVF codebook. ``kmeans_codebook``
(similarity.py) is deterministic but costs Lloyd passes over the
training sample; the round-3 engine retrained it on EVERY ivf_topk
call. Train once, commit the k-row codebook, and every later query /
micro-batch loads it (components are rounded to 6 decimals before the
write, so the parquet round-trip is bit-exact and a reloaded codebook
produces identical assignments — parity-tested).

``EmbeddingIndex`` — incremental embedding-cosine near-dup detection,
the vector twin of sketch_index.SketchIndex: banded sign-LSH rows
(vec_id, emb, bks, band, bucket) persist per committed batch; a new
micro-batch finds (a) its internal pairs and (b) pairs against ONLY the
index buckets it touches (broadcast semi-join on the batch's band
keys), then appends its own rows. Sign buckets are a pure per-vector
function — no corpus dependence — so k incremental batches emit exactly
the pair set of ``embedding_near_dups`` recomputed over the union
(parity contract, tested), each pair once, at its first colliding band.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .batch_index import AtomicBatchIndex
from .dedup import _cap_bucket_items
from .similarity import (
    EMB_LSH_BANDS,
    EMB_LSH_ROWS,
    EMB_MAX_BUCKET,
    IVF_ITERS,
    IVF_K,
    IVF_SAMPLE_MOD,
    _band_bucket,
    kmeans_codebook,
)


class CodebookIndex(AtomicBatchIndex):
    """Train-once / load-forever IVF codebook."""

    FORMAT = 1
    SCHEMA = "centroid_id bigint, cent array<double>"
    _BATCH = "codebook"

    def __init__(self, root: str, k: int = IVF_K, iters: int = IVF_ITERS,
                 sample_mod: int = IVF_SAMPLE_MOD):
        super().__init__(root, {"k": k, "iters": iters,
                                "sample_mod": sample_mod})
        self.k, self.iters, self.sample_mod = k, iters, sample_mod

    def is_trained(self) -> bool:
        return self._is_committed(self._BATCH)

    def centroids(self, spark: SparkSession) -> DataFrame:
        if not self.is_trained():
            raise ValueError(f"no committed codebook under {self.root}; "
                             "call ensure(spark, emb) first")
        return self.index_df(spark)

    def ensure(self, spark: SparkSession, emb: DataFrame) -> DataFrame:
        """The committed codebook, training it from ``emb`` only if this
        index has none yet. Idempotent: concurrent/replayed ensure()
        calls re-train into staging and atomically re-commit the same
        deterministic result."""
        if not self.is_trained():
            stage, final = self._stage_paths(self._BATCH)
            cents = kmeans_codebook(emb, self.k, self.iters,
                                    self.sample_mod)
            cents.write.mode("overwrite").parquet(stage)
            self._stamp_seq(stage, self._next_seq())
            self._commit(stage, final)
        return self.centroids(spark)


_EMB_SCHEMA = ("vec_id bigint, emb array<double>, bks array<int>, "
               "band int, bucket int")


def banded_vector_rows(emb: DataFrame, bands: int = EMB_LSH_BANDS,
                       rows: int = EMB_LSH_ROWS) -> DataFrame:
    """(vec_id, emb, bks, band, bucket) — one row per vector per band;
    the unit EmbeddingIndex stores and joins on. ``bks`` carries ALL
    band buckets so the first-colliding-band pair dedup stays local."""
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    bucket_vec = F.array(*[
        _band_bucket(F.col("emb"), band, rows) for band in range(bands)])
    band_keys = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 F.element_at("bks", band + 1).alias("bucket"))
        for band in range(bands)])
    return (base.withColumn("bks", bucket_vec)
            .select("vec_id", "emb", "bks", F.explode(band_keys).alias("bk"))
            .select("vec_id", "emb", "bks", "bk.band", "bk.bucket"))


def _first_band_cond(bks_x: str, bks_y: str) -> str:
    """SQL condition: the current `band` is the first whose buckets
    agree (bucket equality <=> sign-slice agreement) — the shuffle-free
    multi-band pair dedup shared with similarity.embedding_near_dups."""
    return ("CASE WHEN band = 0 THEN true ELSE NOT exists("
            f"  slice(zip_with({bks_x}, {bks_y}, (a, c) -> a = c), "
            "        1, band), t -> t) END")


class EmbeddingIndex(AtomicBatchIndex):
    """Persisted banded sign-LSH embedding index with atomic commits."""

    FORMAT = 1
    SCHEMA = _EMB_SCHEMA

    def __init__(self, root: str, bands: int = EMB_LSH_BANDS,
                 rows: int = EMB_LSH_ROWS):
        super().__init__(root, {"bands": bands, "rows": rows})
        self.bands, self.rows = bands, rows

    def append_and_find(self, spark: SparkSession, batch_emb: DataFrame,
                        batch_id: str, cos_min: float = 0.95,
                        max_bucket: int = EMB_MAX_BUCKET) -> DataFrame:
        """Near-dup pairs involving at least one vector of ``batch_emb``
        (batch-internal + batch-vs-index), then commit the batch's
        banded rows. Replaying a committed batch_id returns its pairs
        again without double-appending (idempotent resume): it probes
        exactly the index state it saw the first time (before_seq)."""
        new, seq, replay, stage, final = self._open_batch(
            spark, batch_id,
            lambda: banded_vector_rows(batch_emb, self.bands, self.rows))

        from .similarity import _bucket_pairs, _cosine_pre, item_norm
        new = new.withColumn("nrm", item_norm(F.col("emb")))

        # (a) batch-internal pairs: the same capped per-bucket sweep as
        # similarity.embedding_near_dups.
        intra = _bucket_pairs(new, cos_min, max_bucket)

        # (b) batch-vs-index: probe ONLY buckets the batch touches
        # (broadcast of the batch's band keys), cap the matched index
        # buckets, then equi-join — never an index scan. Norms for the
        # index side are computed on the probed sliver only.
        cands = intra
        if self._has_prior(seq):
            keys = new.select("band", "bucket").distinct()
            idx = self.index_df(spark, before_seq=seq).join(
                F.broadcast(keys), ["band", "bucket"], "left_semi")
            w = Window.partitionBy("band", "bucket").orderBy("vec_id")
            idx = (idx.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") <= max_bucket).drop("_rn")
                   .withColumn("onrm", item_norm(F.col("emb"))))
            cross = (new.alias("n").join(
                idx.alias("o"), ["band", "bucket"])
                .where((F.col("n.vec_id") != F.col("o.vec_id"))
                       & F.expr(_first_band_cond("n.bks", "o.bks")))
                .withColumn("cos_sim", F.round(_cosine_pre(
                    F.col("n.emb"), F.col("o.emb"),
                    F.col("n.nrm"), F.col("onrm")), 6))
                .where(F.col("cos_sim") >= cos_min)
                .select(F.least("n.vec_id", "o.vec_id").alias("id_a"),
                        F.greatest("n.vec_id", "o.vec_id").alias("id_b"),
                        "cos_sim"))
            cands = intra.unionByName(cross)

        return self._close_batch(cands, replay, stage, final)


class SemanticIndex(AtomicBatchIndex):
    """Incremental SemDeDup: persisted per-cluster membership + the
    shared train-once codebook, so a stream of embedding batches is
    semantically deduplicated without ever recomputing corpus-wide.

    Keep rule (arrival-order greedy — the streaming form of the public
    SemDeDup code's upper-triangular rule): a batch vector is dropped
    iff it is >= cos_min similar to ANY already-indexed vector of its
    cluster (earlier batches win, kept or dropped — exactly the
    batch rule's "earlier item wins regardless of its own verdict"),
    or to an earlier keep-order vector of its own batch
    (cos-to-centroid ASC, vec_id ASC — the batch semdedup order).
    Every batch vector is indexed (winners AND losers), so a future
    vector chained to a dropped one is still caught. Identical to
    batch semdedup whenever arrival order refines the batch keep
    order (parity-tested with planted cos-1 copies arriving after
    their originals); for families that SPAN batches in the other
    direction the representative differs by first-seen-wins — the
    same documented delta as stream_curate vs curate.

    Size k for the EVENTUAL index, not the first batch: the rule is
    k ~ expected_corpus/2500 so the mean cluster sits under
    max_cluster (4096) — with the IVF_K=8 default a large index
    cap-truncates ~every cluster probe and passes near-dups as
    sem_keep=true (observed via the lsh_cap metric, never silent, but
    a near-no-op; see semdedup's auto-k note).

    Scale shape: the codebook broadcasts; assignment is one window on
    vec_id; intra-batch verdicts reuse the task-local greedy sweep;
    the index is probed ONLY at clusters the batch touches (broadcast
    semi-join on the batch's centroid ids) with a per-cluster cap —
    never an index scan. Commits are atomic and replay-idempotent
    (before_seq), the AtomicBatchIndex contract."""

    FORMAT = 1
    SCHEMA = ("vec_id bigint, emb array<double>, centroid_id bigint, "
              "cos_c double")

    def __init__(self, root: str, cos_min: float = 0.95,
                 k: int = IVF_K, iters: int = IVF_ITERS,
                 max_cluster: int = None):
        from .similarity import SEM_MAX_CLUSTER
        super().__init__(root, {"cos_min": cos_min, "k": k,
                                "iters": iters})
        self.cos_min, self.k, self.iters = cos_min, k, iters
        self.max_cluster = max_cluster or SEM_MAX_CLUSTER
        self.codebook = CodebookIndex(f"{root}/_codebook", k=k,
                                      iters=iters)

    def _assign(self, batch_emb: DataFrame, cents: DataFrame) -> DataFrame:
        # the ONE shared assignment rule — see similarity._assign_with_cos
        from .similarity import _assign_with_cos
        base = batch_emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"))
        return _assign_with_cos(base, cents)

    def append_and_find(self, spark: SparkSession, batch_emb: DataFrame,
                        batch_id: str) -> DataFrame:
        """Verdicts (vec_id, centroid_id, cos_c, sem_keep) for the
        batch, then commit its assigned rows. Replay returns the same
        verdicts (probes the index state before its own seq)."""
        def build():
            cents = self.codebook.ensure(spark, batch_emb)
            return self._assign(batch_emb, cents)

        new, seq, replay, stage, final = self._open_batch(
            spark, batch_id, build)

        # (a) intra-batch greedy verdicts (the batch semdedup sweep) —
        # through the SAME greedy_verdicts seam semdedup uses, so the
        # batch == incremental parity holds by construction.
        from .similarity import greedy_verdicts, item_norm
        grouped = (new.groupBy("centroid_id")
                   .agg(F.array_sort(F.collect_list(F.struct(
                       F.col("cos_c").alias("c"),
                       F.col("vec_id").alias("v"),
                       F.col("emb").alias("e"),
                       item_norm(F.col("emb")).alias("nrm"))))
                       .alias("items")))
        grouped = _cap_bucket_items(grouped, self.max_cluster)
        intra = (greedy_verdicts(grouped, self.cos_min)
                 .select("vec_id", F.col("dropped").alias("_di")))

        # (b) batch-vs-index: touched clusters only, capped.
        if self._has_prior(seq):
            keys = new.select("centroid_id").distinct()
            idx = self.index_df(spark, before_seq=seq).join(
                F.broadcast(keys), ["centroid_id"], "left_semi")
            w = Window.partitionBy("centroid_id").orderBy("vec_id")
            idx = (idx.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") <= self.max_cluster).drop("_rn"))
            # Block-kernel batch-vs-index verdicts: a centroid-keyed
            # join would evaluate an interpreted cosine for every
            # (new, indexed) pair in the cluster — O(batch x cluster)
            # lambda work. Same verdict helper as greedy_verdicts;
            # join-filter semantics (parity-tested).
            from .similarity import batch_vs_index_dropped
            cross = (batch_vs_index_dropped(new, idx, self.cos_min)
                     .withColumn("_dc", F.lit(True)))
        else:
            cross = spark.createDataFrame([], "vec_id bigint, _dc boolean")

        verdicts = (new.select("vec_id", "centroid_id", "cos_c")
                    .join(intra, "vec_id", "left")
                    .join(cross, "vec_id", "left")
                    .withColumn(
                        "sem_keep",
                        ~(F.coalesce("_di", F.lit(False))
                          | F.coalesce("_dc", F.lit(False))))
                    .drop("_di", "_dc"))
        return self._close_batch(verdicts, replay, stage, final)
