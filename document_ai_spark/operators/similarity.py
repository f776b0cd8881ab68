"""Similarity search over an embedding column (array<float>).

Two paths, mirroring how a real 100 TB pipeline tiers ANN:
  * brute-force cosine top-k for a SMALL probe set: probe vectors are
    broadcast, the corpus streams once, per-probe top-k via window —
    O(corpus x probes) but a single scan, no shuffle of the corpus.
  * sign-LSH bucketed variant: bucket = sign-bit pattern of hyperplane
    dimensions. Probes only compare against their own bucket — the scale
    path where the corpus side is hash-partitioned by bucket and never
    fully scanned per query.

Near-duplicate detection uses BANDED multi-probe sign-LSH (bands x rows
sign bits over disjoint dimension slices): a pair collides if it agrees
on ANY band, buckets are capped (observed drop metric, never silent), and
pair expansion only ever happens inside a (band, bucket) group — no
unbounded self-join at 10^12 vectors.

IVF uses a trained codebook: deterministic seeded Lloyd iterations
(init = first-k, few iterations, id-sampled training set) entirely as
DataFrame ops — no driver collect of the corpus; the k-row codebook is
the only thing shipped to the tasks.

One cosine definition: `_cosine_pre`, dot / (na * nb) over
zip_with + aggregate with a zero-denominator guard (0.0), NULL for
ragged or NULL-element vectors. Probe-side top-k scoring evaluates it
in the JVM. The four O(pairs) scorers — the near-dup pair sweep, the
SemDeDup greedy sweep, the argmax centroid assignment and the
batch-vs-index leg — hand whole Arrow blocks to ONE NumPy kernel
(`_cand_cos_exact`: BLAS prefilter, bit-exact left-fold recheck) and
ONE Python mirror for dirty blocks (`_cos_slow`). Rounding,
thresholding and argmax ordering stay in the JVM, so results are
bit-identical to the pure-JVM forms (kept as the parity reference in
tests/test_similarity_edges.py).
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from ..session import fan_out
from .dedup import _cap_bucket_items


def item_norm(emb_col):
    """Per-item L2 norm, sqrt(aggregate(acc + v*v)) — computed once per
    ITEM and carried beside the vector (field/column ``nrm``), so every
    O(pairs) scorer pays one fold per pair instead of three. NULL for a
    NULL vector or one holding a NULL element."""
    return F.sqrt(F.aggregate(emb_col, F.lit(0.0),
                              lambda acc, v: acc + v * v))


def _cosine_pre(a, b, na, nb):
    """Cosine of two array<double> columns given their item_norm norms,
    with a ZERO-NORM GUARD: a zero embedding (an empty document's
    vector) makes the denominator 0 and the raw division yields NaN —
    and Spark orders NaN ABOVE every real number, so an unguarded
    NaN >= cos_min is TRUE and two garbage vectors would count as
    near-dups (DuckDB's NaN ordering differs, so parity would also
    break on such inputs). cos = 0.0 when na * nb == 0: zero vectors
    match nothing — malformed upstream, exact dedup owns byte-identical
    empties."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)
    return F.when(na * nb == 0.0, F.lit(0.0)).otherwise(dot / (na * nb))


# ---------------------------------------------------------------------------
# The block kernel: exact cosines of whole Arrow blocks
# ---------------------------------------------------------------------------

# Safety margin of the raw-cosine floors: JVM round(x, 6) moves x by at
# most 5e-7 (+ sub-ulp decimal->double conversion error), so no raw
# cosine below cos_min - 1e-6 can round to >= cos_min, and none at or
# above cos_min + 1e-6 can round below it. The margin only controls how
# many raw cosines cross the Python->JVM boundary; the JVM applies the
# exact round + threshold.
_SWEEP_MARGIN = 1e-6


def _cand_cos_exact(X, Y, nx, ny, floor, mask=None):
    """(i, j, cos) for every pair of rows X[i], Y[j] allowed by ``mask``
    whose EXACT cosine is NaN or >= ``floor`` — a scalar, a per-row (X)
    array, or a function of the prefilter block returning either (the
    argmax floor). ``nx``/``ny`` are the item_norm norms.

    A BLAS gram block X @ Y.T finds candidates with 1e-9 slack, then
    the exact left-fold dot product is recomputed for candidates only.
    Soundness of the slack: |fl_blas(dot) - fl_fold(dot)| <=
    2*d*u*sum|x_k y_k| <= 2*d*u*(nx*ny) (Cauchy-Schwarz), i.e. the BLAS
    cosine is within ~1.4e-14 of the fold cosine at d = 64 — 5 orders
    under the slack — and non-finite BLAS entries are always
    candidates. The returned cosines are the bit-exact fold (one
    rounded multiply + one rounded add per dimension, ascending —
    identical to aggregate(zip_with(...))) divided by nx * ny, and a
    zero denominator scores exactly 0.0 (the `_cosine_pre` guard).

    Why BLAS at all: the fold over every pair costs d passes over an
    n x n block — ~25 GB of memory traffic for a 4096-item cluster —
    while dgemm is cache-blocked; the exact fold is then paid only for
    the (rare) candidate pairs."""
    den = nx[:, None] * ny[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        C = X @ Y.T
        C /= den
        np.copyto(C, 0.0, where=(den == 0.0))
        fl = np.asarray(floor(C) if callable(floor) else floor, dtype=float)
        fc = fl[:, None] if fl.ndim else fl     # per-row floors by row
        cand = ~np.isfinite(C) | (C >= fc - 1e-9)
        if mask is not None:
            cand &= mask
        ii, jj = np.nonzero(cand)
        if not len(ii):         # the common case: skip the d-step fold
            return ii, jj, np.zeros(0)
        acc = np.zeros(len(ii))
        for k in range(X.shape[1]):
            acc += X[ii, k] * Y[jj, k]      # exact left fold
        dend = den[ii, jj]
        cos = np.where(dend == 0.0, 0.0, acc / dend)
    keep = np.isnan(cos) | (cos >= (fl[ii] if fl.ndim else fl))
    return ii[keep], jj[keep], cos[keep]


def _cos_slow(xs, ys, nx, ny, floor, mask=None):
    """`_cand_cos_exact`'s contract over Python lists that may be NULL,
    hold NULL elements or be ragged — the ONE mirror of the JVM
    cosine's evaluation order (`_cosine_pre` over zip_with's NULL
    padding):
      1. a NULL list or element makes its norm NULL -> cosine NULL;
      2. a REAL zero denominator short-circuits to 0.0 (the CASE), even
         against a ragged partner — the dot is never evaluated;
      3. a ragged pair pads with NULL -> dot and cosine NULL;
      4. otherwise the left-fold dot / (nx * ny).
    NULL cosines are always returned (as None, for the JVM to order or
    drop); a callable floor sees them as -inf."""
    def cos(a, b, den):
        if a is None or b is None or None in a or None in b:
            return None
        if den == 0.0:
            return 0.0
        if len(a) != len(b):
            return None
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc / den

    C = np.full((len(xs), len(ys)), -np.inf)
    got = {}
    for i, a in enumerate(xs):
        for j, b in enumerate(ys):
            if mask is None or mask[i, j]:
                got[i, j] = c = cos(a, b, float(nx[i] * ny[j]))
                if c is not None:
                    C[i, j] = c
    fl = np.broadcast_to(np.asarray(
        floor(C) if callable(floor) else floor, dtype=float), (len(xs),))
    out = [(i, j, c) for (i, j), c in got.items()
           if c is None or c != c or c >= fl[i]]
    return (np.array([o[0] for o in out], dtype=np.int64),
            np.array([o[1] for o in out], dtype=np.int64),
            [o[2] for o in out])


class _Vecs:
    """A list<double> Arrow array unpacked once per batch. ``block(i0,
    i1)`` is rows [i0, i1) as a dense (n, d) float64 view, or None —
    "dirty" — when a row is NULL, holds a NULL element, or the rows'
    dimensions differ: exactly the rows whose JVM cosines can meet
    zip_with's NULL padding. ``rows`` gives the lists `_cos_slow`
    needs."""

    def __init__(self, arr):
        self.arr = arr
        self.offs = arr.offsets.to_numpy()
        self.dims = np.diff(self.offs)
        vals = arr.values
        self.vals = vals.to_numpy(zero_copy_only=False)
        self.bad = arr.is_null().to_numpy(zero_copy_only=False)
        if vals.null_count:
            nn = np.concatenate(([0], np.cumsum(
                vals.is_null().to_numpy(zero_copy_only=False))))
            self.bad = self.bad | (nn[self.offs[1:]] > nn[self.offs[:-1]])

    def block(self, i0, i1):
        dims = self.dims[i0:i1]
        if self.bad[i0:i1].any() or dims.min() != dims.max():
            return None
        return self.vals[self.offs[i0]:self.offs[i1]].reshape(
            i1 - i0, int(dims[0]))

    def rows(self, i0, i1):
        return [self.arr[k].as_py() for k in range(i0, i1)]


def _block_pairs(xv, x0, x1, yv, y0, y1, nx, ny, floor, mask=None):
    """Candidate pairs of items [x0, x1) x [y0, y1) (indices relative to
    x0 / y0): the block kernel when both sides are clean blocks of one
    dimension, the Python mirror otherwise."""
    X = xv.block(x0, x1)
    Y = X if (yv, y0, y1) == (xv, x0, x1) else yv.block(y0, y1)
    if X is not None and Y is not None and X.shape[1] == Y.shape[1]:
        return _cand_cos_exact(X, Y, nx, ny, floor, mask)
    return _cos_slow(xv.rows(x0, x1), yv.rows(y0, y1), nx, ny, floor, mask)


def _unpack(items):
    """(offsets, struct, vectors, norms) of a list<struct<..., e, nrm>>
    Arrow column: row r's items are struct[offs[r]:offs[r + 1]]."""
    st = items.values
    return (items.offsets.to_numpy(), st, _Vecs(st.field("e")),
            st.field("nrm").to_numpy(zero_copy_only=False))


def brute_force_topk(emb: DataFrame, probe_ids, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors per probe id.
    Returns (probe_id, vec_id, cos_sim, rank) — ties broken by vec_id."""
    base = fan_out(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))) \
        .withColumn("nrm", item_norm(F.col("emb")))
    probes = base.where(F.col("vec_id").isin(list(probe_ids))).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("probe_emb"),
        F.col("nrm").alias("probe_nrm"))
    scored = (
        base.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", F.round(_cosine_pre(
            "emb", "probe_emb", F.col("nrm"), F.col("probe_nrm")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


# Top-k search wants recall (narrow bands, many of them); near-dup dedup
# wants tight buckets (cos>=0.95 pairs share long sign runs). Measured at
# sf0.01 vs brute force: 16x4 -> 0.90 recall@5, 4x8 -> 0.08 — but 4x8
# finds 100% of planted near-dups. (bands, rows) is the standard
# LSH recall/cost dial; tune rows up as corpus density grows.
LSH_TOPK_BANDS = 16
LSH_TOPK_ROWS = 4


def lsh_topk(emb: DataFrame, probe_ids, k: int = 5,
             bands: int = None, rows: int = None) -> DataFrame:
    """Approximate top-k via banded multi-probe sign-LSH: a candidate is
    any vector sharing ANY band bucket with the probe (union over bands,
    de-duplicated before scoring). Multi-band probing is the difference
    between 2% and 90% measured recall — a single wide bucket demands
    agreement on every hyperplane at once, while bands only need one
    narrow agreement. Same output shape as brute_force_topk; recall < 1
    by design.

    Input contract: the embedding dimension must cover bands*rows sign
    bits — an out-of-range element_at reads NULL, degrading every
    overflowing band to ONE bucket (a hidden full scan per probe)."""
    bands = bands if bands is not None else LSH_TOPK_BANDS
    rows = rows if rows is not None else LSH_TOPK_ROWS
    base = fan_out(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))) \
        .withColumn("nrm", item_norm(F.col("emb")))
    band_keys = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 _band_bucket(F.col("emb"), band, rows).alias("bucket"))
        for band in range(bands)])
    banded = (base.select("vec_id", "emb", "nrm",
                          F.explode(band_keys).alias("bk"))
              .select("vec_id", "emb", "nrm", "bk.band", "bk.bucket"))
    probes = banded.where(F.col("vec_id").isin(list(probe_ids))).select(
        F.col("vec_id").alias("probe_id"), "band", "bucket",
        F.col("emb").alias("probe_emb"), F.col("nrm").alias("probe_nrm"))
    # Score BEFORE the cross-band dedup: the groupBy then exchanges one
    # 8-byte double per surviving (probe, candidate) row instead of two
    # full embeddings (~1 KB at 64 dims) — the same drop-the-payload
    # discipline the near-dup path's first-band trick applies; identical
    # output (a multi-band pair's cos is the same in every band).
    scored = (
        banded.join(F.broadcast(probes), ["band", "bucket"])
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", F.round(_cosine_pre(
            "emb", "probe_emb", F.col("nrm"), F.col("probe_nrm")), 6))
        .groupBy("probe_id", "vec_id")          # dedup across bands
        .agg(F.first("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# IVF with a trained codebook
# ---------------------------------------------------------------------------

IVF_K = 8
IVF_ITERS = 2
IVF_SAMPLE_MOD = 2   # train on vec_id % MOD == 0 (deterministic sample)


def _argmax_floor(C):
    """Per-row floor of the argmax candidates: every centroid within
    2e-6 of the row's best prefilter score — the 1e-6 rounding quantum
    the JVM argmax compares at, doubled to cover the ~1.4e-14
    BLAS-vs-fold error. A NaN cosine beats every double in Spark's DESC
    order, so a row holding one keeps only its NaNs (and NULLs)."""
    return np.where(np.isnan(C), np.inf, C).max(axis=1) - 2e-6


def _assign_with_cos(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Argmax-cosine centroid per (vec_id, emb) row, KEEPING the winning
    cos_c; ties to the lowest centroid_id. The ONE assignment rule
    shared by Lloyd training, ivf_topk, semdedup and the incremental
    SemanticIndex (a tie-break or rounding change lands once,
    preserving their batch == incremental parity contract).

    The codebook is collected to the driver (k rows — control-plane
    sized, like the convergence scalars) and shipped in the task
    closure. Per Arrow batch the block kernel scores every (vector,
    centroid) pair and emits, per vector, every centroid within 2e-6 of
    its best score (`_argmax_floor`) with its EXACT cosine; the JVM
    resolves `round(cos, 6) DESC, centroid_id ASC` over the ~1.05
    candidates/row. That is the k-way cross join + row_number window,
    bit-equal, with each embedding crossing the exchange ~once instead
    of k times. Dirty rows (NULL / NULL-element / wrong-dimension
    vectors) get NULL cosines from the Python mirror — except that a
    real zero denominator scores 0.0 — and NULLs sort last, exactly as
    in the window."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    crows = cents.select("centroid_id", "cent",
                         item_norm(F.col("cent")).alias("nrm")).collect()
    cvecs = [r["cent"] for r in crows]
    cids = [r["centroid_id"] for r in crows]
    cn = np.array([np.nan if r["nrm"] is None else r["nrm"] for r in crows])
    out_schema = StructType([
        StructField("vec_id", base.schema["vec_id"].dataType),
        StructField("emb", base.schema["emb"].dataType),
        StructField("centroid_id", cents.schema["centroid_id"].dataType),
        StructField("cos_raw", DoubleType())])

    def assign(batches):
        if not cids:
            return
        cv = _Vecs(pa.array(cvecs, type=pa.list_(pa.float64())))
        cid = pa.array(cids)
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            ii, jj, cos = _block_pairs(
                _Vecs(batch.column("emb")), 0, m, cv, 0, len(cids),
                batch.column("nrm").to_numpy(zero_copy_only=False), cn,
                _argmax_floor)
            rows = pa.array(ii)
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id").take(rows),
                 batch.column("emb").take(rows), cid.take(pa.array(jj)),
                 pa.array(cos, type=pa.float64())],
                names=["vec_id", "emb", "centroid_id", "cos_raw"])

    cand = (base.select("vec_id", "emb", item_norm(F.col("emb")).alias("nrm"))
            .mapInArrow(assign, out_schema))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("centroid_id"))
    return (cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "emb", "centroid_id",
                    F.round("cos_raw", 6).alias("cos_c")))


def kmeans_codebook(emb: DataFrame, k: int = IVF_K, iters: int = IVF_ITERS,
                    sample_mod: int = IVF_SAMPLE_MOD) -> DataFrame:
    """Deterministic seeded Lloyd training, pure DataFrame ops.

    init = the k lowest-vec_id vectors (TakeOrdered by vec_id — ANY
    orderable id type works; the old `vec_id < k` arithmetic silently
    trained an undersized or empty codebook on offset/string ids,
    review finding); each iteration assigns a sampled training set
    (vec_id % sample_mod == 0 — at 10^12 vectors the sample, not the
    corpus, pays the extra passes; INTEGER-id contract — when the
    modulo sample comes back EMPTY, e.g. all-odd ids, training falls
    back to the full input instead of silently keeping the raw init
    vectors) to its argmax-cosine centroid and recomputes centroids as
    the elementwise mean (posexplode -> groupBy(centroid, pos) avg ->
    re-assemble). Components are rounded to 6 decimals per iteration so
    the codebook is bit-stable across partition orderings and engines
    (distributed float summation is not associative). Empty clusters
    keep their previous centroid.

    Returns a k-row DataFrame (centroid_id, cent: array<double>).
    """
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    # Iterative-lineage discipline: without materialization, iteration i's
    # lazy plan CONTAINS iterations 0..i-1, so the training set is scanned
    # O(iters^2) times and the plan tree grows per round. persist() pins
    # the sampled training frame (the only re-read input) and the k-row
    # codebook is eagerly localCheckpoint()ed each round — executor-side,
    # no driver collect — truncating the lineage to a constant.
    train = base.where(F.col("vec_id") % sample_mod == 0).persist()
    if sample_mod > 1 and train.isEmpty():
        train.unpersist()
        train = base.persist()
    cents = base.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cent"))
    try:
        for _ in range(iters):
            assigned = _assign_with_cos(train, cents).drop("cos_c")
            means = (
                assigned.select("centroid_id",
                                F.posexplode("emb").alias("pos", "v"))
                .groupBy("centroid_id", "pos")
                .agg(F.round(F.avg("v"), 6).alias("av"))
                .groupBy("centroid_id")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "av"))),
                    lambda s: s.getField("av")).alias("new_cent"))
            )
            cents = (cents.join(means, "centroid_id", "left")
                     .select("centroid_id",
                             F.coalesce("new_cent", "cent").alias("cent"))
                     .localCheckpoint())
    finally:
        train.unpersist()
    return cents


IVF_NPROBE = 2


def ivf_topk(emb: DataFrame, probe_ids, k: int = 5,
             n_clusters: int = IVF_K, nprobe: int = IVF_NPROBE,
             codebook: DataFrame = None) -> DataFrame:
    """Approximate top-k with IVF: each probe searches its `nprobe`
    closest clusters — at 10^12 vectors the corpus is hash-partitioned by
    centroid_id and a query touches nprobe/K of it. nprobe is the
    standard IVF recall/latency dial (nprobe=1 misses every neighbor
    whose top-1 cluster differs from the probe's).

    ``codebook``: a pretrained (centroid_id, cent) DataFrame — e.g. from
    vector_index.CodebookIndex — so repeated queries and incremental
    batches skip Lloyd retraining; None trains in-line (the codebook is
    deterministic and 6-decimal-rounded, so both paths give identical
    results — parity-tested)."""
    cents = codebook if codebook is not None \
        else kmeans_codebook(emb, n_clusters)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    assigned = _assign_with_cos(base, cents).drop("cos_c")   # top-1 cluster
    probe_base = base.where(F.col("vec_id").isin(list(probe_ids)))
    probe_scored = probe_base.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c", F.round(_cosine_pre(
            "emb", "cent", item_norm(F.col("emb")),
            item_norm(F.col("cent"))), 6))
    wp = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id"))
    probes = (probe_scored.withColumn("rn", F.row_number().over(wp))
              .where(F.col("rn") <= nprobe)
              .select(F.col("vec_id").alias("probe_id"), "centroid_id",
                      F.col("emb").alias("probe_emb"),
                      item_norm(F.col("emb")).alias("probe_nrm")))
    scored = (
        assigned.withColumn("nrm", item_norm(F.col("emb")))
        .join(F.broadcast(probes), "centroid_id")
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos_sim", F.round(_cosine_pre(
            "emb", "probe_emb", F.col("nrm"), F.col("probe_nrm")), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding near-duplicates: banded multi-probe sign-LSH
# ---------------------------------------------------------------------------

EMB_LSH_BANDS = 4
EMB_LSH_ROWS = 8     # sign bits per band -> 256 buckets/band
EMB_MAX_BUCKET = 4096


def _band_bucket(e, band: int, rows: int):
    b = F.lit(0)
    for i in range(rows):
        b = b + F.when(F.element_at(e, band * rows + i + 1) >= 0,
                       F.lit(1 << i)).otherwise(F.lit(0))
    return b


def embedding_near_dups(emb: DataFrame, cos_min: float = 0.95,
                        bands: int = EMB_LSH_BANDS,
                        rows: int = EMB_LSH_ROWS,
                        max_bucket: int = EMB_MAX_BUCKET) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH.

    `bands` bands of `rows` sign bits over disjoint dimension slices: a
    candidate pair needs agreement on ANY band (multi-probe recall; a true
    near-dup with one flipped sign bit still collides on the other bands),
    while each band's bucket space (2^rows) keeps expected bucket size
    corpus/2^rows — tunable independently of recall, unlike a single wide
    bucket. Pair expansion is intra-(band, bucket) only, buckets are
    capped at `max_bucket` with an observed drop metric, and bucket items
    are vec_id-sorted so pairs come out id_a < id_b without a
    least/greatest pass. A pair colliding in several bands is emitted
    ONCE — at its FIRST colliding band, decided locally from the bucket
    vector each item carries — so no pair-dedup shuffle exists; at scale
    that exchange (every multi-band candidate pair carrying two full
    embeddings) is the path's largest intermediate. Cap caveat: a pair
    whose first-collision band was truncated is dropped even if
    co-present later; caps engage only on adversarial buckets and the
    drop is observed."""
    base = fan_out(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")))
    bucket_vec = F.array(*[
        _band_bucket(F.col("emb"), band, rows) for band in range(bands)])
    band_keys = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 F.element_at("bks", band + 1).alias("bucket"))
        for band in range(bands)])
    # Per-item L2 norm computed ONCE map-side, before the band explode.
    banded = (base.withColumn("bks", bucket_vec)
              .withColumn("nrm", item_norm(F.col("emb")))
              .select("vec_id", "emb", "bks", "nrm",
                      F.explode(band_keys).alias("bk"))
              .select("vec_id", "emb", "bks", "nrm", "bk.band", "bk.bucket"))
    return _bucket_pairs(banded, cos_min, max_bucket)


def _bucket_pairs(banded: DataFrame, cos_min: float,
                  max_bucket: int) -> DataFrame:
    """(id_a, id_b, cos_sim) near-dup pairs inside each (band, bucket)
    group of a banded (vec_id, emb, bks, nrm, band, bucket) frame —
    items vec_id-sorted and capped, each pair once, at its first
    colliding band. Shared by embedding_near_dups and the incremental
    EmbeddingIndex."""
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct(
            F.col("vec_id").alias("v"), F.col("emb").alias("e"),
            "bks", "nrm")).alias("items"))
        .where(F.size("items") > 1)
    )
    return _sweep_pairs(_cap_bucket_items(grouped, max_bucket), cos_min)


def _sweep_pairs(grouped: DataFrame, cos_min: float) -> DataFrame:
    """Pairs of every capped `items: array<struct<v, e, bks, nrm>>`
    group scoring round(cos, 6) >= cos_min. Candidates: the upper
    triangle of the vec_id-sorted items, minus duplicate-id self-pairs,
    minus pairs that already collide in an earlier band (`bks` — the
    shuffle-free multi-band dedup). The block kernel pre-filters at
    cos_min - 1e-6 and passes NaN cosines (Spark orders NaN above
    every double, so they survive the filter) and NULL ones (dirty
    pairs, which the filter drops); the JVM applies the exact round +
    threshold on the survivors."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    thr = float(cos_min) - _SWEEP_MARGIN
    # id type is generic (long ids in the registry, string ids in the
    # index/streaming callers) — carry the input's own vec_id type.
    id_type = grouped.schema["items"].dataType.elementType["v"].dataType
    out_schema = StructType([
        StructField("id_a", id_type), StructField("id_b", id_type),
        StructField("cos_raw", DoubleType())])

    def sweep(batches):
        for batch in batches:
            bands = batch.column("band").to_numpy(zero_copy_only=False)
            offs, st, vecs, nrm = _unpack(batch.column("items"))
            ids = st.field("v")
            idn = ids.to_numpy(zero_copy_only=False)
            bks = st.field("bks")
            bk_offs = bks.offsets.to_numpy()
            bk_vals = bks.values.to_numpy(zero_copy_only=False)
            ia, ib, cs = [], [], []
            for r in range(batch.num_rows):
                i0, i1 = offs[r], offs[r + 1]
                if i1 - i0 < 2:
                    continue
                g = idn[i0:i1]
                mask = np.triu(g[:, None] != g[None, :], 1)
                band = int(bands[r])
                if band:
                    B = bk_vals[bk_offs[i0]:bk_offs[i1]] \
                        .reshape(i1 - i0, -1)[:, :band]
                    mask &= (B[:, None, :] != B[None, :, :]).all(axis=2)
                ii, jj, cos = _block_pairs(vecs, i0, i1, vecs, i0, i1,
                                           nrm[i0:i1], nrm[i0:i1], thr,
                                           mask)
                if len(ii):
                    ia.append(ii + i0)
                    ib.append(jj + i0)
                    cs.append(pa.array(cos, type=pa.float64()))
            if ia:
                yield pa.RecordBatch.from_arrays(
                    [ids.take(pa.array(np.concatenate(ia))),
                     ids.take(pa.array(np.concatenate(ib))),
                     pa.concat_arrays(cs)],
                    names=["id_a", "id_b", "cos_raw"])

    pairs = grouped.select("band", "items").mapInArrow(sweep, out_schema)
    return (pairs.withColumn("cos_sim", F.round("cos_raw", 6))
            .where(F.col("cos_sim") >= cos_min)
            .select("id_a", "id_b", "cos_sim"))


# ---------------------------------------------------------------------------
# SemDeDup: cluster-based semantic deduplication
# ---------------------------------------------------------------------------

SEM_MAX_CLUSTER = 4096   # per-cluster item cap (observed drops, as LSH)
SEM_MEAN_CLUSTER = 2500  # auto-k target mean (sits well under the cap)


def _verdicts(n, rows, cos, hi):
    """(definite, amb) per item of an any-pair verdict over kernel
    output (``rows`` = the judged item of each pair): an item drops
    DEFINITELY when one of its cosines is NaN (Spark orders NaN above
    every double) or >= hi; otherwise its cosines below hi — all at or
    above the kernel floor — are ambiguous, left for the JVM to round.
    NULL cosines (dirty pairs) count for nothing."""
    a = pa.array(cos, type=pa.float64())
    c = a.to_numpy(zero_copy_only=False)
    ok = a.is_valid().to_numpy(zero_copy_only=False)
    dd = np.zeros(n, dtype=bool)
    dd[rows[ok & (np.isnan(c) | (c >= hi))]] = True
    amb = [[] for _ in range(n)]
    am = ok & (c < hi)
    for r, v in zip(rows[am], c[am]):
        if not dd[r]:
            amb[r].append(float(v))
    return dd, amb


def _any_pair_verdicts(df: DataFrame, new_col: str, old_col: str,
                       cos_min: float) -> DataFrame:
    """(vec_id, dropped) for every item of the `new_col` item lists:
    dropped iff some `old_col` item of the same row scores
    round(cos, 6) >= cos_min against it. With old_col == new_col it is
    SemDeDup's greedy rule: only EARLIER items count and a zero
    denominator scores false (the greedy CASE); otherwise every pair
    counts and a zero denominator scores 0.0. Items are
    struct<v?, e, nrm>.

    Round-exactness without a Python round: `_verdicts` splits the
    kernel's raw cosines (floor cos_min - 1e-6) into DEFINITE drops
    (NaN, or >= cos_min + 1e-6) and an `amb` list inside the 2e-6 band
    — empty for any real corpus — and the JVM finishes with
    `definite OR exists(amb, c -> round(c, 6) >= cos_min)`: bit-exactly
    the SQL comparison. NULL cosines keep, as the coalescing consumers
    of the SQL forms do."""
    from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                                   StructField, StructType)

    lo = float(cos_min) - _SWEEP_MARGIN
    hi = float(cos_min) + _SWEEP_MARGIN
    square = new_col == old_col
    out_schema = StructType([
        StructField("vec_id",
                    df.schema[new_col].dataType.elementType["v"].dataType),
        StructField("dropped_def", BooleanType()),
        StructField("amb", ArrayType(DoubleType()))])

    def judge(batches):
        for batch in batches:
            xo, xs, xv, xn = _unpack(batch.column(new_col))
            yo, _, yv, yn = (xo, xs, xv, xn) if square \
                else _unpack(batch.column(old_col))
            items, dd, amb = [], [], []
            for r in range(batch.num_rows):
                a0, a1, b0, b1 = xo[r], xo[r + 1], yo[r], yo[r + 1]
                if a1 == a0 or b1 == b0:
                    continue
                nx = xn[a0:a1]
                mask = np.tril(nx[:, None] * nx[None, :] != 0.0, -1) \
                    if square else None
                ii, _, cos = _block_pairs(xv, a0, a1, yv, b0, b1, nx,
                                          yn[b0:b1], lo, mask)
                d, am = _verdicts(a1 - a0, ii, cos, hi)
                items.append(np.arange(a0, a1))
                dd.append(d)
                amb.extend(am)
            if items:
                yield pa.RecordBatch.from_arrays(
                    [xs.field("v").take(pa.array(np.concatenate(items))),
                     pa.array(np.concatenate(dd), type=pa.bool_()),
                     pa.array(amb, type=pa.list_(pa.float64()))],
                    names=["vec_id", "dropped_def", "amb"])

    cols = [new_col] if square else [new_col, old_col]
    judged = df.select(*cols).mapInArrow(judge, out_schema)
    return judged.select(
        "vec_id",
        (F.col("dropped_def")
         | F.exists("amb", lambda c: F.round(c, 6) >= F.lit(cos_min)))
        .alias("dropped"))


def greedy_verdicts(grouped: DataFrame, cos_min: float) -> DataFrame:
    """(vec_id, dropped) for every item of every sorted cluster in
    ``grouped`` (the capped `items: array<struct<c, v, e, nrm>>` frame)
    under the SemDeDup greedy rule — item j is dropped iff ANY earlier
    item scores round(cos, 6) >= cos_min against it; zero-norm pairs
    never match, NaN cosines drop, NULL ones (null/ragged vectors)
    keep. One seam shared by semdedup and the incremental SemanticIndex
    so their batch == incremental parity holds by construction."""
    return _any_pair_verdicts(grouped, "items", "items", cos_min)


def batch_vs_index_dropped(new: DataFrame, idx: DataFrame,
                           cos_min: float) -> DataFrame:
    """Distinct `vec_id`s of ``new`` rows scoring round(cos, 6) >=
    cos_min against ANY ``idx`` row of the same centroid — the
    incremental SemanticIndex's batch-vs-index leg, with the semantics
    of a centroid-keyed join filtered on round(_cosine_pre(...), 6) >=
    cos_min: NULL cosines (ragged/null vectors) keep, NaN drops, a
    zero-norm pair scores 0.0 and drops only when cos_min <= 0. Both
    sides are grouped per centroid and judged by the block kernel;
    old-side order inside a cluster is irrelevant (the verdict is an
    ANY), so collect_list nondeterminism cannot change results."""
    gn = (new.groupBy("centroid_id")
          .agg(F.collect_list(F.struct(
              F.col("vec_id").alias("v"), F.col("emb").alias("e"),
              item_norm(F.col("emb")).alias("nrm"))).alias("n_items")))
    go = (idx.groupBy("centroid_id")
          .agg(F.collect_list(F.struct(
              F.col("emb").alias("e"),
              item_norm(F.col("emb")).alias("nrm"))).alias("o_items")))
    return (_any_pair_verdicts(gn.join(go, "centroid_id"),
                               "n_items", "o_items", cos_min)
            .where("dropped").select("vec_id").distinct())


def semdedup(emb: DataFrame, cos_min: float = 0.95,
             k: int = None, iters: int = IVF_ITERS,
             codebook: DataFrame = None,
             max_cluster: int = SEM_MAX_CLUSTER) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embeddings, then inside each cluster drop every vector that is
    cosine-similar (>= cos_min) to a vector EARLIER in the cluster's
    keep order. Keep order is (cos-to-centroid ASC, vec_id ASC) — the
    paper keeps the example with the LOWEST similarity to the
    centroid, and the public reference code applies exactly this
    greedy upper-triangular rule (earlier items win regardless of
    their own verdict), so no connected-components pass exists in the
    published method either.

    Output: one row per vector — (vec_id, centroid_id, cos_c,
    sem_keep). Downstream joins `WHERE sem_keep` to materialize the
    deduplicated corpus.

    Scale shape: the codebook ships to the tasks (train once via
    kmeans_codebook / vector_index.CodebookIndex, pass it in);
    assignment is the block-kernel argmax plus a vec_id window over
    ~1 candidate per vector (ONE hash exchange of (vec_id, emb)); then
    ONE exchange groups each cluster and the O(n_c^2) greedy sweep
    runs LOCALLY per cluster in the block kernel — no pair explosion
    ever shuffles, the verdict comes out of the same task that holds
    the cluster. Per-task work is bounded by `max_cluster`
    (deterministic array_sort truncation with the observed lsh_cap drop
    metric — size k so the MEAN cluster sits well under the cap,
    k ~ corpus/2500 with the 4096 default: the 10x evidence run at
    500k/k=200 measured max natural cluster 2780 with zero drops;
    k ~ corpus/5000 would put the mean itself above the cap and
    truncate most clusters). With ``k=None`` (the default) and no
    prebuilt codebook, k derives from that rule via one count() action
    at plan build — a fixed small k on a large corpus would silently
    cap-truncate ~every cluster and pass ~everything as sem_keep=true
    (the derive_salt_buckets precedent: data-sized, not guessed). That
    is the paper's own cost profile: SemDeDup is O(N^2/k) cosine work,
    paid map-side."""
    if codebook is None and k is None:
        k = max(IVF_K, emb.count() // SEM_MEAN_CLUSTER)
    cents = codebook if codebook is not None \
        else kmeans_codebook(emb, k, iters)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    # assigned feeds TWO plan branches (the cluster sweep and the
    # row-completeness join below); without materialization Catalyst
    # plans them as independent subtrees and the assignment runs twice
    # per query (measured: 2.5 s per pass at 40k x 64d — round 6). A
    # LAZY localCheckpoint computes it once and shares the partitions;
    # same lineage-truncation discipline as duplicate_clusters.
    assigned = _assign_with_cos(base, cents).localCheckpoint(eager=False)
    # array_sort on struct(c, v, e, nrm) orders lexicographically by
    # (cos_c ASC, vec_id ASC); vec_id is unique so the later fields are
    # never compared. The sorted prefix IS the keep order.
    grouped = (assigned.groupBy("centroid_id")
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col("cos_c").alias("c"),
                   F.col("vec_id").alias("v"),
                   F.col("emb").alias("e"),
                   item_norm(F.col("emb")).alias("nrm"))))
                   .alias("items")))
    grouped = _cap_bucket_items(grouped, max_cluster)
    judged = (greedy_verdicts(grouped, cos_min)
              .select("vec_id", (~F.col("dropped")).alias("_sk")))
    # Row-completeness under the cap: a truncated item vanishes from
    # `items`, so its verdict must not vanish with it — every assigned
    # vector gets a row, beyond-cap items default to KEPT (uncompared;
    # the truncation is observed via the lsh_cap metric, never silent).
    return (assigned.select("vec_id", "centroid_id", "cos_c")
            .join(judged, "vec_id", "left")
            .withColumn("sem_keep", F.coalesce("_sk", F.lit(True)))
            .drop("_sk"))
