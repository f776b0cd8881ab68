"""Review regressions for the similarity/IVF family: zero-norm
vectors, non-dense vec_ids, duplicate-id inputs — and the parity
contract of the cosine block kernel: every O(pairs) scorer must be
bit-identical to its pure-JVM form, kept here as the reference."""
from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, Window, functions as F

from document_ai_spark.operators import similarity as S
from document_ai_spark.operators.similarity import (
    _assign_with_cos,
    _cand_cos_exact,
    _cos_slow,
    _cosine_pre,
    batch_vs_index_dropped,
    brute_force_topk,
    embedding_near_dups,
    item_norm,
    kmeans_codebook,
    semdedup,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v])
         for i, v in rows],
        "vec_id long, embedding array<double>")


# ---------------------------------------------------------------------------
# Pure-JVM reference forms of the block-kernel scorers
# ---------------------------------------------------------------------------

def _sweep_pairs_sql(grouped, cos_min):
    """Per-bucket pair sweep as one higher-order expression: score and
    threshold inside the HOF; self-pair guard and first-collision-band
    rule in the candidate filter."""
    first_band = (
        "CASE WHEN band = 0 THEN true ELSE NOT exists("
        "  slice(zip_with(x.bks, y.bks, (a, c) -> a = c), 1, band), "
        "  t -> t) END")
    pair_expr = (
        "flatten(transform(items, (x, i) -> "
        "  filter(transform(filter(slice(items, i + 2, size(items)), "
        f"           y -> x.v != y.v AND ({first_band})), y -> "
        "     struct(x.v AS id_a, y.v AS id_b, "
        "            round(CASE WHEN x.nrm * y.nrm = 0.0D THEN 0.0D ELSE "
        "              aggregate(zip_with(x.e, y.e, (a, b) -> a * b), "
        "                        cast(0.0 as double), (acc, s) -> acc + s) "
        "              / (x.nrm * y.nrm) END, 6) AS cos_sim)), "
        f"    p -> p.cos_sim >= {float(cos_min)!r})))")
    return (grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.*"))


def _greedy_sql(grouped, cos_min):
    """SemDeDup greedy verdict: item j drops iff ANY of the j earlier
    items is >= cos_min similar; a zero denominator scores false."""
    verdicts = F.expr(
        "transform(items, (y, j) -> struct(y.v AS vec_id, "
        "  exists(slice(items, 1, j), x -> "
        "    CASE WHEN x.nrm * y.nrm = 0.0D THEN false ELSE "
        "    round(aggregate(zip_with(x.e, y.e, (a, b) -> a * b), "
        "                    cast(0.0 as double), (acc, s) -> acc + s) "
        f"          / (x.nrm * y.nrm), 6) >= {cos_min} END) AS dropped))")
    return (grouped.select(F.explode(verdicts).alias("r"))
            .select("r.vec_id", "r.dropped"))


def _assign_window(base, cents):
    """k-way broadcast cross join + row_number window argmax."""
    scored = (base.withColumn("_nrm", item_norm(F.col("emb")))
              .crossJoin(F.broadcast(
                  cents.withColumn("_cnrm", item_norm(F.col("cent")))))
              .withColumn("cos_c", F.round(_cosine_pre(
                  "emb", "cent", F.col("_nrm"), F.col("_cnrm")), 6)))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "emb", "centroid_id", "cos_c"))


def _batch_vs_index_join(new, idx, cos_min):
    """Centroid-keyed join filtered on the rounded cosine."""
    cross = (new.alias("n").withColumn("_nn", item_norm(F.col("emb")))
             .join(idx.alias("o").withColumn("_on", item_norm(F.col("emb"))),
                   ["centroid_id"])
             .where(F.round(_cosine_pre(F.col("n.emb"), F.col("o.emb"),
                                        F.col("_nn"), F.col("_on")), 6)
                    >= cos_min))
    return cross.select(F.col("n.vec_id").alias("vec_id")).distinct()


# Adversarial vectors shared by the parity tests: NaN (Spark orders NaN
# above all doubles), zero-norm (0.0 via the CASE short-circuit, even
# against a ragged partner), ragged dims and null elements (NULL
# cosines), duplicate ids (self-pair guard), round-boundary near-ties,
# and a clean sign-pattern family (20-22) whose LSH buckets and cluster
# hold no dirty vector — the fast path runs next to the slow one.
_ROWS = [
    (0, [1.0, 2.0] + [0.0] * 62), (1, [2.0, 4.0] + [0.0] * 62),
    (2, [0.0] * 64), (3, [0.0] * 64),
    (4, [float("nan")] * 64), (5, [1.0] * 64),
    (6, [1.0] * 32),                        # ragged dims
    (7, None),                              # null embedding
    (8, [1.0, None] + [1.0] * 62),          # null element
    (9, [1.0] * 64), (9, [1.0] * 64),       # duplicate id
    (10, [-1.0] * 64), (11, [-1.0] * 64),
    (12, [1.0, 0.1] + [0.0] * 62), (13, [1.0, 0.11] + [0.0] * 62),
    (20, [1.0, -1.0] * 32), (21, [1.0, -1.001] * 32),
    (22, [3.0, -3.0] * 32),
]


def _typed(df, id_type):
    """vec_id as long, or as a zero-padded string — the id type the
    SemanticIndex and streaming callers pass; padding keeps the order."""
    if id_type == "string":
        return df.withColumn(
            "vec_id", F.lpad(F.col("vec_id").cast("string"), 3, "0"))
    return df


def _with_string_ids(cos_mins):
    """(cos_min, id_type) cases: each long-id case under its plain id,
    plus a string-id twin."""
    return ([pytest.param(c, "long", id=str(c)) for c in cos_mins]
            + [pytest.param(c, "string", id=f"{c}-string")
               for c in cos_mins])


def _adversarial(spark, id_type):
    return _typed(spark.createDataFrame(
        _ROWS, "vec_id: long, embedding: array<double>"), id_type)


def _planted_codebook(spark):
    """Centroids that split _ROWS into clean clusters (the sign-pattern
    family, the negative pair, the 0/1/12/13 family) beside dirty ones
    (NULL cosines go to centroid 0; the ragged row's only non-NULL
    cosine is the 0.0 against the zero-norm centroid 3)."""
    return spark.createDataFrame(
        [(0, [1.0] * 64), (1, [1.0, -1.0] * 32), (2, [-1.0] * 64),
         (3, [0.0] * 64), (4, [1.0, 0.105] + [0.0] * 62)],
        "centroid_id long, cent array<double>")


def test_zero_norm_vectors_never_match(spark):
    """cos(0-vector, anything) = 0.0, never NaN: Spark orders NaN above
    every real number, so unguarded NaN >= cos_min was TRUE and two
    empty-doc vectors counted as near-dups (and engine parity broke —
    DuckDB orders NaN differently)."""
    rows = [(0, [0.0] * 8), (1, [0.0] * 8),
            (2, [1.0, 2.0] + [0.0] * 6), (3, [1.0, 2.0] + [0.0] * 6)]
    pairs = embedding_near_dups(_emb(spark, rows), cos_min=0.9,
                                bands=2, rows=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) not in got               # zero pair must NOT match
    assert (2, 3) in got                   # identical real pair must
    # brute force: zero probe scores 0.0 against everything, never NaN
    bf = brute_force_topk(_emb(spark, rows), probe_ids=[0], k=3).collect()
    assert bf and all(r["cos_sim"] == 0.0 for r in bf)


def test_semdedup_zero_vectors_kept_not_nan_dropped(spark):
    """A zero vector inside a cluster must not drop (or be dropped by)
    anything via NaN comparisons."""
    rows = [(i, [float(i + 1), 1.0, 0.0, 0.0]) for i in range(6)]
    rows += [(10, [0.0] * 4), (11, [0.0] * 4)]
    out = {r["vec_id"]: r["sem_keep"]
           for r in semdedup(_emb(spark, rows), cos_min=0.99,
                             k=2).collect()}
    assert out[10] and out[11]             # zero vectors match nothing


def test_kmeans_codebook_offset_ids(spark):
    """Non-dense / offset vec_ids (the planted-copy convention uses
    base+1000000) must still train k centroids: the old `vec_id < k`
    init silently produced an EMPTY codebook and semdedup returned an
    empty frame."""
    rows = [(1_000_000 + i,
             [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
            for i in range(40)]
    cents = kmeans_codebook(_emb(spark, rows), k=4).collect()
    assert len(cents) == 4
    out = semdedup(_emb(spark, rows), cos_min=0.999, k=4).collect()
    assert len(out) == 40                  # every vector gets a verdict


def test_kmeans_codebook_all_odd_ids_trains(spark):
    """vec_id % 2 == 0 over all-odd ids is an EMPTY training sample;
    the fallback must train on the full input instead of silently
    keeping the raw init vectors."""
    rows = [(2 * i + 1,
             [float((i * 5 + j) % 7 - 3) for j in range(8)])
            for i in range(30)]
    df = _emb(spark, rows)
    cents = {r["centroid_id"]: r["cent"]
             for r in kmeans_codebook(df, k=3, iters=1).collect()}
    assert len(cents) == 3
    init = {r["vec_id"]: [float(v) for v in r["embedding"]]
            for r in df.orderBy("vec_id").limit(3).collect()}
    # at least one centroid moved off its raw init vector
    assert any(cents[i] != init[i] for i in init)


def test_embedding_near_dups_duplicate_id_no_self_pair(spark):
    rows = [(5, [1.0, 2.0, 3.0, 4.0] * 2), (5, [1.0, 2.0, 3.0, 4.0] * 2)]
    pairs = embedding_near_dups(_emb(spark, rows), cos_min=0.5,
                                bands=2, rows=4).collect()
    assert pairs == []


def test_embedding_index_duplicate_id_no_self_pair(spark, tmp_path):
    """The incremental index runs the same sweep: a batch holding one
    vec_id twice yields no (id, id) pair."""
    from document_ai_spark.operators.vector_index import EmbeddingIndex

    rows = [(5, [1.0, 2.0, 3.0, 4.0] * 2), (5, [1.0, 2.0, 3.0, 4.0] * 2)]
    idx = EmbeddingIndex(str(tmp_path / "emb_idx"), bands=2, rows=4)
    pairs = idx.append_and_find(spark, _emb(spark, rows), batch_id="b0",
                                cos_min=0.5).collect()
    assert pairs == []


@pytest.mark.parametrize("cos_min, id_type",
                         _with_string_ids([0.999, 0.5, 0.0, -0.5]))
def test_sweep_arrow_matches_sql(spark, monkeypatch, cos_min, id_type):
    """The block-kernel pair sweep must be bit-identical to the pure-JVM
    HOF sweep on every adversarial input class — NaN vectors (NaN
    cosines survive the filter in BOTH forms), zero-norm vectors
    (scored 0.0 via the CASE short-circuit, even against a ragged
    partner), ragged dimensions and null elements (NULL cosine ->
    dropped), and duplicate ids (self-pair guard)."""
    df = _adversarial(spark, id_type)

    def pairs():
        return sorted((r.id_a, r.id_b, str(r.cos_sim)) for r in
                      embedding_near_dups(df, cos_min=cos_min).collect())

    arrow_rows = pairs()
    monkeypatch.setattr(S, "_sweep_pairs", _sweep_pairs_sql)
    sql_rows = pairs()
    assert sql_rows == arrow_rows
    assert sql_rows                         # non-degenerate fixture


@pytest.fixture(scope="module")
def codebooks(spark):
    """(trained k=3, planted) codebooks for _ROWS, per id type, trained
    once per module. Trained: the NaN vector poisons a centroid and
    every vector lands in one dirty cluster; planted: clean clusters
    beside dirty ones."""
    cache = {}

    def get(id_type):
        if id_type not in cache:
            cache[id_type] = (kmeans_codebook(_adversarial(spark, id_type), 3),
                              _planted_codebook(spark))
        return cache[id_type]
    return get


@pytest.mark.parametrize("cos_min, id_type",
                         _with_string_ids([0.95, 0.5, 0.999]))
def test_semdedup_sweep_arrow_matches_sql(spark, monkeypatch, codebooks,
                                          cos_min, id_type):
    """greedy_verdicts parity: the block-kernel greedy sweep must agree
    with the pure-JVM greedy expression on every verdict, including NaN
    vectors (drop — Spark orders NaN above all doubles), zero-norm
    vectors (keep — the CASE scores them false), ragged/null vectors
    (NULL cosine -> keep post-coalesce), duplicate ids, and
    near-threshold cosines (the ambiguous band resolves via a JVM
    round, never a Python one)."""
    df = _adversarial(spark, id_type)

    def verdicts(cents):
        d = {}
        for r in semdedup(df, cos_min=cos_min, codebook=cents).collect():
            d.setdefault(r.vec_id, []).append(
                (r.centroid_id, str(r.cos_c), r.sem_keep))
        return {k: sorted(v) for k, v in d.items()}

    for cents in codebooks(id_type):
        b = verdicts(cents)
        with monkeypatch.context() as m:
            m.setattr(S, "greedy_verdicts", _greedy_sql)
            a = verdicts(cents)
        assert a == b


def test_assign_arrow_matches_window(spark):
    """_assign_with_cos parity: the block-kernel argmax must equal the
    k-way window form on every edge — NaN vectors (NaN cosines win,
    Spark orders NaN above all), zero-norm vectors and zero-norm
    CENTROIDS (0.0 via the CASE short-circuit, even against ragged rows
    — the dot is never evaluated), ragged dims and null elements (NULL
    cosines -> lowest centroid_id), and round-boundary near-ties
    (resolved by the JVM round, never a Python one). Long and string
    ids; the trained codebook (one NaN-poisoned centroid) and the
    planted one (clean and dirty clusters, a zero-norm centroid)."""
    for id_type in ("long", "string"):
        df = _adversarial(spark, id_type)
        base = df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        for cents in (kmeans_codebook(df, 4), _planted_codebook(spark)):
            a = sorted((r.vec_id, r.centroid_id, str(r.cos_c))
                       for r in _assign_window(base, cents).collect())
            b = sorted((r.vec_id, r.centroid_id, str(r.cos_c))
                       for r in _assign_with_cos(base, cents).collect())
            assert a == b and a


@pytest.mark.parametrize("cos_min, id_type",
                         _with_string_ids([0.95, 0.5, 0.0, -0.5]))
def test_batch_vs_index_arrow_matches_sql(spark, cos_min, id_type):
    """batch_vs_index_dropped parity: the rectangular block kernel must
    reproduce the centroid-keyed join filter's semantics exactly —
    NULL cosines keep, NaN drops, zero-norm pairs score 0.0 (dropping
    only at cos_min <= 0), ragged/null vectors route through the
    Python mirror while centroid 2's clean blocks take the kernel."""
    new_rows = [
        (0, 0, [1.0, 2.0] + [0.0] * 62), (1, 0, [0.0] * 64),
        (2, 1, [float("nan")] * 64), (3, 1, [1.0] * 64),
        (4, 0, [1.0] * 32),
        (5, 1, None), (6, 0, [1.0, None] + [1.0] * 62),
        (7, 1, [1.0, 0.1] + [0.0] * 62),
        (8, 2, [1.0, -1.0] * 32), (9, 2, [1.0, 1.0] * 32),
    ]
    idx_rows = [
        (0, [2.0, 4.0] + [0.0] * 62), (0, [0.0] * 64),
        (1, [1.0] * 64), (1, [-1.0] * 64),
        (0, [1.0] * 32), (1, [1.0, 0.11] + [0.0] * 62),
        (0, None),
        (2, [1.0, -1.001] * 32),
    ]
    new = _typed(spark.createDataFrame(
        new_rows, "vec_id long, centroid_id long, emb array<double>"),
        id_type)
    idx = spark.createDataFrame(
        idx_rows, "centroid_id long, emb array<double>")
    a = sorted(r.vec_id for r in _batch_vs_index_join(
        new, idx, cos_min).collect())
    b = sorted(r.vec_id for r in batch_vs_index_dropped(
        new, idx, cos_min).collect())
    assert a == b and a


# ---------------------------------------------------------------------------
# Spark-free property: the block kernel equals its Python mirror
# ---------------------------------------------------------------------------

_VALS = st.sampled_from([0.0, 1.0, -1.0, 0.5, -2.0, 3.0, 0.1, 0.7, 1e-3,
                         float("nan")])
_NUDGE = st.sampled_from([0.0, 1e-12, -1e-12, 1e-7, -1e-7, 5e-7, -5e-7,
                          1e-6, -1e-6])


def _fold_norms(rows):
    out = []
    for r in rows:
        acc = 0.0
        for v in r:
            acc = acc + v * v
        out.append(math.sqrt(acc))
    return np.array(out)


@st.composite
def _blocks(draw):
    """Small X / Y blocks drawn from a row pool (duplicate rows), with
    NaN and zero rows, plus a floor — scalar or per-row — placed within
    1e-6 of a real cosine of the block."""
    d = draw(st.integers(0, 4))
    pool = draw(st.lists(st.lists(_VALS, min_size=d, max_size=d),
                         min_size=1, max_size=4))
    pool.append([0.0] * d)
    rows = st.lists(st.sampled_from(pool), min_size=1, max_size=5)
    X = draw(rows)
    square = draw(st.booleans())
    Y = X if square else draw(rows)
    nx, ny = _fold_norms(X), _fold_norms(Y)
    _, _, cos = _cos_slow(X, Y, nx, ny, -np.inf)
    real = [c for c in cos if c == c] or [0.0]
    per_row = draw(st.booleans())
    floor = [draw(st.sampled_from(real)) + draw(_NUDGE)
             for _ in range(len(X) if per_row else 1)]
    floor = np.array(floor) if per_row else floor[0]
    mask = np.triu(np.ones((len(X), len(Y)), dtype=bool), 1) \
        if square else None
    return X, Y, nx, ny, floor, mask


def _bits(c):
    return "nan" if c != c else struct.pack("<d", c)


@settings(max_examples=400, deadline=None)
@given(_blocks())
def test_block_kernel_matches_python_mirror(block):
    """Same (i, j) set and bit-equal cosines (NaN where NaN), square
    upper-triangle and rectangular shapes alike."""
    X, Y, nx, ny, floor, mask = block
    d = len(X[0])
    ki, kj, kc = _cand_cos_exact(
        np.array(X, dtype=float).reshape(len(X), d),
        np.array(Y, dtype=float).reshape(len(Y), d), nx, ny, floor, mask)
    si, sj, sc = _cos_slow(X, Y, nx, ny, floor, mask)
    kernel = {(int(i), int(j)): _bits(c) for i, j, c in zip(ki, kj, kc)}
    mirror = {(int(i), int(j)): _bits(c) for i, j, c in zip(si, sj, sc)}
    assert kernel == mirror
