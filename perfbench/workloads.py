"""The benchmark's workloads.

Each workload drives the engine only through its public functions and
owns five steps: ``generate`` (seeded inputs), ``warm_up`` (a cold
and a warm pass over the timed path, in set-up), ``job`` (one timed
unit of work returning per-operation latencies), ``check`` (output
checks, run outside the timed region) and ``layers`` /
``finish_layers`` (the traced run's per-layer numbers).
"""
from __future__ import annotations

import json
import math
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Set

from . import data
from .trace import EventLog, Tracer, group_totals, prefix_deltas


# Warm-up passes: the cold one pays class loading, codegen and the
# Python workers' start-up; the JIT is still compiling hard through the
# next one (on extract_text the JVM's compile time per job fell from 13
# to 7 CPU-s over the three jobs after the cold one), so the timed jobs
# start after a second pass. More passes would not fit the evaluation
# budget on a busy host.
WARM_TAGS = ("warm0", "warm1")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Optional[Tracer] = None


@dataclass
class JobResult:
    tag: str
    wall_s: float
    ops: Dict[str, float]                 # operation -> latency (s)
    handle: object = None                 # what check() inspects
    failed: Set[str] = field(default_factory=set)
    cpu_s: float = 0.0


@contextmanager
def _patched(obj, attr: str, make: Callable):
    """Temporarily replace ``obj.attr`` with ``make(original)``."""
    orig = getattr(obj, attr)
    setattr(obj, attr, make(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def _wrap(tracer: Tracer, name: str, fn: Callable) -> Callable:
    def wrapped(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    return wrapped


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith(".") and not f.startswith("_"))


def _timed_store_cls(tracer: Optional[Tracer]):
    """ManifestStore, or a subclass timing write_bucket and commit."""
    from document_ai_spark.streaming.checkpoint import ManifestStore
    if tracer is None:
        return ManifestStore

    class TimedStore(ManifestStore):
        def write_bucket(self, bucket, out_df):
            with tracer.span("store.write_bucket", bucket=bucket):
                return super().write_bucket(bucket, out_df)

        def commit(self, lineage):
            with tracer.span("store.commit", bucket=lineage.partition_id):
                super().commit(lineage)

    return TimedStore


def _checkpoint_spans(tracer: Optional[Tracer]):
    """Spans around the ingest and salt-derivation calls
    run_checkpointed makes (module attributes it resolves per call)."""
    from contextlib import ExitStack

    stack = ExitStack()
    if tracer is not None:
        import document_ai_spark.plans.pipeline as P
        import document_ai_spark.streaming.checkpoint as CK
        stack.enter_context(_patched(
            CK, "ingest_bucketed",
            lambda f: _wrap(tracer, "checkpoint.ingest", f)))
        stack.enter_context(_patched(
            P, "derive_salt_buckets",
            lambda f: _wrap(tracer, "checkpoint.salt_derive", f)))
    return stack


def _lineage_ops(store) -> Dict[str, float]:
    return {f"bucket{b}": m["latency_ms"] / 1e3
            for b, m in sorted(store.committed_buckets().items())}


def _lineage_metric(store, key: str) -> float:
    return float(sum(json.loads(m.get("metrics") or "{}").get(key, 0)
                     for m in store.committed_buckets().values()))


def _checkpoint_layers(log: EventLog, tracer: Tracer, buckets: int,
                       n_docs: int, store) -> Dict[str, float]:
    from .trace import self_time_by_name
    spans = [s for s in tracer.spans if s.attrs.get("phase") != "layers"]
    st = self_time_by_name(spans)
    write = [s.duration for s in spans if s.name == "store.write_bucket"]
    commit = [s.duration for s in spans if s.name == "store.commit"]
    job_groups = {s.name for s in spans} - {
        "checkpoint.ingest", "checkpoint.salt_derive"}
    return {
        "checkpoint.ingest_s": st.get("checkpoint.ingest", 0.0),
        "checkpoint.salt_derive_s": st.get("checkpoint.salt_derive", 0.0),
        "checkpoint.jobs_per_bucket": len(log.jobs(job_groups)) / buckets,
        "store.write_bucket_s": sorted(write)[len(write) // 2] if write
        else 0.0,
        "store.commit_s": sorted(commit)[len(commit) // 2] if commit
        else 0.0,
        "store.bytes_per_doc": _dir_bytes(store.data_dir) / max(n_docs, 1),
    }


# ---------------------------------------------------------------------------
# Extraction: run_checkpointed over a docgen corpus
# ---------------------------------------------------------------------------

class Extract:
    """``run_extract.py``'s default path over ``n_docs`` docgen docs."""

    name = "extract_text"
    n_docs = 1500
    buckets = 1
    sample = 48

    def generate(self, ctx: Ctx) -> None:
        self.docs, self.payloads = data.extract_corpus(self.n_docs, ctx.seed)
        data.write_extract_inputs(self.docs, self.payloads,
                                  os.path.join(ctx.work, "input"))

    def op_names(self) -> List[str]:
        return [f"bucket{b}" for b in range(self.buckets)]

    def warm_up(self, ctx: Ctx) -> None:
        for tag in WARM_TAGS:
            self.job(ctx, tag)

    def _inputs(self, ctx: Ctx):
        base = os.path.join(ctx.work, "input")
        return (ctx.spark.read.parquet(f"{base}/documents_interleaved.parquet"),
                ctx.spark.read.parquet(f"{base}/media_payloads.parquet"))

    def job(self, ctx: Ctx, tag: str) -> JobResult:
        from document_ai_spark.streaming.checkpoint import run_checkpointed
        docs, payloads = self._inputs(ctx)
        root = os.path.join(ctx.work, f"store-{tag}")
        store = _timed_store_cls(ctx.tracer)(root)
        t0 = time.monotonic()
        with _checkpoint_spans(ctx.tracer):
            run_checkpointed(ctx.spark, docs, payloads, root, run_id=tag,
                             buckets=self.buckets, store=store)
        wall = time.monotonic() - t0
        return JobResult(tag, wall, _lineage_ops(store), store)

    def check(self, ctx: Ctx, res: JobResult) -> Set[str]:
        """A seeded doc-id sample must match plans.oracle.golden for the
        span sequence and every field; every bucket must emit as many
        docs as it read."""
        from pyspark.sql import functions as F

        from document_ai_spark.plans import oracle as O
        store = res.handle
        failed = {f"bucket{b}" for b, m in store.committed_buckets().items()
                  if m["rows_in"] != m["rows_out"]}
        failed |= {f"bucket{b}" for b in range(self.buckets)
                   if b not in store.committed_buckets()}
        rng = random.Random(ctx.seed)
        picked = rng.sample(self.docs, min(self.sample, len(self.docs)))
        refs = {s["media_ref"] for d in picked for s in d["spans"]
                if s["kind"] == "media"}
        g_spans, g_fields = O.golden(
            picked, [p for p in self.payloads if p["media_ref"] in refs])
        want_spans = {r["doc_id"]: [tuple(s) for s in r["spans"]]
                      for r in g_spans}
        want_fields = {r["doc_id"]: r for r in g_fields}
        got = (ctx.spark.read.option("basePath", store.data_dir)
               .parquet(*[store.committed_path(b)
                          for b in store.committed_buckets()])
               .where(F.col("doc_id").isin(list(want_spans)))
               .collect())
        seen = set()
        for row in got:
            seen.add(row["doc_id"])
            spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                     for s in row["out_spans"]]
            exp = want_fields[row["doc_id"]]
            ok = spans == want_spans[row["doc_id"]] and all(
                _close(row[c], exp[c]) for c in _FIELD_COLS)
            ok = ok and (row["zones"]["header"], row["zones"]["body"],
                         row["zones"]["footer"]) == exp["zones"]
            if not ok:
                failed.add(f"bucket{row['bucket']}")
        if seen != set(want_spans):
            failed |= set(self.op_names())
        return failed

    # -- traced run ---------------------------------------------------------

    _PREFIXES = ("span_prep", "parse_spans", "reassemble", "patterns",
                 "extract")

    def layers(self, ctx: Ctx, traced: JobResult) -> Dict[str, float]:
        """Cumulative-prefix noop runs over the whole input, plus the
        single-process microbenchmark of the pure functions."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from document_ai_spark.functions import extraction as X
        from document_ai_spark.plans import pipeline as P
        docs, payloads = self._inputs(ctx)
        k = P.derive_salt_buckets(docs)

        def build(upto: str):
            if upto == "span_prep":
                return P.span_prep(docs)
            if upto == "extract":
                return P.extract(docs, payloads, salt_buckets=k)
            df = P.parse_spans(docs, payloads)
            if upto in ("reassemble", "patterns"):
                df = P.reassemble(df, k)
            if upto == "patterns":
                df = X.with_pattern_fields(df, "combined_text")
            return df

        # span_prep's output rows, counted by the noop run itself
        rows = Observation()
        times = []
        for name in self._PREFIXES:
            df = build(name)
            if name == "span_prep":
                df = df.observe(rows, F.count(F.lit(1)).alias("rows"))
            with ctx.tracer.span(f"pipeline.{name}", phase="layers") as s:
                _noop(df)
            times.append((name, s.duration))
        out = {f"pipeline.{n}.s": t for n, t in prefix_deltas(times).items()
               if n != "extract"}
        out["pipeline.fields.s"] = times[-1][1] - times[-2][1]
        out["pipeline.span_prep.rows"] = float(rows.get["rows"])
        out["pipeline.reassemble.salt_k"] = float(k)
        out.update(_microbench(self.docs, self.payloads))
        return out

    def finish_layers(self, log: EventLog, ctx: Ctx,
                      traced: JobResult) -> Dict[str, float]:
        tot = {n: group_totals(log, f"pipeline.{n}") for n in self._PREFIXES}
        out: Dict[str, float] = {}
        pairs = (("span_prep", None, "span_prep"),
                 ("parse_spans", "span_prep", "parse_spans"),
                 ("reassemble", "parse_spans", "reassemble"),
                 ("fields", "patterns", "extract"))
        for layer, prev, cur in pairs:
            for key in ("shuffle_mb", "fetch_wait_s", "py_s", "py_in_mb",
                        "py_out_mb"):
                base = tot[prev][key] if prev else 0.0
                out[f"pipeline.{layer}.{key}"] = tot[cur][key] - base
        out["pipeline.reassemble.task_skew"] = tot["reassemble"]["task_skew"]
        out["pipeline.parse_spans.missing_payloads"] = _lineage_metric(
            traced.handle, "missing_payloads")
        out.update(_checkpoint_layers(log, ctx.tracer, self.buckets,
                                      self.n_docs, traced.handle))
        return out


_FIELD_COLS = [
    "dealer_name", "dealer_conf", "dealer_method",
    "model_name", "model_conf", "model_method",
    "horse_power", "hp_conf", "hp_method",
    "asset_cost", "cost_conf", "cost_method",
    "signature_present", "signature_conf",
    "stamp_present", "stamp_conf",
    "overall_confidence",
    "dealer_valid", "dealer_matched_to",
    "model_valid", "model_matched_to",
]


def _per_call_us(fn: Callable, args: List, min_s: float = 0.2) -> float:
    """Mean microseconds per call over whole passes of ``args``."""
    if not args:
        return 0.0
    calls, t0 = 0, time.perf_counter()
    while True:
        for a in args:
            fn(*a)
        calls += len(args)
        el = time.perf_counter() - t0
        if el >= min_s:
            return el / calls * 1e6


def _microbench(docs: List[Dict], payloads: List[Dict],
                n_docs: int = 200) -> Dict[str, float]:
    """Per-call cost of the pure functions behind the Arrow UDFs, on the
    workload's own inputs, in this (single) process."""
    from document_ai_spark import constants as C
    from document_ai_spark.functions.fuzzy import (
        PartialRatioScorer,
        best_full_match,
        best_partial_match,
    )
    from document_ai_spark.functions.layout import parse_media_payload
    from document_ai_spark.functions.textops import extract_main_text
    from document_ai_spark.plans import oracle as O

    sample = docs[:n_docs]
    texts = [(s["text"],) for d in sample for s in d["spans"]
             if s["kind"] == "text"]
    by_ref = {p["media_ref"]: p for p in payloads}
    pays = [(by_ref[s["media_ref"]],) for d in sample for s in d["spans"]
            if s["kind"] == "media"]
    combined = [O.process_doc(d, by_ref)["combined_text"].upper()
                for d in sample]

    lists = ((C.DEALER_MASTER, C.FUZZY_DEALER_EXTRACT_MIN),
             (C.MODEL_MASTER, C.FUZZY_MODEL_EXTRACT_MIN))
    hits, need = 0, []
    for tu in combined:
        verb = [any(m.upper() in tu for m in masters)
                for masters, _ in lists]
        hits += sum(verb)
        if not all(verb):
            need.append((tu, verb))

    def fuzzy_row(tu, verb):
        scorer = PartialRatioScorer(tu)
        for (masters, lo), done in zip(lists, verb):
            if not done:
                best_partial_match(tu, masters, lo, scorer=scorer)

    values = [(v.upper(), C.DEALER_MASTER, C.FUZZY_DEALER_VALID_MIN)
              for v in C.DEALER_MASTER[:6]] + [
              (v.upper(), C.MODEL_MASTER, C.FUZZY_MODEL_VALID_MIN)
              for v in C.MODEL_MASTER[:6]]
    return {
        "functions.textops.strip_us": _per_call_us(extract_main_text, texts),
        "functions.layout.parse_us": _per_call_us(parse_media_payload, pays),
        "functions.fuzzy.partial_us": _per_call_us(fuzzy_row, need),
        "functions.fuzzy.full_us": _per_call_us(best_full_match, values),
        "functions.fuzzy.gate_hit_ratio": hits / (2 * len(combined)),
    }


# ---------------------------------------------------------------------------
# Curation: quality gates -> SketchIndex -> checkpointed survivors
# ---------------------------------------------------------------------------

class Curate:
    """``run_curate.py``'s default path, one incremental batch per job:
    quality_gates with the CLI defaults, then append_and_find against a
    persisted index, then the first-seen-wins survivor rule. The CLI
    defines that bucket function inside ``main()``, so ``_bucket_fn``
    restates it. Set-up runs the first half of the corpus (the history)
    through the same path; each job copies the index it left and runs
    the second half (the batch) against it, so every timed bucket
    probes a persisted index."""

    name = "curate_incremental"
    buckets = 1
    n_natural, n_low, n_families, family_size = 600, 80, 60, 3

    def op_names(self) -> List[str]:
        return [f"bucket{b}" for b in range(self.buckets)]

    def generate(self, ctx: Ctx) -> None:
        rows, self.truth = data.curate_corpus(
            self.n_natural, self.n_low, self.n_families, self.family_size,
            ctx.seed)
        half = len(rows) // 2
        self.batch = {r[0] for r in rows[half:]}
        self.n_docs = len(self.batch)
        data.write_curate_input(rows[:half],
                                os.path.join(ctx.work, "history.parquet"))
        data.write_curate_input(rows[half:],
                                os.path.join(ctx.work, "batch.parquet"))

    def warm_up(self, ctx: Ctx) -> None:
        """Build the history index (the cold pass: two buckets, so the
        second already probes a persisted index), then one timed-path
        job."""
        self._run(ctx, "history", "history.parquet", buckets=2)
        for tag in WARM_TAGS[1:]:
            self.job(ctx, tag)

    @staticmethod
    def _find(spark, idx, kept, batch_id: str):
        return idx.append_and_find(spark, kept.select("doc_id", "text"),
                                   batch_id=batch_id, jaccard_min=0.5)

    def _bucket_fn(self, ctx: Ctx, idx, run_id: str):
        from pyspark.sql import functions as F

        from document_ai_spark.operators.curation import quality_gates
        tracer, spark = ctx.tracer, ctx.spark

        def curate_bucket(sub, _payloads, bucket):
            gated = quality_gates(sub, quality_min=0.8, dup_line_max=0.3,
                                  top_bigram_max=0.2, logprob_min=None)
            kept = (sub.select("doc_id", "text", "lang", "source")
                    .join(gated, "doc_id").where("keep").drop("keep"))
            batch_id = f"{run_id}-b{bucket}"
            if tracer is None:
                pairs = self._find(spark, idx, kept, batch_id)
            else:
                with tracer.span("sketch_index.append_and_find"):
                    pairs = self._find(spark, idx, kept, batch_id)
            ids = kept.select("doc_id")
            b_a = ids.withColumnRenamed("doc_id", "doc_a")
            b_b = ids.withColumnRenamed("doc_id", "doc_b")
            both_b = (pairs.join(F.broadcast(b_a), "doc_a", "left_semi")
                      .join(F.broadcast(b_b), "doc_b", "left_semi")
                      .select(F.col("doc_b").alias("doc_id")))
            cross_a = (pairs.join(F.broadcast(b_a), "doc_a", "left_semi")
                       .join(F.broadcast(b_b), "doc_b", "left_anti")
                       .select(F.col("doc_a").alias("doc_id")))
            cross_b = (pairs.join(F.broadcast(b_b), "doc_b", "left_semi")
                       .join(F.broadcast(b_a), "doc_a", "left_anti")
                       .select(F.col("doc_b").alias("doc_id")))
            losers = (both_b.unionByName(cross_a).unionByName(cross_b)
                      .distinct())
            return kept.join(losers, "doc_id", "left_anti")

        return curate_bucket

    def job(self, ctx: Ctx, tag: str) -> JobResult:
        return self._run(ctx, tag, "batch.parquet", self.buckets)

    def _run(self, ctx: Ctx, tag: str, source: str,
             buckets: int) -> JobResult:
        from document_ai_spark.operators.sketch_index import SketchIndex
        from document_ai_spark.streaming.checkpoint import run_checkpointed
        spark = ctx.spark
        root = os.path.join(ctx.work, f"store-{tag}")
        index_dir = os.path.join(root, "_sketch_index")
        if tag != "history":
            shutil.copytree(os.path.join(ctx.work, "store-history",
                                         "_sketch_index"), index_dir)
        idx = SketchIndex(index_dir)
        store = _timed_store_cls(ctx.tracer)(root)
        docs = spark.read.parquet(os.path.join(ctx.work, source))
        t0 = time.monotonic()
        with _checkpoint_spans(ctx.tracer):
            run_checkpointed(spark, docs,
                             spark.createDataFrame([], "media_ref string"),
                             root, run_id=tag, buckets=buckets,
                             extract_fn=self._bucket_fn(ctx, idx, tag),
                             store=store)
        wall = time.monotonic() - t0
        return JobResult(tag, wall, _lineage_ops(store), store)

    def check(self, ctx: Ctx, res: JobResult) -> Set[str]:
        """The batch's survivors must equal the planted truth: every
        unplanted natural and salad doc kept, boilerplate and repetition
        gated out; of a near-dup family, no batch member kept when a
        member is in the history, else exactly one."""
        store = res.handle
        ops = set(self.op_names())
        if set(store.committed_buckets()) != set(range(self.buckets)):
            return ops
        got = {r["doc_id"] for r in
               store.read_committed(ctx.spark).select("doc_id").collect()}
        t, batch = self.truth, self.batch
        bad = [d for d in (t["natural"] | t["salad"]) & batch
               if d not in got]
        bad.extend(t["gated_out"] & got)
        for members in t["families"].values():
            mine = [m for m in members if m in batch]
            want = 1 if len(mine) == len(members) else 0
            if mine and sum(m in got for m in mine) != want:
                bad.extend(mine)
        return ops if bad else set()

    def layers(self, ctx: Ctx, traced: JobResult) -> Dict[str, float]:
        """Gate cost by the prefix method: one aggregate per bucket slice
        that evaluates every gate signal once."""
        from pyspark.sql import functions as F

        from document_ai_spark.operators.curation import quality_gates
        from document_ai_spark.operators.sketch_index import SketchIndex
        from document_ai_spark.streaming.checkpoint import bucket_slice
        root = traced.handle.root
        kept = total = 0
        with ctx.tracer.span("curation.quality_gates", phase="layers") as s:
            for b in range(self.buckets):
                sub = bucket_slice(ctx.spark, os.path.join(root, "_input"), b)
                r = (quality_gates(sub).agg(
                    F.sum(F.col("keep").cast("long")).alias("k"),
                    F.count(F.lit(1)).alias("n")).collect()[0])
                kept, total = kept + (r["k"] or 0), total + r["n"]
        # The traced job's pairs, after it: re-running a committed batch
        # id replays its pairs from the persisted index without
        # appending (the batch's rows are not read again).
        idx = SketchIndex(os.path.join(root, "_sketch_index"))
        with ctx.tracer.span("sketch_index.replay", phase="layers"):
            pairs = sum(self._find(ctx.spark, idx, ctx.spark.createDataFrame(
                [], "doc_id string, text string"), f"{traced.tag}-b{b}")
                .count() for b in range(self.buckets))
        return {
            "curation.quality_gates.s": s.duration,
            "curation.quality_gates.keep_ratio": kept / max(total, 1),
            "sketch_index.append_and_find.pairs": float(pairs),
            "sketch_index.append_and_find.index_rows": float(
                idx.index_df(ctx.spark).count()),
        }

    def finish_layers(self, log: EventLog, ctx: Ctx,
                      traced: JobResult) -> Dict[str, float]:
        from .trace import self_time_by_name
        spans = [s for s in ctx.tracer.spans
                 if s.attrs.get("phase") != "layers"]
        calls = sum(1 for s in spans
                    if s.name == "sketch_index.append_and_find")
        job_groups = {s.name for s in spans} - {
            "checkpoint.ingest", "checkpoint.salt_derive"}
        # gate evaluations: nothing is cached, so every SQL execution of
        # the traced job that scans a bucket's ingested input recomputes
        # the gate plan over it
        marker = os.path.join(traced.handle.root, "_input")
        execs = {log.job_sql.get(j) for j in log.jobs(job_groups)} - {None}
        evals = sum(1 for e in execs if marker in log.sql_plans.get(e, ""))
        afind = log.jobs(["sketch_index.append_and_find"])
        out = {
            "curation.quality_gates.evals_per_bucket": evals / self.buckets,
            "sketch_index.append_and_find.s": self_time_by_name(spans).get(
                "sketch_index.append_and_find", 0.0),
            "sketch_index.append_and_find.jobs_per_call":
                len(afind) / max(calls, 1),
            "sketch_index.append_and_find.lsh_cap_dropped": _lineage_metric(
                traced.handle, "lsh_cap_dropped"),
        }
        out.update(_checkpoint_layers(log, ctx.tracer, self.buckets,
                                      self.n_docs, traced.handle))
        return out


# The workloads, in BENCHMARK.json's order.
FACTORIES = {w.name: w for w in (Extract, Curate)}


def make(name: str):
    return FACTORIES[name]()
