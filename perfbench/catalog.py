"""Metric names, units and directions; BENCHMARK.json mirrors these."""
from __future__ import annotations

# (name, unit, better, bound)
END_TO_END = [
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("job_s", "s", "lower", 0.25),
    ("bucket_p50_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

_PY = [(f"pipeline.{s}.{k}", u, "lower")
       for s in ("span_prep", "parse_spans", "fields")
       for k, u in (("py_s", "s"), ("py_in_mb", "MB"), ("py_out_mb", "MB"))]

# (name, unit, better)
PER_LAYER = [
    ("pipeline.span_prep.s", "s", "lower"),
    ("pipeline.span_prep.rows", "count", "lower"),
    ("pipeline.parse_spans.s", "s", "lower"),
    ("pipeline.parse_spans.shuffle_mb", "MB", "lower"),
    ("pipeline.parse_spans.fetch_wait_s", "s", "lower"),
    ("pipeline.parse_spans.missing_payloads", "count", "lower"),
    ("pipeline.reassemble.s", "s", "lower"),
    ("pipeline.reassemble.shuffle_mb", "MB", "lower"),
    ("pipeline.reassemble.fetch_wait_s", "s", "lower"),
    ("pipeline.reassemble.salt_k", "count", "lower"),
    ("pipeline.reassemble.task_skew", "ratio", "lower"),
    ("pipeline.patterns.s", "s", "lower"),
    ("pipeline.fields.s", "s", "lower"),
    *_PY,
    ("functions.textops.strip_us", "us", "lower"),
    ("functions.fuzzy.partial_us", "us", "lower"),
    ("functions.layout.parse_us", "us", "lower"),
    ("functions.fuzzy.full_us", "us", "lower"),
    ("functions.fuzzy.gate_hit_ratio", "ratio", "higher"),
    ("checkpoint.ingest_s", "s", "lower"),
    ("checkpoint.salt_derive_s", "s", "lower"),
    ("checkpoint.jobs_per_bucket", "count", "lower"),
    ("store.write_bucket_s", "s", "lower"),
    ("store.commit_s", "s", "lower"),
    ("store.bytes_per_doc", "B", "lower"),
    ("curation.quality_gates.s", "s", "lower"),
    ("curation.quality_gates.keep_ratio", "ratio", "higher"),
    ("curation.quality_gates.evals_per_bucket", "count", "lower"),
    ("sketch_index.append_and_find.s", "s", "lower"),
    ("sketch_index.append_and_find.jobs_per_call", "count", "lower"),
    ("sketch_index.append_and_find.pairs", "count", "higher"),
    ("sketch_index.append_and_find.index_rows", "count", "lower"),
    ("sketch_index.append_and_find.lsh_cap_dropped", "count", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.untraced_job_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.layer_share", "ratio", "higher"),
    ("mem.peak_rss_mb", "MB", "lower"),
    ("mem.jvm_heap_committed_mb", "MB", "lower"),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}
