"""Seeded input generators for the workloads.

Every generator is a pure function of its size arguments and ``seed``:
the same seed gives byte-identical inputs.
"""
from __future__ import annotations

import os
import random
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from document_ai_spark.sources.docgen import (
    gen_doc,
    interleaved_schema,
    payload_schema,
)
from document_ai_spark.sources.labeled import gen_labeled_local


def _arrow_schema(spark_schema) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(spark_schema)


# ---------------------------------------------------------------------------
# Interleaved extraction corpus (sources.docgen)
# ---------------------------------------------------------------------------

def doc_kind(doc: Dict) -> str:
    """docgen's three doc shapes: text-only, mixed (1-3 media spans) and
    media-heavy (8-64 media spans)."""
    n_media = sum(s["kind"] == "media" for s in doc["spans"])
    return "text" if n_media == 0 else "mixed" if n_media < 8 else "heavy"


# docgen's default mix
MIX = {"text": 0.90, "mixed": 0.09, "heavy": 0.01}


def extract_corpus(n_docs: int, seed: int) -> Tuple[List[Dict], List[Dict]]:
    """``n_docs`` docgen docs in exactly the default mix, taken in
    generation order. Fixed shares keep the heavy-tail work from
    swinging with the seed: at 1,000 docs a free draw holds 10 +- 3
    media-heavy docs."""
    quota = {k: round(n_docs * v) for k, v in MIX.items()}
    quota["text"] += n_docs - sum(quota.values())
    docs: List[Dict] = []
    payloads: List[Dict] = []
    i = 0
    while len(docs) < n_docs:
        d, p = gen_doc(i, seed)
        i += 1
        kind = doc_kind(d)
        if quota.get(kind, 0) > 0:
            quota[kind] -= 1
            docs.append(d)
            payloads.extend(p)
    return docs, payloads


def write_extract_inputs(docs: List[Dict], payloads: List[Dict],
                         out_dir: str) -> Tuple[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    dpath = os.path.join(out_dir, "documents_interleaved.parquet")
    ppath = os.path.join(out_dir, "media_payloads.parquet")
    pq.write_table(pa.Table.from_pylist(
        docs, schema=_arrow_schema(interleaved_schema())), dpath)
    pq.write_table(pa.Table.from_pylist(
        payloads, schema=_arrow_schema(payload_schema())), ppath)
    return dpath, ppath


# ---------------------------------------------------------------------------
# Curation corpus (sources.labeled classes + planted near-dup families)
# ---------------------------------------------------------------------------

_TAIL_WORDS = ["indeed", "again", "today", "there", "also", "too"]


def curate_corpus(n_natural: int, n_low: int, n_families: int,
                  family_size: int, seed: int) -> Tuple[List[Tuple], Dict]:
    """(rows, truth). Rows are (doc_id, text, lang, source) over the
    ``sources.labeled`` classes: ``n_natural`` natural docs and ``n_low``
    of each low-quality class. ``n_families`` natural docs become family
    roots, each with ``family_size - 1`` variants that append one distinct
    word: every member pair shares all shingles but one or two (Jaccard
    ~0.98), so banded MinHash finds every pair (P(miss) ~1e-5 per pair).
    Variants that drop a word instead sit near Jaccard 0.87, where a
    4x2-band index misses about one pair in 300: one planted family in a
    few runs would then keep two members.

    truth: natural (unplanted natural ids), salad (passes the default
    gates, unique tokens), gated_out (boilerplate + repetition ids) and
    families ({root: [member ids]})."""
    labeled = gen_labeled_local(n_per_class=n_natural, seed=seed)
    by_label: Dict[str, List[Tuple]] = {}
    for doc_id, text, lang, source, label in labeled:
        by_label.setdefault(label, []).append((doc_id, text, lang, source))
    for label in ("salad", "boilerplate", "repetition"):
        by_label[label] = by_label[label][:n_low]
    rng = random.Random(seed)
    naturals = by_label["natural"]
    roots = rng.sample(range(len(naturals)), n_families)
    families: Dict[str, List[str]] = {}
    variants: List[Tuple] = []
    for r in roots:
        doc_id, text, lang, source = naturals[r]
        members = [doc_id]
        for j in range(1, family_size):
            vid = f"{doc_id}v{j}"
            variants.append((vid, f"{text} {_TAIL_WORDS[j - 1]}", lang,
                             source))
            members.append(vid)
        families[doc_id] = members
    rows = [r for label in ("natural", "salad", "boilerplate", "repetition")
            for r in by_label[label]] + variants
    rng.shuffle(rows)
    truth = {
        "natural": {d for d, *_ in naturals} - set(families),
        "salad": {d for d, *_ in by_label["salad"]},
        "gated_out": {d for label in ("boilerplate", "repetition")
                      for d, *_ in by_label[label]},
        "families": families,
    }
    return rows, truth


def write_curate_input(rows: List[Tuple], path: str) -> str:
    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.string()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
