"""A traced curate_incremental job, at a small size, on a local session:
the survivors pass the planted-truth check and the per-layer pair
count sees the planted near-dup families.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import os
from itertools import combinations
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]


@pytest.fixture(scope="module")
def spark():
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT),
                                                             old]))
    from document_ai_spark.session import get_spark
    from perfbench.proc import stop_session
    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("OFF")
    yield s
    stop_session(s)
    if old is None:
        os.environ.pop("PYTHONPATH", None)
    else:
        os.environ["PYTHONPATH"] = old


def test_traced_curate_reports_planted_pairs(spark, tmp_path):
    from perfbench.trace import Tracer
    from perfbench.workloads import Ctx, Curate

    wl = Curate()
    wl.n_natural, wl.n_low, wl.n_families = 60, 8, 8
    ctx = Ctx(spark, str(tmp_path), seed=3)
    wl.generate(ctx)
    wl.warm_up(ctx)
    ctx.tracer = Tracer("test", spark.sparkContext)
    with ctx.tracer.span("job"):
        traced = wl.job(ctx, "tr0")
    assert wl.check(ctx, traced) == set()

    # planted pairs with at least one member in the timed batch
    planted = sum(1 for members in wl.truth["families"].values()
                  for a, b in combinations(members, 2)
                  if a in wl.batch or b in wl.batch)
    assert planted > 0
    pairs = wl.layers(ctx, traced)["sketch_index.append_and_find.pairs"]
    assert pairs >= planted
