"""Self-tests of the benchmark's helpers.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from perfbench import run as bench
from perfbench.digest import digest
from perfbench.tracing import Span, Tracer, layer_metrics, self_times

ROOT = Path(__file__).resolve().parent.parent


def sample_frame() -> pd.DataFrame:
    return pd.DataFrame({
        "id": [3, 1, 2],
        "score": [0.1 + 0.2, float("nan"), -1e-300],
        "vec": [np.array([1.5, 2.0]), np.array([]), np.array([0.3])],
        "text": ["b", None, "ä"],
    })


DIGEST_SNIPPET = """
import sys
sys.path.insert(0, sys.argv[1])
from perfbench.test_perfbench import sample_frame
from perfbench.digest import digest
print(digest(sample_frame()), digest({"b": [1.0, None], "a": {"y": 2, "x": 0.5}}))
"""


def test_digest_identical_across_processes():
    here = f"{digest(sample_frame())} " + digest(
        {"a": {"x": 0.5, "y": 2}, "b": [1.0, None]}
    )
    outs = set()
    for hash_seed in ("1", "2"):
        env = {**os.environ, "PYTHONHASHSEED": hash_seed}
        proc = subprocess.run(
            [sys.executable, "-c", DIGEST_SNIPPET, str(ROOT)],
            capture_output=True, text=True, env=env, check=True,
        )
        outs.add(proc.stdout.strip())
    assert outs == {here}


def test_digest_ignores_row_order_but_not_values():
    df = sample_frame()
    shuffled = df.iloc[[2, 0, 1]].reset_index(drop=True)[["text", "vec", "id", "score"]]
    assert digest(shuffled) == digest(df)
    changed = df.copy()
    changed.loc[0, "score"] = 0.3  # 0.1 + 0.2 != 0.3 in binary floating point
    assert digest(changed) != digest(df)


def span(sid, start, end, parent=None, name="x"):
    return Span(sid, name, start, end, parent, 0, "cold")


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        span(0, 0, 100),
        span(1, 10, 30, parent=0),
        span(2, 20, 50, parent=0),  # overlaps span 1: counted once
        span(3, 90, 120, parent=0),  # clipped to the parent's end
        span(4, 12, 14, parent=1),  # a grandchild: only span 1 loses it
    ]
    selfs = self_times(spans)
    assert selfs[0] == 100 - (50 - 10) - (100 - 90)
    assert selfs[1] == 20 - 2
    assert selfs[2] == 30
    assert selfs[4] == 2


def test_tracer_nests_spans_and_sums_self_time():
    tracer = Tracer()
    tracer.active = True
    tracer.call("runner.plan", lambda: tracer.call("plans.uuid", lambda: None),
                attrs={"lowered": True, "op": "X"})
    inner, outer = tracer.spans
    assert inner.parent == outer.id and outer.parent is None
    m = layer_metrics(tracer.spans)
    expected = (outer.duration - inner.duration) / 1e6
    assert m["runner.plan_self_ms"] == pytest.approx(expected)
    assert m["runner.ops_lowered"] == 1
    tracer.active = False
    assert tracer.call("plans.uuid", lambda: 7) == 7
    assert len(tracer.spans) == 2


# -- store miss accounting, on a tiny inline dataset -------------------- #


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    saved = dict(os.environ)
    bench.pin_env(work, trace=False)
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    from krnel_graph_spark.runners.spark_runner import get_spark

    session = get_spark("perfbench-selftest")
    yield session
    session.stop()
    os.environ.clear()
    os.environ.update(saved)


def chain(runner, fractions):
    ds = runner.from_inline_dataset(
        {"k": list(range(40)), "c": ["a", "b"] * 20}
    )
    for seed, fraction in enumerate(fractions):
        ds = ds.hash_sample(fraction, seed=seed)
    # Ephemeral ops on top: never persisted, so never a store miss.
    return {"out": ds.mask_rows(ds.col_categorical("c").is_in({"a"}))}


def test_expected_misses_hold_on_inline_dataset(spark, tmp_path):
    from krnel_graph_spark import SparkRunner

    store = tmp_path / "store"
    base = [0.9, 0.8, 0.9, 0.95]
    edited = [0.9, 0.8, 0.7, 0.95]

    def materialize(fractions):
        runner = SparkRunner(spark, str(store))
        targets = chain(runner, fractions)
        return targets, runner.to_pandas(targets["out"])

    tracer = Tracer()
    tracer.install()
    tracer.store_roots = [str(store)]
    try:
        misses = {}
        for phase, fractions in (("cold", base), ("warm", base), ("incr", edited)):
            before = bench.store_entries(store) if store.exists() else set()
            tracer.active, tracer.phase = True, phase
            targets, out = materialize(fractions)
            tracer.active = False
            added = bench.store_entries(store) - before
            old = None if phase == "cold" else chain(SparkRunner(spark, None), base)
            assert added == bench.expected_new_entries(old, targets)
            spans = [s for s in tracer.spans if s.phase == phase]
            misses[phase] = layer_metrics(spans)["store.misses"]
            assert misses[phase] == len(added)
    finally:
        tracer.uninstall()
    # Four persisted hash_samples; the edit at index 2 recomputes two.
    assert misses == {"cold": 4, "warm": 0, "incr": 2}
    warm = layer_metrics([s for s in tracer.spans if s.phase == "warm"])
    assert warm["store.hit_ratio"] == 1.0
