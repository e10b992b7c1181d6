"""The seeded OpSpec graphs the benchmark materializes.

A workload turns ``--seed`` into a base parameter set and a one-knob
edit of it. ``build(runner, params)`` returns the graph's targets
through the engine's public builders; the engine sees only those OpSpecs.

The inputs are the ``documents``, ``embeddings`` and ``customer`` tables of
the engine's sf0.01 test data, copied into ``data/`` so that a run reads
nothing outside its checkout.
"""

from __future__ import annotations

import random
from pathlib import Path
from typing import Any

DATA = Path(__file__).resolve().parent / "data"


def source(runner, table: str):
    return runner.from_parquet(str(DATA / f"{table}.parquet"))


class Pipeline:
    """A curation graph on ``documents`` plus a classifier branch on
    ``embeddings``. The incr edit gives DSIR's ``smoothing`` a seeded new
    value, so every seed recomputes the same three ops (dsir_weights,
    chunk_docs, sequence_pack) at the same cost. ``buckets`` is kept fixed
    because it changes the op's cost, which would make incr times depend
    on the seed."""

    name = "pipeline"
    BUCKETS = 4096
    SMOOTHING = 1.0
    EDITED_SMOOTHING = [0.25, 0.5, 0.75, 1.5, 2.0, 4.0]

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.base = {"buckets": self.BUCKETS, "smoothing": self.SMOOTHING}
        self.edit = {**self.base, "smoothing": rng.choice(self.EDITED_SMOOTHING)}

    def build(self, runner, p: dict[str, Any]) -> dict[str, Any]:
        from krnel_graph_spark.runners.plan import ROW_ID

        docs = source(runner, "documents")
        split = docs.assign_train_test_split(
            test_size=0.2, random_state=7, method="hash"
        )
        held_out = docs.mask_rows(split.test)
        cleaned = (
            docs.mask_rows(split.train)
            .drop_exact_dups("text")
            .drop_near_dups("text")
            .text_stats("text")
            .gopher_rules("text")
            .token_entropy("text")
            .compression_signals("text")
        )
        weighted = cleaned.dsir_weights(
            held_out, "text", buckets=p["buckets"], smoothing=p["smoothing"]
        )
        packed = weighted.chunk_docs("text").sequence_pack(
            order_by=ROW_ID, token_column="n_tokens", budget=256
        )

        emb = source(runner, "embeddings")
        x = emb.col_vector("embedding")
        positive = emb.col_categorical("label").is_in({"2"})
        emb_split = emb.assign_train_test_split(
            test_size=0.25, random_state=42, method="hash"
        )
        clf = x.train_classifier(positives=positive, train_domain=emb_split.train)
        scores = clf.predict(x)
        report = scores.evaluate(gt_positives=positive, split=emb_split)
        return {"packed": packed, "scores": scores, "report": report}


class DeepChain:
    """``DEPTH`` stacked non-ephemeral ``hash_sample`` ops on ``customer``.
    Fractions and sample seeds come from the workload seed. The incr edit
    gives the op at ``EDIT_AT`` a new seeded fraction, so every seed
    recomputes the same ``DEPTH - EDIT_AT`` ops."""

    name = "deep_chain"
    DEPTH = 40
    EDIT_AT = 30

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.base = [
            (round(rng.uniform(0.9, 0.99), 3), rng.randrange(1 << 31))
            for _ in range(self.DEPTH)
        ]
        old_fraction, sample_seed = self.base[self.EDIT_AT]
        fraction = rng.choice(
            [f / 100 for f in range(90, 100) if f / 100 != old_fraction]
        )
        self.edit = list(self.base)
        self.edit[self.EDIT_AT] = (fraction, sample_seed)

    def build(self, runner, p: list[tuple[float, int]]) -> dict[str, Any]:
        ds = source(runner, "customer")
        for fraction, sample_seed in p:
            ds = ds.hash_sample(fraction, seed=sample_seed)
        return {"chain": ds}


WORKLOADS = {w.name: w for w in (Pipeline, DeepChain)}
