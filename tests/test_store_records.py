"""Store records: one Spark job per stored op, one node per status record.

A store-backed runner writes each non-ephemeral op's result once and
re-reads it with the schema kept in the op's status record, so neither the
re-read nor a later store hit launches a job. Each status record holds the
op's own node plus the upstream nodes the store does not hold; stored
ancestors are referenced by UUID, and ``uuid_to_op`` follows them."""

from __future__ import annotations

import json
import uuid as uuid_lib

import pandas as pd
import pytest

from krnel_graph_spark import SparkRunner

from conftest import SF_DIR

CUSTOMER = f"{SF_DIR}/customer.parquet"
DEPTH = 30


def _jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    group = f"store-records-{uuid_lib.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _chain(runner, depth):
    ops = []
    ds = runner.from_parquet(CUSTOMER)
    for k in range(depth):
        ds = ds.hash_sample(0.97, seed=k)
        ops.append(ds)
    return ops


def _record(runner, op) -> dict:
    return json.loads(runner.store.read_status(op.uuid))


def _rewrite_record(runner, op, edit) -> None:
    record = _record(runner, op)
    edit(record)
    runner.store.write_status(op.uuid, json.dumps(record))


@pytest.fixture(scope="module")
def cold_chain(spark, tmp_path_factory):
    """A DEPTH-op chain materialized on an empty store, with the number of
    jobs the materialization launched."""
    store = str(tmp_path_factory.mktemp("chain") / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    ops = _chain(runner, DEPTH)
    # Opening the source infers its schema in one job; count store jobs only.
    runner.plan(ops[0].dataset)
    _, n_jobs = _jobs_in(spark, lambda: runner.plan(ops[-1]))
    return runner, ops, n_jobs


def test_cold_chain_launches_one_write_job_per_op(cold_chain):
    runner, ops, n_jobs = cold_chain
    assert n_jobs == len(ops)
    assert all(runner.store.is_done(op.uuid) for op in ops)


def test_store_hit_opens_without_a_job(spark, cold_chain):
    runner, ops, _ = cold_chain
    fresh = SparkRunner(spark=spark, store_path=runner.store.root)
    plan, n_jobs = _jobs_in(spark, lambda: fresh.plan(ops[-1]))
    assert n_jobs == 0
    # the cold re-read and the hit open the result with the same schema
    assert plan.df.schema == runner.plan(ops[-1]).df.schema


def test_status_record_size_does_not_grow_with_depth(cold_chain):
    runner, ops, _ = cold_chain
    sizes = [len(runner.store.read_status(op.uuid)) for op in ops]
    assert sizes[-1] <= 2 * sizes[0], sizes


def test_status_record_holds_own_node_and_schema(cold_chain):
    runner, ops, _ = cold_chain
    first, last = _record(runner, ops[0]), _record(runner, ops[-1])
    assert last["state"] == "completed"
    assert last["result_schema"]["type"] == "struct"
    # the last op's record: its own node, the parent by UUID only
    assert set(last["graph"]["nodes"]) == {ops[-1].uuid}
    assert last["graph"]["stored"] == [ops[-2].uuid]
    # the first op's record also holds the source, which is never stored
    source = ops[0].dataset
    assert set(first["graph"]["nodes"]) == {ops[0].uuid, source.uuid}
    assert first["graph"]["stored"] == []


def test_record_without_schema_opens_by_inference(spark, tmp_path):
    """A COMPLETED record without a schema (a store written before schemas
    were recorded) still opens, by footer inference, to the same rows."""
    store = str(tmp_path / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    op = _chain(runner, 2)[-1]
    expected = runner.to_pandas(op)
    _rewrite_record(runner, op, lambda r: r.pop("result_schema"))

    fresh = SparkRunner(spark=spark, store_path=store)
    _, n_jobs = _jobs_in(spark, lambda: fresh.plan(op))
    assert n_jobs >= 1  # the inference fallback ran
    pd.testing.assert_frame_equal(fresh.to_pandas(op), expected)


def test_uuid_to_op_follows_stored_ancestors(spark, tmp_path):
    store = str(tmp_path / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    src = runner.from_parquet(CUSTOMER)
    a = src.hash_sample(0.9, seed=1)
    # an ephemeral op between stored ops is embedded in its consumer's record
    b = a.take(200).hash_sample(0.9, seed=2)
    c = b.hash_sample(0.8, seed=3)
    runner.to_pandas(c)
    assert set(_record(runner, b)["graph"]["nodes"]) == {b.uuid, b.dataset.uuid}

    fresh = SparkRunner(spark=spark, store_path=store)
    assert fresh.uuid_to_op(c.uuid) == c
    assert fresh.uuid_to_op(b.uuid) == b


def test_uuid_to_op_merges_an_old_full_graph_record(spark, tmp_path):
    """A store with records from before this layout: an ancestor's record
    embeds its whole upstream graph, which is a superset of its node."""
    store = str(tmp_path / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    a, b, c = _chain(runner, 3)
    runner.to_pandas(c)

    def full_graph(record):
        record["graph"] = b.to_graph()

    _rewrite_record(runner, b, full_graph)
    fresh = SparkRunner(spark=spark, store_path=store)
    assert fresh.uuid_to_op(c.uuid) == c
    # the old record covers a's node, so a's record is not needed
    runner.store.write_status(a.uuid, json.dumps({"uuid": a.uuid}))
    assert SparkRunner(spark=spark, store_path=store).uuid_to_op(c.uuid) == c


def test_uuid_to_op_reports_a_missing_ancestor_record(spark, tmp_path):
    store = str(tmp_path / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    a, b = _chain(runner, 2)
    runner.to_pandas(b)
    runner.store.write_status(a.uuid, json.dumps({"uuid": a.uuid}))
    with pytest.raises(KeyError, match="no embedded graph"):
        SparkRunner(spark=spark, store_path=store).uuid_to_op(b.uuid)
