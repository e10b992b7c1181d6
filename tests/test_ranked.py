"""Pin the distributed global-rank machinery (SparkRunner.ranked).

The rank must be a deterministic function of the data: the per-bucket
offsets are gathered in one job and consumed in another, so any
nondeterministic partitioning (e.g. repartitionByRange's sampled
boundaries) between the two jobs silently corrupts every positional path
(rank-zip joins, positional masks, non-dense takes).  These tests feed
sparse, shuffled, skewed row-id distributions across many partitions.
"""

import random

import pytest
from pyspark.sql import functions as F

from krnel_graph_spark.runners.plan import ROW_ID


def _mk(spark, ids, n_part=16):
    random.shuffle(ids)
    return spark.createDataFrame(
        [(i, f"v{i}") for i in ids], f"{ROW_ID} long, payload string"
    ).repartition(n_part)


@pytest.mark.parametrize(
    "ids",
    [
        list(range(1000)),  # dense
        [i * 97 + 13 for i in range(1000)],  # strided
        [i for i in range(5000) if i % 7 != 0],  # masked-out subset
        list(range(100)) + [10_000_000 + i for i in range(100)],  # skewed band
        [f << 40 | i for f in range(4) for i in range(500)],  # multi-file shape
        [42],  # single row
    ],
)
def test_ranked_matches_sorted_order(lazy_runner, ids):
    df = _mk(lazy_runner.spark, list(ids))
    out = lazy_runner.ranked(df)
    rows = out.orderBy("__rank").collect()
    expect = sorted(ids)
    assert [r[ROW_ID] for r in rows] == expect
    assert [r["__rank"] for r in rows] == list(range(len(expect)))


def test_ranked_stable_across_actions(lazy_runner):
    """The same ranked plan executed twice (two separate jobs, so two
    physical re-plans) must produce identical ranks."""
    ids = [i * 31 for i in range(2000)]
    df = _mk(lazy_runner.spark, ids)
    out = lazy_runner.ranked(df)
    first = {r[ROW_ID]: r["__rank"] for r in out.collect()}
    second = {r[ROW_ID]: r["__rank"] for r in out.collect()}
    assert first == second
    # And a self-join on __rank (count job + join job re-executing the
    # lineage) must line every row up with itself.
    joined = out.alias("a").join(out.alias("b"), "__rank")
    n_bad = joined.filter(F.col(f"a.{ROW_ID}") != F.col(f"b.{ROW_ID}")).count()
    assert n_bad == 0


def test_ranked_empty(lazy_runner):
    df = _mk(lazy_runner.spark, list(range(10))).filter(F.col(ROW_ID) < 0)
    out = lazy_runner.ranked(df)
    assert out.count() == 0


def test_rank_zip_cross_dataset(lazy_runner, tmp_path):
    """Positional combination across two different datasets goes through
    _rank_zip; values must pair up in row-id order."""
    spark = lazy_runner.spark
    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.createDataFrame(
        [(float(i),) for i in range(500)], "x double"
    ).coalesce(1).write.parquet(p1)
    spark.createDataFrame(
        [(float(i) * 10,) for i in range(500)], "y double"
    ).coalesce(1).write.parquet(p2)
    ds1 = lazy_runner.from_parquet(p1)
    ds2 = lazy_runner.from_parquet(p2)
    combined = ds1.col_score("x") + ds2.col_score("y")
    vals = lazy_runner.to_pandas(combined)["value"].tolist()
    assert vals == [float(i) + float(i) * 10 for i in range(500)]


def test_take_and_positional_mask_at_one_core(spark, monkeypatch):
    """With one default partition the rank needs a single bucket and no
    quantile cut points; take and positional masks must match the
    multi-bucket output."""
    from pyspark import SparkContext

    from krnel_graph_spark import SparkRunner

    n = 60
    values = {"a": list(range(n))}
    flags = {"keep": [i % 3 != 1 for i in range(n)]}

    def run():
        runner = SparkRunner(spark=spark, store_path=None)
        ds = runner.from_inline_dataset(values)
        mask = runner.from_inline_dataset(flags).col_boolean("keep")
        masked = ds.mask_rows(mask)  # positional: mask from another dataset
        return (
            runner.to_pandas(masked),
            runner.to_pandas(masked.take(10, skip=2, offset=1)),
        )

    multi = run()
    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: 1)
    )
    assert spark.sparkContext.defaultParallelism == 1
    one = run()
    for got, want in zip(one, multi):
        assert got.equals(want)
    assert one[1]["a"].tolist() == [i for i in range(n) if i % 3 != 1][1::2][:10]
