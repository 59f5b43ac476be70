"""The one bounded-fan-in merge tree (``operators.topk._tree_merge``):
its plan shape, exact multi-level merges through it, and the driver's
fresh-sketch fallback when no partial reaches it (empty input)."""

import functools

import pytest
from pyspark.sql import functions as F

from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams
from heavykeeper_rs_spark.operators.agg import (
    bloom_build,
    cms_build,
    hll_build,
    sketch_blobs_by_group,
)
from heavykeeper_rs_spark.operators.topk import (
    _BLOB_SCHEMA,
    _GROUP_BLOB_SCHEMA,
    _blob_level,
    _merge_variant_blobs,
    _tree_merge,
    topk,
    topk_sketch,
    topk_tokens,
)
from heavykeeper_rs_spark.plans.checkpoint import topk_checkpointed
from heavykeeper_rs_spark.sketches.cms import CountMin
from heavykeeper_rs_spark.sketches.hll import HLL

SF001 = "/root/testdata/sf0.001"
SF01_EVENTS = "/root/testdata/sf0.01/events.parquet"


@pytest.mark.parametrize("keys", [(), ("group",)], ids=["ungrouped", "grouped"])
@pytest.mark.parametrize(
    "n_groups,fan_in,levels",
    [
        (1, 64, 0),
        (9, 8, 1),
        (64, 64, 0),
        (65, 64, 1),
        (256, 8, 2),
        (20, 4, 2),
        (8, 1, 2),  # fan_in clamps to 2: 8 -> 4 -> 2
    ],
)
def test_tree_levels(spark, keys, n_groups, fan_in, levels):
    """ceil(log_fan_in(n_groups)) - 1 applyInPandas levels: the last
    <= fan_in blobs per key are left to the caller's final fold."""
    schema = _GROUP_BLOB_SCHEMA if keys else _BLOB_SCHEMA
    level = _blob_level(functools.partial(_merge_variant_blobs, "topk"))
    tree = _tree_merge(
        spark.createDataFrame([], schema=schema), n_groups, fan_in, level, keys
    )
    plan = tree._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == levels
    assert tree.schema == schema


@pytest.fixture(scope="module")
def events16(spark):
    return spark.read.parquet(SF01_EVENTS).repartition(16)


@pytest.mark.parametrize("build", [hll_build, cms_build, bloom_build])
def test_multilevel_tree_merges_exactly(events16, build):
    """HLL / CountMin / Bloom merges are commutative, so a fan-in-2
    tree (two merge levels) must give the very bytes of the fan-in-64
    plan (driver fold only)."""
    deep = build(events16, "user_id", merge_groups=2).serialize()
    flat = build(events16, "user_id", merge_groups=64).serialize()
    assert deep == flat


def test_grouped_multilevel_tree_merges_exactly(events16):
    def blobs(fan_in):
        out = sketch_blobs_by_group(
            events16,
            "event_type",
            "user_id",
            lambda: CountMin(2048, 5, 12345),
            fan_in=fan_in,
        )
        return {r["group"]: bytes(r["sketch"]) for r in out.collect()}

    deep, flat = blobs(2), blobs(64)
    assert len(flat) > 1
    assert deep == flat


def _empty(spark, table):
    return spark.read.parquet(f"{SF001}/{table}.parquet").where(F.lit(False))


def test_empty_input_topk(spark):
    assert topk(_empty(spark, "events"), "event_type", k=5).collect() == []


def test_empty_input_topk_sketch(spark):
    sk = topk_sketch(_empty(spark, "events"), "event_type", k=5, width=256, depth=3)
    assert sk.list() == []
    assert sk.serialize() == HeavyKeeper(HKParams(k=5, width=256, depth=3)).serialize()


def test_empty_input_topk_tokens(spark):
    assert topk_tokens(_empty(spark, "documents"), "text", k=5, width=256).collect() == []


def test_empty_input_hll_build(spark):
    sk = hll_build(_empty(spark, "events"), "user_id")
    assert sk.serialize() == HLL(14, 12345).serialize()


def test_empty_input_topk_checkpointed(spark, tmp_path):
    sk, rep = topk_checkpointed(
        _empty(spark, "events"), "event_type", HKParams(k=5, width=256, depth=3),
        str(tmp_path / "ckpt"),
    )
    assert sk.list() == []
    assert rep.resumed_partitions == 0
    assert rep.total_partitions == rep.computed_partitions
