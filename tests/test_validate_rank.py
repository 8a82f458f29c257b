"""The gate keeps exactly the rows whose tier_expr() tier ranks at or above
the configured level."""

import itertools

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.operators.validate import (
    TIER_RANK,
    completeness_weight_expr,
    tier_expr,
    validation_gate,
)

ATTRS = (
    "content_sha256", "shape_sha", "norm_sha", "ins_member_sha",
    "ins_subscriber_sha", "stem", "dir1",
)
SCHEMA = "id int, " + ", ".join(f"{a} string" for a in ATTRS) + ", size_bucket long"


@pytest.fixture(scope="module")
def records(spark):
    # every attribute absent (NULL), empty ("") or present, crossed with a
    # null / non-null size_bucket: hits weights 8, 9 and 10 several ways,
    # "" vs NULL on every attribute, and rows held up only by the base
    # predicate (content_sha256 alone)
    rows = [
        (i, *strs, size)
        for i, (strs, size) in enumerate(
            itertools.product(
                itertools.product((None, "", "v"), repeat=len(ATTRS)), (None, 0)
            )
        )
    ]
    return spark.createDataFrame(rows, SCHEMA).withColumns(
        {"_w": completeness_weight_expr(), "_tier": tier_expr()}
    ).cache()


def test_corpus_hits_every_boundary(records):
    weights = {r["_w"] for r in records.select("_w").distinct().collect()}
    assert {8, 9, 10} <= weights
    tiers = {r["_tier"] for r in records.select("_tier").distinct().collect()}
    assert tiers == set(TIER_RANK)
    # BASE only through the base predicate: content identifier alone
    only_base = records.filter(
        (F.col("content_sha256") == "v")
        & (F.col("_w") == 0)
        & F.col("stem").isNull()
        & F.col("size_bucket").isNull()
    )
    assert only_base.count() > 0
    assert {r["_tier"] for r in only_base.collect()} == {"BASE"}


@pytest.mark.parametrize("level", list(TIER_RANK))
def test_gate_rank_matches_tier_expr(records, level):
    old_rank = (
        F.when(F.col("_tier") == "L1", 3)
        .when(F.col("_tier") == "L0", 2)
        .when(F.col("_tier") == "BASE", 1)
        .otherwise(0)
    )
    want = {r["id"] for r in records.filter(old_rank >= TIER_RANK[level]).collect()}
    got = {
        r["id"]
        for r in validation_gate(records, MatchConfig(validation_level=level)).collect()
    }
    assert got == want
    assert want
