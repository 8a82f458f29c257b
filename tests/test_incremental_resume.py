"""Incremental delta processing + checkpoint/resume (north_rule:
resumable from snapshot; SURVEY.md §2.9)."""

import os

from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.corpus import generate_files
from identity_matching_spark.operators.blocking import candidate_pairs
from identity_matching_spark.operators.normalize import normalize_files
from identity_matching_spark.plans.pipeline import run_checkpointed
from identity_matching_spark.sources.snapshots import SnapshotStore
from identity_matching_spark.streaming.incremental import incremental_pairs, new_since

CFG = MatchConfig(
    blocking_families=("content_sha", "norm_sha", "name_prefix"), enable_fuzzy=False
)


def test_new_since_anti_join(spark):
    files = generate_files(spark, 50).drop("entity_id")
    recs = normalize_files(files)
    processed = recs.select("record_id").limit(30)
    fresh = new_since(recs, processed)
    assert fresh.count() == recs.count() - 30
    assert fresh.join(processed, "record_id", "inner").count() == 0


def test_incremental_pairs_subset_of_full(spark):
    """Delta pairs = exactly the full-run pairs touching >=1 new record."""
    files = generate_files(spark, 120).drop("entity_id").cache()
    recs = normalize_files(files).cache()
    full = candidate_pairs(recs, CFG).pairs
    new_recs = recs.orderBy("record_id").limit(40)
    inc = incremental_pairs(recs, new_recs, CFG)
    new_ids = {r["record_id"] for r in new_recs.select("record_id").collect()}
    full_rows = {(r["left_id"], r["right_id"]) for r in full.collect()}
    expected = {p for p in full_rows if p[0] in new_ids or p[1] in new_ids}
    got = {(r["left_id"], r["right_id"]) for r in inc.collect()}
    assert got == expected


def test_checkpoint_resume_identical_clusters(spark, tmp_path):
    files = generate_files(spark, 100).drop("entity_id")
    d = str(tmp_path / "ckpt")
    out1 = run_checkpointed(spark, files, CFG, d, resume=False)
    c1 = sorted(tuple(r) for r in out1["clusters"].collect())

    # simulate a crash after 'scored_pairs': delete later stages, resume
    import shutil

    for stage in ("edges", "clusters"):
        shutil.rmtree(os.path.join(d, stage), ignore_errors=True)
    out2 = run_checkpointed(spark, files, CFG, d, resume=True)
    c2 = sorted(tuple(r) for r in out2["clusters"].collect())
    assert c1 == c2
    lineage = out2["lineage"]
    assert lineage is not None
    rows = lineage.collect()
    stages = {r["stage"] for r in rows}
    assert {"records", "pairs", "scored_pairs", "edges", "clusters"} <= stages
    # per-partition lineage (north_rule): every logged stage carries
    # per-partition {file, rows, bytes} whose rows sum to rows_out, and
    # rows_out is the stage's row count in the data itself
    store = SnapshotStore(spark, d)
    for r in rows:
        parts = r["partitions"]
        assert parts and len(parts) == r["n_partitions"]
        assert sum(p["rows"] for p in parts) == r["rows_out"]
        assert all(p["bytes"] > 0 and p["file"] for p in parts)
        assert r["rows_out"] == store.count(r["stage"]), r["stage"]


def test_snapshot_store_roundtrip(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "s"))
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("y"))
    store.write("t", df)
    assert store.has("t")
    assert store.count("t") == 10
    back = store.read("t")
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())
