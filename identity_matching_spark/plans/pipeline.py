"""End-to-end linkage pipeline (the reference's $match + MDM lifecycle,
re-planned for batch: SURVEY.md §3.4).

    files -> normalize -> blocking -> candidate pairs -> comparator
    flags -> grade -> match edges -> connected components -> clusters

Stage boundaries = the two unavoidable shuffles (blocking self-join,
per-iteration CC agg); everything else fuses into scans via whole-stage
codegen. ``run_pipeline`` returns all intermediate DataFrames lazily —
callers materialize what they need; with a checkpoint dir set, each
stage persists to parquet with lineage metadata and ``resume`` restarts
from the last complete stage (north_rule resumability).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from identity_matching_spark.config import MatchConfig
from identity_matching_spark.operators.blocking import BlockingResult, candidate_pairs
from identity_matching_spark.operators.cluster import (
    clusters_with_singletons,
    connected_components,
)
from identity_matching_spark.operators.compare import compare_pairs
from identity_matching_spark.operators.grade import grade_pairs
from identity_matching_spark.operators.normalize import normalize_files
from identity_matching_spark.operators.validate import validation_gate


@dataclass
class PipelineResult:
    records: DataFrame       # normalized attributes (keeps content for invariant)
    pairs: DataFrame         # deduped candidate pairs
    block_stats: DataFrame   # oversized/starred block report (never silent)
    scored_pairs: DataFrame  # flags + score + weight + verdict
    edges: DataFrame         # pairs with score >= cluster_threshold
    clusters: DataFrame      # (record_id, cluster_id) incl. singletons

    def cleanup(self) -> None:
        """Unpersist every cache this run pinned (records/pairs/scored and
        the fuzzy path's distinct-stem JW table) — call after the outputs
        have been materialized; long-lived sessions otherwise accumulate
        cached blocks across runs."""
        jwtab = getattr(self.scored_pairs, "jw_stem_cache", None)
        slim = getattr(self.scored_pairs, "slim_cache", None)
        dense_slim = getattr(self.scored_pairs, "dense_slim_cache", None)
        for df in (jwtab, slim, dense_slim, self.scored_pairs, self.pairs, self.records):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass


def with_match_messages(scored_slim: DataFrame) -> DataFrame:
    """Insert the A3 ``match_messages`` column into a slim scored relation
    at the same position ``grade_pairs(..., with_messages=True)`` emits it
    (after ``verdict``, before ``verdict_phonetic``) so the two shapes are
    schema-identical."""
    from identity_matching_spark.operators.compare import match_messages_expr

    cols: list = []
    for c in scored_slim.columns:
        cols.append(F.col(c))
        if c == "verdict":
            cols.append(match_messages_expr().alias("match_messages"))
    return scored_slim.select(*cols)


def _t(label: str, t0: float) -> None:
    """Optional stage-timing trace (IMS_DEBUG_TIMING=1): barrier walls."""
    if os.environ.get("IMS_DEBUG_TIMING"):
        print(f"[pipeline] {label}: {time.time() - t0:.1f}s", flush=True)


@contextmanager
def _gated_records(files: DataFrame, config: MatchConfig, reread: bool):
    """Normalize + validation gate, persisted for the duration of the block
    when ``reread`` says more than one pass reads it.

    The passes that build the records stage read this relation: the two
    dense-id passes, the two distinct-name passes of ``enrich_phonetic``
    and the pass that writes or caches the stage. Without the persist each
    of them re-runs the sha-heavy normalize projection from the input scan.
    The block must materialize the records stage before it exits; the
    persist is released on exit, also when the block raises.
    """
    gated = validation_gate(normalize_files(files), config)
    if reread:
        gated = gated.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield gated
    finally:
        if reread:
            gated.unpersist()


def _with_phonetic(records: DataFrame, config: MatchConfig) -> DataFrame:
    if not config.enable_fuzzy:
        return records
    from identity_matching_spark.operators.compare import enrich_phonetic

    return enrich_phonetic(records)


def run_pipeline(files: DataFrame, config: MatchConfig | None = None) -> PipelineResult:
    config = config or MatchConfig()
    # records feeds blocking, both compare sides, and the singleton union —
    # persist it so that it is computed once before any pair fan-out. The
    # normalize projection (sha256-heavy) under it runs once as well: every
    # pass that builds records reads the persisted gated relation, which is
    # released once the records barrier has filled the records cache.
    dense_slim_cache = None
    reread = config.dense_ids or config.enable_fuzzy
    with _gated_records(files, config, reread) as records:
        if config.dense_ids:
            from identity_matching_spark.operators.normalize import with_dense_ids

            # Dense-id interning (two slim passes + broadcast join-back): the
            # scoring attach then probes a direct-address long map per pair —
            # the measured kernel fast path — instead of a sparse hash walk.
            _t0 = time.time()
            records = with_dense_ids(records, prefix_nibbles=config.dense_id_nibbles)
            dense_slim_cache = getattr(records, "_dense_slim_cache", None)
            _t("dense_ids_eager", _t0)
        records = _with_phonetic(records, config).persist(StorageLevel.MEMORY_AND_DISK)
        # EAGER materialization barrier. Each persisted stage is counted
        # before the next stage's plan executes: AQE submits every leaf
        # shuffle-map stage of a query CONCURRENTLY, so a chained lazy flow
        # has 8-16 stages all scanning a cold cache at t0 and each
        # recomputing the expensive upstream (normalize+phonetic here,
        # minhash-keys in blocking) before any cache partition is
        # registered — measured ~1000 wasted task-seconds at sf0.1
        # (event-log: sixteen concurrent 17.5 s 'count' stages). One
        # barrier per stage = each relation computed exactly once; the
        # barrier itself is a cache-populating pass the downstream
        # consumers need anyway. This is also the production shape at
        # 100 TB: you materialize the records table before a pair fan-out.
        _t0 = time.time()
        n_records = records.count()
        _t("records_barrier", _t0)
    _t0 = time.time()
    blocking: BlockingResult = candidate_pairs(records, config, n_records=n_records)
    _t("blocking_call", _t0)
    pairs = blocking.pairs
    # When the pair list carries dense-id twins, keep them through grading:
    # the CC edge set then lives entirely in 8-byte longs (below) instead
    # of 64-char sha strings — ~8x less bytes through every star-iteration
    # shuffle and a columnar long collect at the driver-finish gate.
    keep_keys = "left_didx" in pairs.columns
    if config.enable_fuzzy:
        from identity_matching_spark.operators.compare import compare_pairs_fuzzy

        # The fuzzy path consumes the pair list twice (slim jw_stem_table
        # pass + main attach) — persist the 2-column pair list so the
        # blocking self-join runs once.
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        _t0 = time.time()
        pairs.count()
        _t("pairs_barrier", _t0)
        _t0 = time.time()
        flagged = compare_pairs_fuzzy(pairs, records, config, keep_keys=keep_keys)
        _t("jwtab_count", _t0)
    else:
        flagged = compare_pairs(pairs, records, keep_keys=keep_keys)
    # Persist the SLIM scored relation (flags + score/weight/verdicts) and
    # derive match_messages as a lazy projection over it: the message
    # array is a pure function of the flag columns (20 string literals +
    # filter, whole-stage codegen), so caching it would serialize ~0.5 KB
    # of strings per pair into the columnar cache for data any consumer
    # can recompute in-stream. Measured at sf0.1/local[16]: persist+count
    # with cached messages 105 s vs 13 s slim — pure serialization
    # bandwidth, which a bigger cluster cannot scale away. Downstream
    # consumers (edge filter, CC, counts) prune to the slim columns; sinks
    # materialize messages at write time.
    scored_slim = grade_pairs(flagged, with_messages=False).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _t0 = time.time()
    scored_slim.count()  # barrier: CC's checkpoint stages scan a warm cache
    _t("scored_slim_barrier", _t0)
    # The exposed scored relation keeps the reference output schema — the
    # didx twins are an engine-internal key column, pruned here.
    scored_public = (
        scored_slim.drop("left_didx", "right_didx") if keep_keys else scored_slim
    )
    scored = with_match_messages(scored_public)
    # propagate the fuzzy path's persisted JW table for PipelineResult.cleanup
    scored.jw_stem_cache = getattr(flagged, "jw_stem_cache", None)
    scored.slim_cache = scored_slim
    scored.dense_slim_cache = dense_slim_cache
    edges = scored_public.filter(
        F.col("score") >= F.lit(config.cluster_threshold)
    ).select("left_id", "right_id")
    _t0 = time.time()
    if keep_keys:
        # CC over dense longs: didx is the RANK of record_id, so min-didx
        # per component IS the min-record_id representative — the long
        # loop yields bit-identical clusters after the id map join below
        # (equivalence pytested in test_cluster_props.py). Every star
        # iteration's groupBy/join and the driver-finish collect move
        # 16 B/edge instead of two 64-char ids.
        edges_d = scored_slim.filter(
            F.col("score") >= F.lit(config.cluster_threshold)
        ).select(
            F.col("left_didx").alias("left_id"),
            F.col("right_didx").alias("right_id"),
        )
        assign_d = connected_components(edges_d, config)
        idmap = records.select("didx", "record_id")
        rep = idmap.select(
            F.col("didx").alias("_cd"), F.col("record_id").alias("_crid")
        )
        clusters = (
            idmap
            .join(
                assign_d.select(
                    F.col("record_id").alias("didx"),
                    F.col("cluster_id").alias("_cd"),
                ),
                "didx",
                "left",
            )
            .join(rep, "_cd", "left")
            .select(
                "record_id",
                F.coalesce("_crid", "record_id").alias("cluster_id"),
            )
        )
        _t("cc_loop", _t0)
    else:
        assignments = connected_components(edges, config)
        _t("cc_loop", _t0)
        clusters = clusters_with_singletons(records, assignments)
    return PipelineResult(
        records=records,
        pairs=pairs,
        block_stats=blocking.block_stats,
        scored_pairs=scored,
        edges=edges,
        clusters=clusters,
    )


# ---------------------------------------------------------------------------
# Checkpointed variant: persists each stage to parquet with a lineage row,
# and resumes from the last complete stage. The parquet+manifest layout is
# a thin stand-in for Iceberg snapshots (no Iceberg jars in this image —
# the write path is isolated here so swapping in ``writeTo(table)`` is a
# one-function change).
# ---------------------------------------------------------------------------

STAGES = ("records", "pairs", "scored_pairs", "edges", "clusters")


def run_checkpointed(
    spark: SparkSession,
    files: DataFrame,
    config: MatchConfig,
    checkpoint_dir: str,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """Run with per-stage parquet checkpoints + lineage/metrics rows.

    Lineage schema (FIXTURES.md §4): stage, rows_out, n_partitions,
    wall_sec, ts, partitions = array of per-partition {file, rows, bytes}
    (north_rule: per-partition lineage + metrics).
    Resume: stages with a _SUCCESS manifest are read back, not recomputed.
    """
    from identity_matching_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(spark, checkpoint_dir)
    out: dict[str, DataFrame] = {}

    def stage(name: str, build):
        if resume and store.has(name):
            out[name] = store.read(name)
            return
        t0 = time.time()
        df = build()
        store.write(name, df)
        jwtab = getattr(df, "jw_stem_cache", None)
        if jwtab is not None:  # scored stage materialized — JW cache done
            jwtab.unpersist()
        parts = store.partition_metrics(name)
        store.log_lineage(
            name,
            rows_out=sum(p["rows"] for p in parts),
            n_partitions=len(parts),
            wall_sec=time.time() - t0,
            partitions=parts,
        )
        out[name] = store.read(name)

    if resume and store.has("records"):
        out["records"] = store.read("records")
    else:
        with _gated_records(files, config, config.enable_fuzzy) as gated:
            stage("records", lambda: _with_phonetic(gated, config))
    blocking_holder: dict[str, BlockingResult] = {}

    def build_pairs():
        b = candidate_pairs(out["records"], config)
        blocking_holder["b"] = b
        store.write("block_stats", b.block_stats)
        return b.pairs

    stage("pairs", build_pairs)

    def build_scored():
        # Same comparator set as run_pipeline: fuzzy columns +
        # verdict_phonetic when config.enable_fuzzy (the two code paths
        # must not diverge in output schema).
        if config.enable_fuzzy:
            from identity_matching_spark.operators.compare import compare_pairs_fuzzy

            flagged = compare_pairs_fuzzy(out["pairs"], out["records"], config)
        else:
            flagged = compare_pairs(out["pairs"], out["records"])
        return grade_pairs(flagged, with_messages=True)

    stage("scored_pairs", build_scored)
    def build_edges():
        # a rebuilt edge set invalidates any CC iteration snapshots
        import shutil

        shutil.rmtree(os.path.join(checkpoint_dir, "cc"), ignore_errors=True)
        return (
            out["scored_pairs"]
            .filter(F.col("score") >= F.lit(config.cluster_threshold))
            .select("left_id", "right_id")
        )

    stage("edges", build_edges)
    stage(
        "clusters",
        lambda: clusters_with_singletons(
            out["records"],
            # CC iterations snapshot durably under the run's checkpoint dir
            # so a crash mid-clustering resumes from the last iteration.
            connected_components(
                out["edges"],
                config.with_(checkpoint_dir=os.path.join(checkpoint_dir, "cc")),
            ),
        ),
    )
    out["block_stats"] = store.read("block_stats") if store.has("block_stats") else None
    out["lineage"] = store.lineage()
    return out


def verify_content_invariant(files: DataFrame, records: DataFrame) -> int:
    """Per-row invariant (BASELINE.json input_hint): sha2(content,256) of the
    source equals records.content_sha256, row for row. Returns violations."""
    src = files.select(
        F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256).alias("record_id"),
        F.sha2(F.col("content"), 256).alias("expected_sha"),
    )
    joined = records.select("record_id", "content_sha256").join(src, "record_id", "full")
    return joined.filter(
        (F.col("content_sha256").isNull())
        | (F.col("expected_sha").isNull())
        | (F.col("content_sha256") != F.col("expected_sha"))
    ).count()
