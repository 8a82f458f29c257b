"""Output checks and fingerprints. Each check returns a list of failure
messages (empty when it holds)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REGRADE_SAMPLE = 50_000


def fingerprint(df: DataFrame) -> list:
    """Row count plus an order-free xxhash64 sum over every column."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [int(row["n"]), str(row["h"])]


def regrade(scored: DataFrame) -> list[str]:
    """Re-grade a deterministic sample of up to 50k scored pairs with the
    Python port of the reference decision table; every score, weight and
    verdict must agree exactly."""
    from identity_matching_spark.oracle import (
        FLAG_FIELDS,
        Flags,
        match_weight,
        mdm_verdict,
        score_match,
    )

    n = scored.count()
    step = max(1, -(-n // REGRADE_SAMPLE))
    sample = scored if step == 1 else scored.filter(
        F.pmod(F.xxhash64("left_id", "right_id"), F.lit(step)) == 0
    )
    pdf = sample.select(*FLAG_FIELDS, "score", "weight", "verdict").toPandas()
    bad = 0
    for row in pdf.itertuples(index=False):
        d = row._asdict()
        f = Flags(**{k: bool(d[k]) for k in FLAG_FIELDS})
        if (
            score_match(f) != d["score"]
            or match_weight(f) != d["weight"]
            or mdm_verdict(f) != d["verdict"]
        ):
            bad += 1
    if len(pdf) == 0:
        return ["regrade: empty sample"]
    return [f"regrade: {bad} of {len(pdf)} sampled pairs disagree with oracle"] if bad else []


def closure_clusters(records: DataFrame, scored: DataFrame, clusters: DataFrame,
                     threshold: float) -> list[str]:
    """``clusters`` must equal the connected components (min record id per
    component) of the stored match edges, computed here by union-find."""
    ids = [r[0] for r in records.select("record_id").collect()]
    edges = scored.filter(F.col("score") >= F.lit(threshold)).select(
        "left_id", "right_id"
    ).collect()
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for l, r in edges:
        a, b = find(l), find(r)
        if a != b:
            if b < a:
                a, b = b, a
            parent[b] = a
    want = {i: find(i) for i in ids}
    got = dict(clusters.select("record_id", "cluster_id").collect())
    if got != want:
        diff = sum(1 for k in want.keys() | got.keys() if want.get(k) != got.get(k))
        return [f"clusters: {diff} records differ from the union-find closure of the edges"]
    return []


def pairwise_f1(clusters: DataFrame, labels: DataFrame) -> float:
    from identity_matching_spark.operators.metrics import pairwise_cluster_metrics

    truth = labels.select("record_id", F.col("entity_id").alias("true_cluster_id"))
    return float(pairwise_cluster_metrics(clusters, truth).collect()[0]["f1"])
