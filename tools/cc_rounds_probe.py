"""Measure connected_components convergence rounds for the er pair graph.

OPTIMIZATION_r17 "Additional probe": pointer-jumping in
connected_components only pays when min-label propagation needs many
rounds. This replays the operator's own loop (same edges/labels/
broadcast-guard/convergence-sum shape as dedup.connected_components)
with a round counter, on the exact pair graph er_customer_entities
builds. Measured at sf0.1: 6 rounds over 5065 nodes -> pointer jumping
(an extra label-to-label join per round for O(log d) rounds) is
job-count parity, adjudicated dead.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/cc_rounds_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rearview_spark.operators._util import observed_checkpoint
from rearview_spark.operators.dedup import _bcast_state
from rearview_spark.operators.joins import sorted_neighborhood_pairs
from rearview_spark.plans.relational import Tables
from rearview_spark.session import get_spark


def cc_count_rounds(pairs, id_a="id_a", id_b="id_b", max_iter=25):
    """dedup.connected_components' loop, verbatim, plus a round counter."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    labels, obs = observed_checkpoint(
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("comp")),
        s=label_sum,
        n=F.count(F.lit(1)),
    )
    prev_sum, n_nodes = obs["s"], obs["n"]
    rounds = 0
    for _ in range(max_iter):
        lb = _bcast_state(labels, n_nodes)
        neighbor_min = edges.join(lb, edges.dst == lb.id).select(
            F.col("src").alias("id"), "comp"
        )
        labels, obs = observed_checkpoint(
            labels.unionByName(neighbor_min)
            .groupBy("id")
            .agg(F.min("comp").alias("comp")),
            s=label_sum,
        )
        rounds += 1
        if obs["s"] == prev_sum:
            break
        prev_sum = obs["s"]
    return rounds, n_nodes


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "cc_rounds_probe",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    # the exact pair graph the er_customer_entities gate feeds into CC
    cust = Tables(spark, sf_dir).customer
    pairs = sorted_neighborhood_pairs(
        cust,
        ["c_mktsegment", "c_acctbal", "c_custkey"],
        window=5,
        id_col="c_custkey",
        carry_cols=("c_nationkey", "c_acctbal"),
    )
    matched = pairs.filter(
        (F.col("c_nationkey_a") == F.col("c_nationkey_b"))
        & (F.abs(F.col("c_acctbal_b") - F.col("c_acctbal_a")) <= 100)
    ).select("id_a", "id_b")

    t0 = time.time()
    rounds, nodes = cc_count_rounds(matched)
    print(
        f"er_customer_entities CC: rounds={rounds} nodes={nodes} "
        f"wall={time.time() - t0:.2f}s",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
