"""Micro A/B (probe): small-blocks self-join strategy over the checkpointed
capped key table — broadcast (current) vs merge-hint SMJ.

Hypothesis (guide §2.4/§3.1): cap_blocks' windows leave the localCheckpoint'd
capped table hash-partitioned by block_key AND sorted by (block_key, id)
within partitions, and Dataset.localCheckpoint preserves outputPartitioning/
outputOrdering into the LogicalRDD — so a sort-merge self-join on block_key
needs NO exchange and NO sort, while the current broadcast build collects and
builds a hash relation over the full 3.5M-row capped table single-threaded.

Prints Exchange/Sort/Join node counts per variant plus alternated warm walls
of the full candidate_pairs (incl. the dedupe exchange) with a noop sink.
"""

from __future__ import annotations

import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG  # noqa: E402
from entity_matching_in_online_retail_spark.functions import hashing as H  # noqa: E402
from entity_matching_in_online_retail_spark.operators import blocking as B  # noqa: E402
from entity_matching_in_online_retail_spark.session import get_spark  # noqa: E402

cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = get_spark("probe_smalljoin_ab", cores=cores, shuffle_partitions=2 * cores)
offers = spark.read.parquet("/tmp/er_block_ab/offers")
cfg = DEFAULT_CONFIG.blocking
capped = B.cap_blocks(B.all_block_keys(offers, cfg), cfg).localCheckpoint(eager=True)


def pairs_variant(join_impl: str):
    small = capped.where(F.col("_bsize") <= cfg.salt_threshold).drop("_bsize")
    hot = capped.where(F.col("_bsize") > cfg.salt_threshold).drop("_bsize")
    sl = small.select("block_key", F.col("record_id").alias("id_l"))
    sr = small.select("block_key", F.col("record_id").alias("id_r"))
    if join_impl == "merge":
        sr = sr.hint("merge")
    small_pairs = sl.join(sr, "block_key").where(F.col("id_l") < F.col("id_r"))
    s = cfg.salt_buckets
    left = hot.select(
        "block_key", F.col("record_id").alias("id_l"),
        H.salt(F.col("record_id"), s).alias("_salt"),
    )
    right = hot.select(
        "block_key", F.col("record_id").alias("id_r"),
        F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("_salt"),
    )
    hot_pairs = left.join(right, ["block_key", "_salt"]).where(
        F.col("id_l") < F.col("id_r")
    )
    return (
        small_pairs.select("id_l", "id_r")
        .unionByName(hot_pairs.select("id_l", "id_r"))
        .dropDuplicates(["id_l", "id_r"])
    )


def plan_shape(df) -> str:
    p = df._jdf.queryExecution().executedPlan().toString()
    # shuffle exchanges only: \b keeps BroadcastExchange/ReusedExchange out
    n_shuffle = len(re.findall(r"\bExchange\b", p))
    return (
        f"ShuffleExchange={n_shuffle} Sort={p.count('Sort ')} "
        f"SMJ={p.count('SortMergeJoin')} BHJ={p.count('BroadcastHashJoin')}"
    )


for nme in ("bcast", "merge"):
    print(nme, plan_shape(pairs_variant(nme)), flush=True)

walls = {"bcast": [], "merge": []}
counts = {}
for rep in range(4):
    for nme in ("merge", "bcast") if rep % 2 else ("bcast", "merge"):
        spark.sparkContext.setJobDescription(f"smalljoin {nme} rep{rep}")
        t0 = time.time()
        pairs_variant(nme).write.format("noop").mode("overwrite").save()
        walls[nme].append(round(time.time() - t0, 2))
# one count per variant as a sanity check (dedupe makes sets equal by design)
for nme in ("bcast", "merge"):
    counts[nme] = pairs_variant(nme).count()
for nme in walls:
    print(f"{nme}: min={min(walls[nme])} reps={walls[nme]} n={counts[nme]}", flush=True)
spark.stop()
