"""Fresh-JVM A/B: round-6 blocking shape vs legacy (probe).

One measurement per process. --impl legacy monkeypatches the r5 shapes
(branch-union keys, groupBy minhash, stats-broadcast small/hot split) into
operators.blocking; --impl new uses the tree as-is. Times the full
stage_pairs dataflow the way bench.py does (build + artifact + checkpoint
write + count), minus the offers build (pre-built once into a shared
workdir by --prep).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG  # noqa: E402
from entity_matching_in_online_retail_spark.functions import hashing as H  # noqa: E402
from entity_matching_in_online_retail_spark.operators import blocking as B  # noqa: E402
from entity_matching_in_online_retail_spark.plans.pipeline import ERPipeline  # noqa: E402
from entity_matching_in_online_retail_spark.session import get_spark  # noqa: E402

ap = argparse.ArgumentParser()
ap.add_argument("--impl", choices=["new", "legacy"], default="new")
ap.add_argument("--prep", action="store_true")
ap.add_argument("--workdir", default="/tmp/er_block_ab")
args = ap.parse_args()

cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = get_spark("probe_block_ab", cores=cores, shuffle_partitions=2 * cores)


def legacy_minhash_signature(df, id_col="record_id", tokens_col="tokens", k=64):
    tok = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens_col, lambda t: F.xxhash64(t))).alias("_th"),
    )
    aggs = [F.min(F.xxhash64(F.col("_th"), F.lit(i))).alias(f"_h{i}") for i in range(k)]
    sig = tok.groupBy(id_col).agg(*aggs)
    return sig.select(id_col, F.array(*[F.col(f"_h{i}") for i in range(k)]).alias("sig"))


def legacy_all_block_keys(offers, cfg, id_col="record_id"):
    sigs = legacy_minhash_signature(
        offers.where(F.size("tokens") > 0), id_col, "tokens", cfg.minhash_k
    )
    mh = H.lsh_band_keys(sigs, cfg.lsh_bands, cfg.lsh_rows, id_col)
    return (
        B.prefix_block_keys(offers, cfg, id_col)
        .unionByName(B.leading_token_block_keys(offers, id_col))
        .unionByName(B.domain_block_keys(offers, id_col))
        .unionByName(mh)
    )


def legacy_cap_blocks(blocks, cfg, id_col="record_id"):
    from pyspark.sql import Window as W

    w = W.partitionBy("block_key").orderBy(F.col(id_col))
    return (
        blocks.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cfg.block_cap)
        .drop("_rn")
    )


def legacy_candidate_pairs(blocks, cfg, id_col="record_id", stats=None):
    blocks = blocks.drop("_bsize")
    stats = blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_size"))
    hot_keys = F.broadcast(
        stats.where(F.col("block_size") > cfg.salt_threshold).select("block_key")
    )
    small = blocks.join(hot_keys, "block_key", "left_anti")
    hot = blocks.join(hot_keys, "block_key", "left_semi")
    sl = small.select("block_key", F.col(id_col).alias("id_l"))
    sr = small.select("block_key", F.col(id_col).alias("id_r"))
    small_pairs = sl.join(sr, "block_key").where(F.col("id_l") < F.col("id_r"))
    s = cfg.salt_buckets
    left = hot.select(
        "block_key", F.col(id_col).alias("id_l"), H.salt(F.col(id_col), s).alias("_salt")
    )
    right = hot.select(
        "block_key",
        F.col(id_col).alias("id_r"),
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


if args.prep:
    shutil.rmtree(args.workdir, ignore_errors=True)
    os.makedirs(args.workdir, exist_ok=True)
    pages = spark.read.parquet(os.path.join(REPO, ".bench_cache", "corpus_e20000", "web_pages"))
    pipe = ERPipeline(spark, args.workdir)
    pipe.stage_offers(pages, use_html=True)
    print("prepped", flush=True)
    spark.stop()
    sys.exit(0)

if args.impl == "legacy":
    B.all_block_keys = legacy_all_block_keys
    B.cap_blocks = legacy_cap_blocks
    B.candidate_pairs = legacy_candidate_pairs

pipe = ERPipeline(spark, args.workdir)
offers = pipe.catalog.read("offers")
# clear any pairs/keys state from a previous rep
shutil.rmtree(os.path.join(args.workdir, "pairs"), ignore_errors=True)
shutil.rmtree(os.path.join(args.workdir, "block_keys"), ignore_errors=True)
shutil.rmtree(os.path.join(args.workdir, "_manifests", "pairs"), ignore_errors=True)

t0 = time.time()
pairs = pipe.stage_pairs(offers)
n = pairs.count()
wall = round(time.time() - t0, 3)
print(json.dumps({"impl": args.impl, "block_stage_sec": wall, "n_pairs": n}), flush=True)
spark.stop()
