"""A/B: observe()-metrics-on-write vs legacy read-back metrics pass for the
scores stage write (probe). Alternated in one JVM, fresh stage dir per rep."""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG  # noqa: E402
from entity_matching_in_online_retail_spark.operators import features as FE  # noqa: E402
from entity_matching_in_online_retail_spark.operators import model as M  # noqa: E402
from entity_matching_in_online_retail_spark.plans.pipeline import DEFAULT_MATCHER, ERPipeline  # noqa: E402
from entity_matching_in_online_retail_spark.sources import manifest as MF  # noqa: E402
from entity_matching_in_online_retail_spark.session import get_spark  # noqa: E402

cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = get_spark("probe_obswrite", cores=cores, shuffle_partitions=2 * cores)
wd = "/tmp/er_block_ab"
pipe = ERPipeline(spark, wd)
offers = pipe.catalog.read("offers")
attrs = pipe.stage_attrs(offers)
pairs = pipe.stage_pairs(offers)
n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
cfg = DEFAULT_CONFIG


def build_scores():
    feats = FE.pair_features(
        pairs.select("id_l", "id_r").repartition(n_part),
        attrs,
        gate_jaccard=cfg.scoring.gate_jaccard,
    )
    scored = M.score_pairs(feats, DEFAULT_MATCHER)
    return scored.withColumn(
        "part_id", F.pmod(F.xxhash64("id_l", "id_r"), F.lit(cfg.n_checkpoint_partitions)).cast("int")
    )


def run_observe():
    shutil.rmtree(os.path.join(wd, "scores"), ignore_errors=True)
    shutil.rmtree(os.path.join(wd, "_manifests", "scores"), ignore_errors=True)
    df = build_scores()
    pipe._checkpoint_stage("scores", "probe_obs", lambda: df)
    return pipe.catalog.read("scores").count()


def run_legacy():
    shutil.rmtree(os.path.join(wd, "scores"), ignore_errors=True)
    shutil.rmtree(os.path.join(wd, "_manifests", "scores"), ignore_errors=True)
    df = build_scores()
    n = cfg.n_checkpoint_partitions
    pending = list(range(n))
    df_pending = df.where(F.col("part_id").isin(pending))
    pipe.catalog.write(df_pending, "scores", mode="overwrite", partition_by=["part_id"], dynamic=True)
    written = pipe.catalog.read("scores").where(F.col("part_id").isin(pending))
    MF.commit_partition_metrics(wd, "scores", written, pending, pipe.cfg_hash, "probe_leg")
    return pipe.catalog.read("scores").count()


walls = {"observe": [], "legacy": []}
for rep in range(3):
    for nme, fn in [("observe", run_observe), ("legacy", run_legacy)]:
        spark.sparkContext.setJobDescription(f"scores write {nme}")
        t0 = time.time()
        n = fn()
        walls[nme].append(round(time.time() - t0, 2))
for nme in walls:
    print(f"{nme}: min={min(walls[nme])} reps={walls[nme]}", flush=True)
shutil.rmtree(os.path.join(wd, "scores"), ignore_errors=True)
shutil.rmtree(os.path.join(wd, "_manifests", "scores"), ignore_errors=True)
spark.stop()
