"""Incremental entity resolution: assign a batch of NEW records to an
EXISTING clustering without re-blocking / re-scoring the whole corpus.

This is the daily-append shape at web scale: the corpus holds 10^12 resolved
documents, a crawl delivers 10^8 new ones, and re-running the full pipeline
(10^10+ candidate pairs) for a 0.01% increment is the wrong plan. The
incremental plan touches only work proportional to the increment:

0. The increment-derived tables are computed ONCE: `incremental_assign`
   materializes the increment's attribute vectors and block keys
   (localCheckpoint) before any consumer reads them. Scoring, pair
   generation and the caller's batch writes (plans/append.py) all read
   those two checkpoints from `IncrementResult`; nothing re-derives them
   from the increment's text.
1. Old-record block keys are READ from the persisted `block_keys` artifact
   of the run that produced `old_clusters` (`old_keys`), never recomputed:
   the key table is restricted to blocks containing at least one new record
   before capping (left-semi on the increment's keys), and pair generation
   keeps only pairs with at least one new endpoint — old-old pairs were
   already scored in that run and are represented by the contraction below.
   Without the artifact (legacy workdirs), keys are recomputed over old ∪
   new offers, with the same candidate set.
2. New-record attribute vectors use the IDF fitted at the last FULL run
   (frozen vocabulary — incremental scoring must be deterministic w.r.t. the
   model lineage; vocabulary drift is handled by the pipeline's config/
   lineage hash forcing a periodic full rebuild, not by silently refitting).
3. Match edges >= tau are CONTRACTED: every old endpoint is replaced by its
   existing cluster_id (cluster_id is the min member id, so the contracted
   node space shares the record-id domain and stays collision-free), then
   large-star/small-star connected components run on a graph whose size is
   O(increment), not O(corpus).
4. A component's label is its CC root = min(old cluster ids, new record ids)
   in the component — exactly the label a full batch re-run would converge
   to for that merged component. Old clusters touched by a merge are
   relabeled; untouched old assignments are byte-identical passthrough.

Semantics vs a full batch re-run (tested in tests/test_incremental.py):
identical cluster PARTITIONS whenever (a) block caps are not binding at the
displaced margin and (b) the batch run uses the same frozen IDF. Incremental
mode is deliberately merge-only — it never SPLITS an existing cluster
(edges inside old clusters are kept by contraction, not re-scored); splits
require a full rebuild, which the manifest lineage already forces on any
config/model change.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from . import blocking as B
from . import cluster as C
from . import features as FE
from . import model as M


@dataclass
class IncrementResult:
    assignments: DataFrame  # (record_id, cluster_id) for old ∪ new records
    merges: DataFrame  # (old_cluster_id, merged_into) — audit of merged clusters
    new_attrs: DataFrame  # offers_with_vectors(new_offers, idf), checkpointed
    new_keys: DataFrame  # all_block_keys(new_offers), checkpointed


def incremental_pairs(
    old_offers: DataFrame | None,
    new_offers: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "record_id",
    old_keys: DataFrame | None = None,
    new_keys: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs touching at least one new record.

    Blocks and caps are computed over the union (same dataflow as the batch
    `stage_pairs`, so the candidate set agrees with a batch re-run), but the
    quadratic pair generation runs only inside blocks that contain a new
    record. The increment's id set and its touched block keys are
    increment-sized — broadcast them; the full block table is never
    re-shuffled into pairs.

    When `old_keys` (the persisted `block_keys` artifact of the run that
    produced the existing clustering: (record_id, block_key), uncapped) is
    given, old-record keys are READ, not recomputed — no scan of the old
    corpus text happens at all. The key table is then restricted to blocks
    containing a new record BEFORE capping; per-block capping commutes with
    that restriction (row_number windows are per block_key), and blocks
    without a new member can only yield old-old pairs, which the final
    new-endpoint filter drops anyway — so the pair set is identical to the
    recompute path (tested in tests/test_incremental.py). The fast path does
    not touch `old_offers` at all — pass None to prove (by construction)
    that an append plan contains no old-corpus scan. `new_keys` is the
    increment's already-materialized `all_block_keys(new_offers)`; the fast
    path reads it instead of deriving the keys again.
    """
    new_ids = new_offers.select(id_col)
    if old_keys is None:
        if old_offers is None:
            raise ValueError("old_offers is required when old_keys is not given")
        # Checkpointed offers carry bookkeeping columns (part_id) the fresh
        # increment lacks — block over the shared offer schema.
        cols = [c for c in new_offers.columns if c in set(old_offers.columns)]
        union = old_offers.select(*cols).unionByName(new_offers.select(*cols))
        keys = B.all_block_keys(union, cfg.blocking, id_col)
    else:
        if new_keys is None:
            new_keys = B.all_block_keys(new_offers, cfg.blocking, id_col)
        # Stale rows for records being (re)resolved this batch (crash
        # recovery re-entries) are superseded by the fresh new_keys.
        old_eff = old_keys.select(id_col, "block_key").join(
            F.broadcast(new_ids), id_col, "left_anti"
        )
        touched0 = F.broadcast(new_keys.select("block_key").distinct())
        keys = (
            old_eff.join(touched0, "block_key", "left_semi")
            .unionByName(new_keys)
        )
    capped = B.cap_blocks(keys, cfg.blocking, id_col)
    touched = (
        capped.join(F.broadcast(new_ids), id_col, "left_semi")
        .select("block_key")
        .distinct()
    )
    blocks_t = capped.join(F.broadcast(touched), "block_key", "left_semi")
    pairs = B.candidate_pairs(blocks_t, cfg.blocking, id_col)
    l_new = pairs.join(
        F.broadcast(new_ids.withColumnRenamed(id_col, "id_l")), "id_l", "left_semi"
    )
    r_new = pairs.join(
        F.broadcast(new_ids.withColumnRenamed(id_col, "id_r")), "id_r", "left_semi"
    )
    return l_new.unionByName(r_new).dropDuplicates(["id_l", "id_r"])


def incremental_assign(
    old_offers: DataFrame | None,
    old_attrs: DataFrame,
    old_clusters: DataFrame,
    new_offers: DataFrame,
    idf: DataFrame,
    matcher: M.LinearMatcher,
    tau: float,
    cfg: PipelineConfig,
    old_keys: DataFrame | None = None,
) -> IncrementResult:
    """Resolve `new_offers` against an existing clustering.

    old_attrs is the checkpointed `attrs` stage of the run that produced
    `old_clusters`; idf is that run's fitted IDF table (frozen vocabulary);
    old_keys (optional) is that run's persisted `block_keys` artifact — when
    given, the append plan never recomputes old-record block keys.

    The increment's vectors and keys are each materialized once here and
    returned on the result, so a caller persisting them reads the same
    checkpoints the scoring plan read.
    """
    new_attrs = FE.offers_with_vectors(new_offers, idf).localCheckpoint(eager=True)
    new_keys = B.all_block_keys(new_offers, cfg.blocking).localCheckpoint(eager=True)
    attrs = old_attrs.select(*new_attrs.columns).unionByName(new_attrs)

    pairs = incremental_pairs(
        old_offers, new_offers, cfg, old_keys=old_keys, new_keys=new_keys
    )
    feats = FE.pair_features(
        pairs.select("id_l", "id_r"), attrs, gate_jaccard=cfg.scoring.gate_jaccard
    )
    edges = M.match_edges(M.score_pairs(feats, matcher), tau)

    # Contract old endpoints to their cluster id; drop intra-cluster edges.
    def _side(side: str) -> DataFrame:
        return old_clusters.select(
            F.col("record_id").alias(side), F.col("cluster_id").alias(f"_cl_{side}")
        )

    contracted = (
        edges.join(_side("id_l"), "id_l", "left")
        .join(_side("id_r"), "id_r", "left")
        .select(
            F.coalesce("_cl_id_l", "id_l").alias("id_l"),
            F.coalesce("_cl_id_r", "id_r").alias("id_r"),
        )
        .where(F.col("id_l") != F.col("id_r"))
    )
    comps = C.connected_components(contracted)  # (record_id=node, cluster_id=root)
    root = comps.withColumnRenamed("record_id", "_node").withColumnRenamed(
        "cluster_id", "_root"
    )

    # Old records: relabel through their cluster's (possibly merged) root.
    old_out = (
        old_clusters.join(
            root, old_clusters["cluster_id"] == root["_node"], "left"
        )
        .select(
            "record_id", F.coalesce("_root", "cluster_id").alias("cluster_id")
        )
    )
    # New records: CC root when the record matched anything, else singleton.
    new_out = C.assign_clusters(new_offers.select("record_id"), comps)

    merges = (
        old_clusters.select("cluster_id")
        .distinct()
        .join(root, F.col("cluster_id") == F.col("_node"))
        .where(F.col("_root") != F.col("cluster_id"))
        .select(
            F.col("cluster_id").alias("old_cluster_id"),
            F.col("_root").alias("merged_into"),
        )
    )
    return IncrementResult(
        assignments=old_out.unionByName(new_out), merges=merges,
        new_attrs=new_attrs, new_keys=new_keys,
    )
