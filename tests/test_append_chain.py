"""Chained appends (jobs/run_append.py::append_batch): successive batches
must land on exactly the labels a single batch run over everything produces
(frozen base IDF), later batches must match against earlier increments, a
crash between the increment write and the clusters write must self-heal on
the next append, appends must be O(increment) (no IDF refit, no corpus-wide
block-key recompute), and compaction must fold increments into the base
stores without changing any label."""

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"),
)

import run_append as RA  # noqa: E402
from run_append import append_batch, compact_workdir  # noqa: E402

from entity_matching_in_online_retail_spark import fixtures as fx
from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG
from entity_matching_in_online_retail_spark.functions import similarity as S
from entity_matching_in_online_retail_spark.operators import blocking as B
from entity_matching_in_online_retail_spark.operators import cluster as C
from entity_matching_in_online_retail_spark.operators import features as FE
from entity_matching_in_online_retail_spark.operators import model as M
from entity_matching_in_online_retail_spark.operators.normalize import (
    normalize_web_pages,
)
from entity_matching_in_online_retail_spark.plans.pipeline import ERPipeline


def _labels(df):
    return {r.record_id: r.cluster_id for r in df.collect()}


def _batch_resolve(offers, idf, cfg, matcher, tau):
    keys = B.all_block_keys(offers, cfg.blocking)
    pairs = B.candidate_pairs(B.cap_blocks(keys, cfg.blocking), cfg.blocking)
    attrs = FE.offers_with_vectors(offers, idf)
    feats = FE.pair_features(
        pairs.select("id_l", "id_r"), attrs, gate_jaccard=cfg.scoring.gate_jaccard
    )
    edges = M.match_edges(M.score_pairs(feats, matcher), tau)
    return C.assign_clusters(
        offers.select("record_id"), C.connected_components(edges)
    )


@pytest.fixture(scope="module")
def chain_env(spark, tmp_path_factory):
    cfg = DEFAULT_CONFIG
    wd = str(tmp_path_factory.mktemp("append_chain"))
    corpus = fx.generate_corpus(n_entities=50, seed=11)
    pages, labeled, _ = fx.corpus_to_spark(spark, corpus)
    part = F.pmod(F.xxhash64("url"), F.lit(5))
    base_pages = pages.where(part <= 2)
    batch_a = pages.where(part == 3)
    batch_b = pages.where(part == 4)
    res = ERPipeline(spark, wd, cfg).run(base_pages, labeled_urls=labeled)
    return cfg, wd, pages, base_pages, batch_a, batch_b, res, labeled


def test_chained_appends_equal_batch_run(spark, chain_env):
    cfg, wd, pages, base_pages, batch_a, batch_b, res, _ = chain_env
    # round 4: the base run persists the artifacts appends load
    assert os.path.isdir(os.path.join(wd, "idf"))
    assert os.path.isdir(os.path.join(wd, "block_keys"))

    out_a = append_batch(spark, wd, batch_a, cfg)
    assert out_a["new_records"] > 0 and out_a["recovered_records"] == 0
    out_b = append_batch(spark, wd, batch_b, cfg)
    assert out_b["new_records"] > 0 and out_b["recovered_records"] == 0
    # batch B saw batch A's records: known set grew between the two calls
    assert out_b["base_records"] == out_a["base_records"] + out_a["new_records"]

    got = _labels(spark.read.parquet(os.path.join(wd, "clusters")))

    base_offers = normalize_web_pages(base_pages, lang=cfg.lang_filter)
    offers_all = normalize_web_pages(pages, lang=cfg.lang_filter)
    idf = S.fit_idf(base_offers)  # the frozen vocabulary append_batch uses
    want = _labels(
        _batch_resolve(offers_all, idf, cfg, res.model, res.threshold)
    )
    assert got == want

    # every applied batch left a committed artifact triple + merges audit
    for stage in ("offers", "attrs", "block_keys"):
        assert len(RA._list_batches(RA._inc_dir(wd, stage))) == 2
    assert RA._uncommitted_batches(wd) == []
    assert len(RA._list_batches(os.path.join(wd, "merges"))) == 2

    # applying an already-applied batch is a no-op
    out_again = append_batch(spark, wd, batch_b, cfg)
    assert out_again["new_records"] == 0
    assert _labels(spark.read.parquet(os.path.join(wd, "clusters"))) == want


def test_append_is_o_increment(spark, chain_env, monkeypatch):
    """With persisted idf/block_keys, an append must never refit the IDF and
    must compute block keys only over increment-sized inputs."""
    cfg, wd, pages, base_pages, batch_a, batch_b, res, labeled = chain_env
    # chain_env's module-scoped wd already has batches a+b applied; appending
    # an empty batch exercises the full load path without new records.
    def _boom(*a, **k):
        raise AssertionError("fit_idf called on the persisted-artifact path")

    key_input_counts = []
    real_keys = B.all_block_keys

    def _counting_keys(offers, bcfg, id_col="record_id"):
        key_input_counts.append(offers.count())
        return real_keys(offers, bcfg, id_col)

    monkeypatch.setattr(S, "fit_idf", _boom)
    monkeypatch.setattr(B, "all_block_keys", _counting_keys)

    out = append_batch(spark, wd, batch_b.limit(0), cfg)
    assert out["new_records"] == 0 and out["recovered_records"] == 0

    # a real (tiny) batch: block keys computed for it alone, never the corpus
    tiny = batch_b.limit(3)
    out = append_batch(spark, wd, tiny.withColumn(
        "url", F.concat(F.col("url"), F.lit("?v=oinc"))
    ), cfg)
    assert out["new_records"] > 0
    assert key_input_counts, "expected block keys computed for the increment"
    assert max(key_input_counts) <= out["new_records"]


def test_append_computes_increment_tables_once(spark, chain_env, monkeypatch):
    """An append with no pending batches derives the increment's vectors and
    block keys exactly once: scoring and the batch writes share them."""
    cfg, wd, pages, base_pages, batch_a, batch_b, res, labeled = chain_env
    assert RA._uncommitted_batches(wd) == []
    calls = {"vectors": 0, "keys": 0}
    real_vectors, real_keys = FE.offers_with_vectors, B.all_block_keys

    def _counting_vectors(*a, **k):
        calls["vectors"] += 1
        return real_vectors(*a, **k)

    def _counting_keys(*a, **k):
        calls["keys"] += 1
        return real_keys(*a, **k)

    monkeypatch.setattr(FE, "offers_with_vectors", _counting_vectors)
    monkeypatch.setattr(B, "all_block_keys", _counting_keys)

    out = append_batch(spark, wd, batch_a.limit(5).withColumn(
        "url", F.concat(F.col("url"), F.lit("?v=once"))
    ), cfg)
    assert out["new_records"] > 0 and out["recovered_records"] == 0
    assert calls == {"vectors": 1, "keys": 1}


def test_crash_between_increment_and_clusters_self_heals(
    spark, chain_env, tmp_path_factory
):
    cfg, wd0, pages, base_pages, batch_a, batch_b, res, labeled = chain_env
    # fresh labeled base run in a fresh workdir
    wd = str(tmp_path_factory.mktemp("append_crash"))
    ERPipeline(spark, wd, cfg).run(base_pages, labeled_urls=labeled)

    base_clusters = spark.read.parquet(os.path.join(wd, "clusters")).collect()
    append_batch(spark, wd, batch_a, cfg)

    # Simulate the earliest crash window: batch offers written, but attrs/
    # keys/clusters/marker all lost (the real crash state — the _COMMITTED
    # marker is written strictly after the clusters write).
    [batch] = RA._list_batches(RA._inc_dir(wd, "offers"))
    os.remove(RA._committed_marker(wd, batch))
    shutil.rmtree(os.path.join(RA._inc_dir(wd, "attrs"), batch))
    shutil.rmtree(os.path.join(RA._inc_dir(wd, "block_keys"), batch))
    shutil.rmtree(os.path.join(wd, "clusters"))
    spark.createDataFrame(
        base_clusters, "record_id bigint, cluster_id bigint"
    ).write.parquet(os.path.join(wd, "clusters"))

    out = append_batch(spark, wd, batch_b, cfg)
    assert out["recovered_records"] > 0  # batch A re-entered and re-resolved
    # recovery healed the crashed batch's artifact dirs + marker
    assert os.path.isdir(os.path.join(RA._inc_dir(wd, "attrs"), batch))
    assert os.path.isdir(os.path.join(RA._inc_dir(wd, "block_keys"), batch))
    assert RA._uncommitted_batches(wd) == []

    # the recovering batch's dirs hold exactly its own fresh records; the
    # recovered ones stay in the healed batch's dirs, re-derived exactly
    def _ids(stage, b):
        d = spark.read.parquet(os.path.join(RA._inc_dir(wd, stage), b))
        return {r.record_id for r in d.select("record_id").distinct().collect()}

    [new_batch] = [
        b for b in RA._list_batches(RA._inc_dir(wd, "offers")) if b != batch
    ]
    fresh_ids = _ids("offers", new_batch)
    assert fresh_ids and fresh_ids.isdisjoint(_ids("offers", batch))
    assert _ids("attrs", new_batch) == fresh_ids
    assert _ids("block_keys", new_batch) == fresh_ids
    idf = spark.read.parquet(os.path.join(wd, "idf"))
    healed_offers = spark.read.parquet(
        os.path.join(RA._inc_dir(wd, "offers"), batch)
    ).select(*RA.OFFER_COLS)
    healed_attrs = spark.read.parquet(
        os.path.join(RA._inc_dir(wd, "attrs"), batch)
    ).select(*FE.ATTR_COLS)
    want_attrs = FE.offers_with_vectors(healed_offers, idf).select(*FE.ATTR_COLS)
    assert sorted(healed_attrs.collect()) == sorted(want_attrs.collect())

    healed = _labels(spark.read.parquet(os.path.join(wd, "clusters")))
    # reference: the same two appends without a crash
    wd2 = str(tmp_path_factory.mktemp("append_nocrash"))
    ERPipeline(spark, wd2, cfg).run(base_pages, labeled_urls=labeled)
    append_batch(spark, wd2, batch_a, cfg)
    append_batch(spark, wd2, batch_b, cfg)
    want = _labels(spark.read.parquet(os.path.join(wd2, "clusters")))
    assert healed == want


def test_five_batch_chain_with_compaction(spark, tmp_path_factory):
    """5 chained appends with a mid-chain compaction == one-shot batch run;
    compaction keeps labels byte-identical and resets the increment roots."""
    cfg = DEFAULT_CONFIG
    wd = str(tmp_path_factory.mktemp("append_five"))
    corpus = fx.generate_corpus(n_entities=40, seed=23)
    pages, labeled, _ = fx.corpus_to_spark(spark, corpus)
    part = F.pmod(F.xxhash64("url"), F.lit(8))
    base_pages = pages.where(part <= 2)
    batches = [pages.where(part == k) for k in range(3, 8)]
    res = ERPipeline(spark, wd, cfg).run(base_pages, labeled_urls=labeled)

    for i, bp in enumerate(batches):
        out = append_batch(spark, wd, bp, cfg)
        assert out["recovered_records"] == 0
        if i == 1:  # compact after the second batch, mid-chain
            before = _labels(spark.read.parquet(os.path.join(wd, "clusters")))
            cres = compact_workdir(spark, wd, cfg)
            assert cres["compacted_batches"] == 2
            for stage in ("offers", "attrs", "block_keys"):
                assert RA._list_batches(RA._inc_dir(wd, stage)) == []
            after = _labels(spark.read.parquet(os.path.join(wd, "clusters")))
            assert after == before  # compaction never changes labels

    got = _labels(spark.read.parquet(os.path.join(wd, "clusters")))
    base_offers = normalize_web_pages(base_pages, lang=cfg.lang_filter)
    offers_all = normalize_web_pages(pages, lang=cfg.lang_filter)
    idf = S.fit_idf(base_offers)
    want = _labels(_batch_resolve(offers_all, idf, cfg, res.model, res.threshold))
    assert got == want

    # merges audit covers every append (per-batch dirs, never overwritten)
    assert len(RA._list_batches(os.path.join(wd, "merges"))) == 5

    # final compaction folds the remaining three batches
    cres = compact_workdir(spark, wd, cfg)
    assert cres["compacted_batches"] == 3
    assert _labels(spark.read.parquet(os.path.join(wd, "clusters"))) == want
    # the folded offers store now carries the whole corpus
    n_all = offers_all.count()
    assert spark.read.parquet(os.path.join(wd, "offers")).count() == n_all
    assert spark.read.parquet(os.path.join(wd, "attrs")).count() == n_all
    # a post-compaction append still works (fresh batch numbering is fine)
    out = append_batch(spark, wd, batches[0], cfg)
    assert out["new_records"] == 0  # already known — no-op


def test_compaction_crash_rolls_forward(spark, tmp_path_factory):
    """Kill compaction between the journal write and the swaps: the next
    append entry rolls it forward and labels are unchanged."""
    cfg = DEFAULT_CONFIG
    wd = str(tmp_path_factory.mktemp("compact_crash"))
    corpus = fx.generate_corpus(n_entities=30, seed=31)
    pages, labeled, _ = fx.corpus_to_spark(spark, corpus)
    part = F.pmod(F.xxhash64("url"), F.lit(5))
    ERPipeline(spark, wd, cfg).run(pages.where(part <= 3), labeled_urls=labeled)
    append_batch(spark, wd, pages.where(part == 4), cfg)
    want = _labels(spark.read.parquet(os.path.join(wd, "clusters")))

    # run compaction but crash right after the journal is written —
    # patch the plans.append module, where compact_workdir resolves its
    # globals (run_append only re-exports the names)
    from entity_matching_in_online_retail_spark.plans import append as AP

    real_finish = AP._finish_compaction

    def _crash(workdir, state):
        raise RuntimeError("simulated crash before swaps")

    AP._finish_compaction = _crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            compact_workdir(spark, wd, cfg)
    finally:
        AP._finish_compaction = real_finish

    assert os.path.exists(RA._compact_state_path(wd))
    # next entry (an empty append) recovers: journal drained, stores folded
    out = append_batch(spark, wd, pages.where(part == 4).limit(0), cfg)
    assert out["new_records"] == 0
    assert not os.path.exists(RA._compact_state_path(wd))
    assert RA._list_batches(RA._inc_dir(wd, "offers")) == []
    assert _labels(spark.read.parquet(os.path.join(wd, "clusters"))) == want
    assert spark.read.parquet(os.path.join(wd, "offers")).count() == out[
        "base_records"
    ]


def test_legacy_compaction_persists_prefold_idf(spark, tmp_path_factory):
    """ADVICE r4 (medium): compacting a pre-round-4 workdir (no idf/
    artifact) must write the refit IDF — fit over the PRE-fold base offers
    — to <wd>/idf BEFORE the swap. Otherwise the next append's fallback
    would refit over the folded (grown) corpus, silently drifting the
    frozen vocabulary away from the weights baked into every stored attrs
    vector."""
    import run_append as RA

    cfg = DEFAULT_CONFIG
    wd = str(tmp_path_factory.mktemp("legacy_compact"))
    corpus = fx.generate_corpus(n_entities=30, seed=29)
    pages, labeled, _ = fx.corpus_to_spark(spark, corpus)
    part = F.pmod(F.xxhash64("url"), F.lit(4))
    base_pages = pages.where(part <= 2)
    ERPipeline(spark, wd, cfg).run(base_pages, labeled_urls=labeled)
    append_batch(spark, wd, pages.where(part == 3), cfg)

    # what the frozen vocabulary must remain: idf fit on PRE-fold offers
    want = {
        r["token"]: round(r["idf"], 9)
        for r in S.fit_idf(
            normalize_web_pages(base_pages, lang=cfg.lang_filter)
        ).collect()
    }

    shutil.rmtree(os.path.join(wd, "idf"))  # simulate a pre-round-4 workdir
    out = compact_workdir(spark, wd, cfg)
    assert out["compacted_batches"] == 1
    assert os.path.isdir(os.path.join(wd, "idf"))  # persisted by the fix
    got = {
        r["token"]: round(r["idf"], 9)
        for r in spark.read.parquet(os.path.join(wd, "idf")).collect()
    }
    assert got == want  # pre-fold vocabulary, NOT a refit over folded corpus
