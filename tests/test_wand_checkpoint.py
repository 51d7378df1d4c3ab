"""Block-max WAND exactness + checkpointed build resume/lineage."""

import json
import os

import pytest
from pyspark.sql import functions as F

from peterman_search_engine_spark.operators.indexer import build_index
from peterman_search_engine_spark.operators.query import search_bm25
from peterman_search_engine_spark.operators.wand import bm25_topk_wand
from peterman_search_engine_spark.plans.checkpoint import (
    build_index_checkpointed,
    load_index,
    metrics_df,
)


@pytest.fixture(scope="module")
def small_corpus(spark):
    from peterman_search_engine_spark.sources.adapters import corpus_from_transcripts
    from peterman_search_engine_spark.sources.transcripts import generate_transcripts

    return corpus_from_transcripts(
        generate_transcripts(spark, "small")
    ).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def small_index(small_corpus):
    idx = build_index(
        small_corpus, stem=False, positional=False,
        docs_per_segment=200, block_size=16,
    )
    idx.postings = idx.postings.localCheckpoint(eager=True)
    idx.doc_stats = idx.doc_stats.localCheckpoint(eager=True)
    idx.term_stats = idx.term_stats.localCheckpoint(eager=True)
    return idx


QUERIES = [
    ["spark", "merge"],
    ["index", "query", "vector"],
    ["stem"],
    ["spark", "spark", "shuffle"],  # duplicate query term
    ["latency", "throughput", "cluster", "executor"],
]


@pytest.mark.parametrize("terms", QUERIES)
def test_wand_rank_identical(small_index, terms):
    k = 10
    base = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_bm25(small_index, terms, k).collect()
    ]
    got_df, stats = bm25_topk_wand(
        small_index, terms, k, force_prune=True, return_stats=True
    )
    got = [(r["doc_id"], round(r["score"], 9)) for r in got_df.collect()]
    assert got == base
    assert stats["theta"] >= 0.0


def test_wand_prunes_blocks(small_index):
    _, stats = bm25_topk_wand(
        small_index, ["spark", "merge"], 5, force_prune=True, return_stats=True
    )
    # with a selective query and theta>0 some non-seed blocks must die
    assert stats["blocks_total_nonseed"] > 0
    assert stats["blocks_decoded"] <= stats["blocks_total_nonseed"]


def test_wand_cost_gate(small_index):
    """Below the posting-volume threshold the gate returns the
    exhaustive plan (identical result, no pruning machinery)."""
    res, stats = bm25_topk_wand(
        small_index, ["spark", "merge"], 5, return_stats=True
    )
    assert stats.get("gated_exhaustive") is True
    assert stats["est_entries"] > 0
    base = search_bm25(small_index, ["spark", "merge"], 5)
    assert [tuple(r) for r in res.collect()] == [tuple(r) for r in base.collect()]
    # forcing a tiny threshold takes the pruned path
    _, stats2 = bm25_topk_wand(
        small_index, ["spark", "merge"], 5, prune_min_entries=1,
        return_stats=True,
    )
    assert "theta" in stats2


def test_wand_exact_with_duplicate_posting_rows(spark, small_corpus):
    """Streaming-built indexes carry one posting row per (micro-batch,
    segment, term); a batch boundary inside a segment (the normal case
    — batch sizes are NOT multiples of docs_per_segment) produces
    duplicate (segment, term) rows with disjoint doc ranges. WAND's
    block ranges are derived per ROW, so it must stay exact."""
    from peterman_search_engine_spark.functions.analysis import tokens_expr
    from peterman_search_engine_spark.operators.indexer import (
        InvertedIndex,
        postings_from_corpus,
    )

    n = small_corpus.count()
    cut = 777  # deliberately NOT a multiple of docs_per_segment=200
    assert cut < n
    doc_stats = small_corpus.select(
        "doc_id", F.size(tokens_expr("text")).alias("doc_len")
    ).localCheckpoint(eager=True)
    avg_len = float(doc_stats.agg(F.avg("doc_len")).collect()[0][0])
    halves = [
        postings_from_corpus(
            small_corpus.filter(cond), avg_len=avg_len, stem=False,
            positional=False, docs_per_segment=200,
        )
        for cond in (F.col("doc_id") < cut, F.col("doc_id") >= cut)
    ]
    posts = halves[0].unionByName(halves[1]).localCheckpoint(eager=True)
    # the split must actually create duplicate (segment, term) rows
    assert (
        posts.groupBy("segment", "term").count().filter(F.col("count") > 1).count()
        > 0
    )
    term_stats = posts.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    ).localCheckpoint(eager=True)
    idx = InvertedIndex(
        postings=posts, term_stats=term_stats, doc_stats=doc_stats,
        n_docs=n, avg_len=avg_len, positional=False, stem=False,
    )
    for terms in (["spark", "merge"], ["index", "query", "vector"]):
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_bm25(idx, terms, 10).collect()
        ]
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_wand(idx, terms, 10, force_prune=True).collect()
        ]
        assert got == want


def test_wand_unknown_terms(small_index, spark):
    df = bm25_topk_wand(small_index, ["zzzznotaterm"], 5)
    assert df.count() == 0


def test_checkpoint_build_resume(spark, small_corpus, tmp_path):
    d = str(tmp_path / "idx")
    rep1 = build_index_checkpointed(
        small_corpus, d, stem=False, positional=True,
        docs_per_segment=200, segments_per_group=2,
    )
    assert rep1["groups_built"] == rep1["groups_total"] > 1
    assert rep1["groups_skipped"] == 0

    # simulate an interrupted run: delete one group's manifest + data
    victim = 1
    os.remove(os.path.join(d, "_manifest", f"group_{victim}.json"))
    import shutil

    shutil.rmtree(os.path.join(d, "postings", f"group={victim}"))

    mtimes_before = {
        g: os.path.getmtime(os.path.join(d, "_manifest", f"group_{g}.json"))
        for g in range(rep1["groups_total"])
        if g != victim
    }
    rep2 = build_index_checkpointed(
        small_corpus, d, stem=False, positional=True,
        docs_per_segment=200, segments_per_group=2,
    )
    assert rep2["groups_built"] == 1  # ONLY the victim recomputed
    assert rep2["groups_skipped"] == rep1["groups_total"] - 1
    for g, mt in mtimes_before.items():
        assert os.path.getmtime(
            os.path.join(d, "_manifest", f"group_{g}.json")
        ) == mt  # untouched

    # loaded index answers identically to an in-memory build
    idx_disk = load_index(spark, d)
    idx_mem = build_index(
        small_corpus, stem=False, positional=True, docs_per_segment=200
    )
    from peterman_search_engine_spark.operators.query import search_bm25

    a = [(r["doc_id"], round(r["score"], 9))
         for r in search_bm25(idx_disk, ["spark", "merge"], 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in search_bm25(idx_mem, ["spark", "merge"], 10).collect()]
    assert a == b


def test_checkpoint_lineage_metrics(spark, small_corpus, tmp_path):
    d = str(tmp_path / "idx2")
    build_index_checkpointed(
        small_corpus, d, stem=False, positional=False,
        docs_per_segment=500, segments_per_group=2,
    )
    m = metrics_df(spark, d)
    rows = m.collect()
    assert len(rows) >= 1
    for r in rows:
        assert r["posting_rows"] > 0
        assert r["blob_bytes"] > 0
        assert r["parquet_bytes"] > 0
        assert r["wall_sec"] > 0
    # lineage doc ranges tile the corpus
    n_docs = small_corpus.count()
    assert max(r["doc_id_hi"] for r in rows) >= n_docs
    # audit invariant: sum of per-group posting entries == total
    # (term, doc) pairs in the corpus
    total_entries = sum(r["posting_entries"] for r in rows)
    from peterman_search_engine_spark.operators.indexer import tokenize_corpus

    expected = (
        tokenize_corpus(small_corpus, stem=False)
        .select("doc_id", F.explode("tokens").alias("t"))
        .select("doc_id", "t")
        .distinct()
        .count()
    )
    assert total_entries == expected


def test_stats_json_written(spark, small_corpus, tmp_path):
    d = str(tmp_path / "idx3")
    build_index_checkpointed(
        small_corpus, d, stem=False, positional=False,
        docs_per_segment=500, segments_per_group=4,
    )
    with open(os.path.join(d, "stats.json")) as f:
        stats = json.load(f)
    assert stats["n_docs"] == small_corpus.count()
    assert stats["avg_len"] > 0


def test_wand_prunes_on_skewed_corpus(spark):
    """Block-max pruning must actually prune when score distributions
    are skewed (the realistic case): a rare high-tf term concentrated
    in one doc_id region lets the overlap-aligned bounds kill the rest
    of the blocks — while the result stays exactly the exhaustive
    top-k."""
    from pyspark.sql import functions as F

    from peterman_search_engine_spark.operators.indexer import build_index
    from peterman_search_engine_spark.operators.query import search_bm25
    from peterman_search_engine_spark.operators.wand import bm25_topk_wand

    n = 2000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("common filler text word"),
            # 'rare' only in docs 100-119, with growing tf
            F.when(
                (F.col("id") >= 100) & (F.col("id") < 120),
                F.concat_ws(" ", F.array_repeat(F.lit(" rare"), 5)),
            ).otherwise(F.lit("")),
            F.lit(" tail"),
        ).alias("text"),
    )
    idx = build_index(docs, stem=False, positional=False, docs_per_segment=250)
    idx.postings = idx.postings.localCheckpoint(eager=True)
    idx.doc_stats = idx.doc_stats.localCheckpoint(eager=True)
    idx.term_stats = idx.term_stats.localCheckpoint(eager=True)

    got, stats = bm25_topk_wand(
        idx, ["rare", "common"], 10, seed_segments=1, force_prune=True,
        return_stats=True,
    )
    want = search_bm25(idx, ["rare", "common"], 10)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert stats["prune_ratio"] > 0.3, stats


def test_wand_essential_df_routing(spark):
    """r4: the second (planner-time) gate. An all-common query — every
    term essential, essential-df fraction ~1 — must route to the
    exhaustive plan (pruning cannot pay: decode+rescore approach the
    full scan); a rare-AND-common query on the same kind of corpus
    keeps the pruned path (fraction ~0). force_prune bypasses the
    route for diagnostics, with identical results."""
    from pyspark.sql import functions as F

    from peterman_search_engine_spark.operators.indexer import build_index
    from peterman_search_engine_spark.operators.query import search_bm25
    from peterman_search_engine_spark.operators.wand import bm25_topk_wand

    n = 2000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta filler"),
            F.when(F.col("id") % 3 == 0, F.lit(" alpha")).otherwise(F.lit("")),
            F.when(
                (F.col("id") >= 100) & (F.col("id") < 120),
                F.concat_ws(" ", F.array_repeat(F.lit(" zrare"), 5)),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    idx = build_index(docs, stem=False, positional=False, docs_per_segment=250)

    # all-common: both terms in every doc -> routed exhaustive
    res, stats = bm25_topk_wand(
        idx, ["alpha", "beta"], 5, prune_min_entries=1, return_stats=True
    )
    assert stats.get("gated_exhaustive") is True
    assert stats["reason"] == "essential_df_fraction"
    assert stats["essential_df_fraction"] >= 0.5
    base = search_bm25(idx, ["alpha", "beta"], 5)
    assert [tuple(r) for r in res.collect()] == [tuple(r) for r in base.collect()]

    # force_prune bypasses the route, prunes nothing useful, but stays exact
    res_f, stats_f = bm25_topk_wand(
        idx, ["alpha", "beta"], 5, prune_min_entries=1, force_prune=True,
        return_stats=True,
    )
    assert "blocks_decoded" in stats_f
    assert [tuple(r) for r in res_f.collect()] == [tuple(r) for r in base.collect()]

    # rare-AND-common on the same corpus: fraction ~0 -> pruned path taken
    res_r, stats_r = bm25_topk_wand(
        idx, ["zrare", "alpha"], 5, prune_min_entries=1, return_stats=True
    )
    assert not stats_r.get("gated_exhaustive"), stats_r
    assert stats_r["essential_df_fraction"] < 0.5
    base_r = search_bm25(idx, ["zrare", "alpha"], 5)
    assert [tuple(r) for r in res_r.collect()] == [tuple(r) for r in base_r.collect()]
