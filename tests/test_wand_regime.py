"""The WAND winning regime (sources.regime) at test scale.

The full-size study (scripts/wand_regime.py, gate open on shipped
statistics) runs at bench tier; these tests pin the semantics at a
size pytest can afford: the generator's distribution contract, the
MaxScore essential/non-essential split on the rare-AND-common query,
and pruned == exhaustive equality under force_prune.
"""

import pytest
from pyspark.sql import functions as F


def canon_topk(rows, k):
    """Driver-oracle comparison convention: structurally identical
    docs score with ~1e-15 float noise that differs between plan
    shapes' summation orders, so round to 1e-6, re-sort by
    (-score, doc_id), and compare the top k of a fetched superset."""
    return sorted(
        ((round(r.score, 6), r.doc_id) for r in rows),
        key=lambda t: (-t[0], t[1]),
    )[:k]

from peterman_search_engine_spark.operators.query import search_bm25
from peterman_search_engine_spark.operators.wand import bm25_topk_wand
from peterman_search_engine_spark.sources.regime import (
    RARE_TERM,
    build_regime_index,
    generate_rare_common_corpus,
    regime_query,
)

N = 20_000
RARE_EVERY = 50
RARE_SPAN = 5_000


@pytest.fixture(scope="module")
def regime_index(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("wand_regime"))
    # mirror build_regime_index but at test-tier distribution params
    from peterman_search_engine_spark.functions.analysis import tokens_expr
    from peterman_search_engine_spark.operators.indexer import (
        DEFAULT_BLOCK_SIZE,
        InvertedIndex,
        postings_from_aligned_corpus,
    )

    corpus = generate_rare_common_corpus(
        spark, N, rare_every=RARE_EVERY, rare_span=RARE_SPAN, partitions=8
    ).localCheckpoint(eager=True)
    corpus.select(
        "doc_id", F.size(tokens_expr("text")).alias("doc_len")
    ).write.mode("overwrite").parquet(f"{work}/doc_stats")
    doc_stats = spark.read.parquet(f"{work}/doc_stats")
    avg_len = float(doc_stats.agg(F.avg("doc_len")).collect()[0][0])
    postings_from_aligned_corpus(
        corpus, avg_len=avg_len, stem=False, positional=False
    ).write.mode("overwrite").parquet(f"{work}/postings")
    postings = spark.read.parquet(f"{work}/postings")
    postings.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    ).write.mode("overwrite").parquet(f"{work}/term_stats")
    return InvertedIndex(
        postings=postings,
        term_stats=spark.read.parquet(f"{work}/term_stats"),
        doc_stats=doc_stats,
        n_docs=N,
        avg_len=avg_len,
        positional=False,
        stem=False,
        block_size=DEFAULT_BLOCK_SIZE,
    )


def test_generator_distribution(spark):
    stats = (
        generate_rare_common_corpus(
            spark, N, rare_every=RARE_EVERY, rare_span=RARE_SPAN, partitions=8
        )
        .select(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("text").contains(RARE_TERM), 1).otherwise(0)
            ).alias("rare_docs"),
            F.sum(
                F.when(F.col("text").contains("hot0"), 1).otherwise(0)
            ).alias("hot0_docs"),
        )
        .collect()[0]
    )
    assert stats["n"] == N
    assert stats["rare_docs"] == RARE_SPAN // RARE_EVERY
    # hot term df ~ Binomial(N, 1/2)
    assert abs(stats["hot0_docs"] - N / 2) < N * 0.02


def test_generator_deterministic(spark):
    a = generate_rare_common_corpus(spark, 500, partitions=4).collect()
    b = generate_rare_common_corpus(spark, 500, partitions=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_maxscore_split_and_exactness(regime_index):
    q = regime_query()
    pruned, stats = bm25_topk_wand(
        regime_index, q, 10, force_prune=True, return_stats=True
    )
    # the rare term dominates theta -> every hot term non-essential
    assert stats["essential_terms"] == [RARE_TERM]
    # only the rare term's blocks are decoded: df(rare)/block_size
    # blocks exist, minus the seed segment's
    assert 0 < stats["blocks_decoded"] <= (RARE_SPAN // RARE_EVERY) // 128 + 8
    assert stats["prune_ratio"] > 0.9
    ex = canon_topk(search_bm25(regime_index, q, 50).collect(), 10)
    pr = canon_topk(
        bm25_topk_wand(regime_index, q, 50, force_prune=True).collect(), 10
    )
    assert ex == pr
    # sanity: the top-k really is rare-term docs
    assert all(d % RARE_EVERY == 0 and d < RARE_SPAN for _, d in pr)


def test_build_regime_index_helper(spark, tmp_path):
    idx = build_regime_index(spark, str(tmp_path), 2_000, partitions=4)
    assert idx.n_docs == 2_000
    q = regime_query()
    ex = canon_topk(search_bm25(idx, q, 25).collect(), 5)
    pr = canon_topk(
        bm25_topk_wand(idx, q, 25, force_prune=True).collect(), 5
    )
    assert ex == pr
