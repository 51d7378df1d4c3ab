"""Batch query execution: a whole query LOG ranked in one plan.

The reference (like any single-node engine) evaluates one query per
call (``InvertedIndexManager.searchTfIdf``, IIM:543-...). On a
cluster, per-query jobs waste the scan: a thousand BM25 queries touch
largely the same postings. This operator evaluates a query-set
DataFrame ``(qid, term, qtf)`` in ONE job:

1. postings are scanned ONCE, IN-filtered to the union of all query
   terms (pushdown intact — for a big log this converges to a full
   posting scan, which is exactly the amortization);
2. exploded hits join doc_stats on doc_id (one shuffle-hash join),
   then fan out across queries via a BROADCAST join on term — each
   posting row multiplies only by the queries that contain its term;
3. per-(qid, doc) partial+final hash aggregation of BM25
   contributions;
4. per-query top-k as a window rank over (qid), shuffling only the
   SCORED rows.

Wall-clock is sublinear in #queries (the scan/join dominate and are
shared); the driver never sees more than the final k×|queries| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.session import local_frame
from .indexer import B, K1, InvertedIndex
from .query import _live, _postings_for


def _query_table(index: InvertedIndex, queries: dict[int, list[str]]) -> DataFrame:
    """Analyze each query's terms and emit (qid, term, qtf) rows.
    Queries whose terms all analyze away simply produce no rows."""
    from ..functions.analysis import analyze_query

    rows = []
    for qid, terms in sorted(queries.items()):
        qtf: dict[str, int] = {}
        for t in analyze_query(terms, stem=index.stem):
            qtf[t] = qtf.get(t, 0) + 1
        rows += [(int(qid), t, float(n)) for t, n in sorted(qtf.items())]
    spark = index.postings.sparkSession
    return local_frame(spark, rows, "qid long, term string, qtf double")


def batch_bm25_scores(
    index: InvertedIndex, qterms: DataFrame
) -> DataFrame:
    """Score every (qid, doc) pair for a query table ``(qid, term,
    qtf)``. Returns (qid, doc_id, score). The query table is assumed
    driver-small relative to the corpus (a query LOG, not a corpus) —
    it is broadcast; at the point where the log itself stops fitting
    in a broadcast, drop the hint and Catalyst falls back to a
    shuffle join, the plan is otherwise unchanged."""
    idf = (
        index.term_stats.join(
            F.broadcast(qterms.select("term").distinct()), "term"
        )
        .withColumn("idf", index.bm25_idf_col())
        .select("term", "idf")
    )
    terms = [r["term"] for r in qterms.select("term").distinct().collect()]
    p = _postings_for(index, terms)
    hits = p.select(
        "term", F.explode(F.arrays_zip("doc_ids", "tfs")).alias("_z")
    ).select(
        "term", F.col("_z.doc_ids").alias("doc_id"), F.col("_z.tfs").alias("tf")
    )
    denom = F.col("tf") + F.lit(K1) * (
        F.lit(1 - B) + F.lit(B) * F.col("doc_len") / F.lit(index.avg_len)
    )
    contrib = F.col("qtf") * F.col("idf") * F.col("tf") * F.lit(K1 + 1) / denom
    scored = (
        hits.join(index.doc_stats, "doc_id")
        .join(F.broadcast(qterms), "term")           # the per-query fan-out
        .join(F.broadcast(idf), "term")
        .withColumn("_c", contrib)
        .groupBy("qid", "doc_id")
        .agg(F.sum("_c").alias("score"))
    )
    return _live(index, scored)


def batch_bm25_topk(
    index: InvertedIndex,
    queries: dict[int, list[str]],
    top_k: int = 10,
    *,
    rank_e6: bool = False,
) -> DataFrame:
    """Top-k BM25 per query for a {qid: [terms]} log, in one job.
    Returns (qid, doc_id, score) — or (qid, doc_id, score_e6) with
    engine-portable e6-rounded ranking when ``rank_e6`` is set (the
    driver-oracle mode). Ties break (score desc, doc_id asc) within
    each qid."""
    qterms = _query_table(index, queries)
    scored = batch_bm25_scores(index, qterms)
    if rank_e6:
        scored = scored.withColumn(
            "score_e6", F.round(F.col("score") * 1_000_000).cast("long")
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("score_e6"), F.asc("doc_id")
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .select("qid", "doc_id", "score_e6")
        )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("qid", "doc_id", "score")
    )
