"""Batch query execution: a whole query LOG ranked in one plan.

The reference (like any single-node engine) evaluates one query per
call (``InvertedIndexManager.searchTfIdf``, IIM:543-...). On a
cluster, per-query jobs waste the scan: a thousand BM25 queries touch
largely the same postings. This operator hands the whole log
``{qid: {term: qtf}}`` to the one scoring plan, ``query.score_terms``,
which single queries run as the log ``{0: ...}``:

1. postings are scanned ONCE, IN-filtered to the union of all query
   terms (pushdown intact — for a big log this converges to a full
   posting scan, which is exactly the amortization);
2. each posting row takes its term's (df, cf, [(qid, qtf)]) entry
   from one literal map — the statistics come from the driver-side
   term dictionary, so no term_stats scan or join is planned — and
   its exploded hits join doc_stats on doc_id, then fan out across
   queries by ``inline`` over that list — each posting row multiplies
   only by the queries that contain its term;
3. per-(qid, doc) partial+final hash aggregation of BM25
   contributions;
4. per-query top-k as a window rank over (qid), shuffling only the
   SCORED rows.

Building the plan runs no Spark job on a persisted index (the
dictionary lookup is a pyarrow read on the driver). Wall-clock is sublinear in
#queries (the scan/join dominate and are shared); the driver never
sees more than the final k×|queries| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .indexer import InvertedIndex
from .query import _query_weights, bm25_contrib_sql, score_terms


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
    each qid. Queries whose terms all analyze away produce no rows."""
    weights = {int(q): _query_weights(index, t) for q, t in queries.items()}
    scored = score_terms(index, weights, {"score": bm25_contrib_sql(index)}, "score")
    col = "score"
    if rank_e6:
        col = "score_e6"
        scored = scored.withColumn(col, F.round(F.col("score") * 1_000_000).cast("long"))
    w = Window.partitionBy("qid").orderBy(F.desc(col), F.asc("doc_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("qid", "doc_id", col)
    )
