"""IR evaluation operators: MRR and nDCG@k over a run + qrels.

The reference ships no evaluation harness; a retrieval engine feeding
an LLM-data pipeline needs one (ranking changes must be judged against
relevance labels before they ship). ``rank_eval`` is the standard
TREC-style computation as ONE DataFrame plan:

* runs:  (qid, doc_id, rank)  — rank 1-based within qid, rank <= k
* qrels: (qid, doc_id)        — binary relevance judgments

Per query: MRR = 1/rank of the first relevant retrieved doc (0 if
none), nDCG@k with binary gains = DCG / IDCG where
DCG = Σ_{relevant hits} 1/log2(rank+1) and IDCG places the
min(|rel|, k) relevant docs at ranks 1..min(|rel|, k).

Scale posture: two hash joins on (qid, doc_id) + per-qid hash
aggregates; the per-qid row_number for IDCG partitions BY QID (never
a global window). Everything is metrics-sized after the first join —
a million-query eval is a normal shuffle, not a driver loop.

Engine parity: every term is 1/log2(integer) of exact small integers,
so Spark and the SQL oracle agree to the last ulp before the e6
round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.session import local_frame


def rank_eval(runs: DataFrame, qrels: DataFrame, *, k: int = 10) -> DataFrame:
    """Returns one row per judged query:
    (qid, n_rel, mrr_e6, ndcg_e6). Queries with no relevant docs
    retrieved score 0 for both metrics; queries absent from ``runs``
    still appear (a run that silently drops a judged query is a bug
    an eval harness must surface, not hide)."""
    runs_k = runs.filter(F.col("rank") <= k).select("qid", "doc_id", "rank")
    rel = qrels.select("qid", "doc_id").distinct()

    nrel = rel.groupBy("qid").agg(F.count("*").alias("n_rel"))

    gain = F.lit(1.0) / F.log2(F.col("rank") + F.lit(1))
    hit = (
        runs_k.join(rel, ["qid", "doc_id"])
        .groupBy("qid")
        .agg(
            F.min("rank").alias("_frank"),
            F.sum(gain).alias("_dcg"),
        )
    )

    w = Window.partitionBy("qid").orderBy(F.asc("doc_id"))
    idcg = (
        rel.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy("qid")
        .agg(F.sum(F.lit(1.0) / F.log2(F.col("_rn") + F.lit(1))).alias("_idcg"))
    )

    e6 = lambda c: F.round(c * 1_000_000).cast("long")  # noqa: E731
    return (
        nrel.join(hit, "qid", "left")
        .join(idcg, "qid", "left")
        .select(
            "qid",
            "n_rel",
            e6(F.coalesce(F.lit(1.0) / F.col("_frank"), F.lit(0.0))).alias(
                "mrr_e6"
            ),
            e6(
                F.coalesce(F.col("_dcg") / F.col("_idcg"), F.lit(0.0))
            ).alias("ndcg_e6"),
        )
        .orderBy("qid")
    )


def and_qrels(index, queries: dict[int, list[str]]) -> DataFrame:
    """Binary qrels by conjunctive containment: a doc is relevant to a
    query iff it contains EVERY analyzed query term — the reference's
    AND-search semantics (Q2) used as a deterministic stand-in
    judgment set, so the eval harness is testable without human
    labels. Returns (qid, doc_id).

    Plan: one IN-pruned posting scan over the union of all query
    terms, broadcast join to the O(Σ|q|) (qid, term) table, per
    (qid, doc) distinct-term count against the per-qid term count."""
    from .query import _analyzed, _live, _postings_for

    spark = index.postings.sparkSession
    rows = []
    for qid, terms in sorted(queries.items()):
        for t in sorted(set(_analyzed(index, terms))):
            rows.append((int(qid), t))
    if not rows:
        return local_frame(spark, [], "qid int, doc_id long")
    qdf = local_frame(spark, rows, "qid int, term string")
    need = qdf.groupBy("qid").agg(F.count("*").alias("_need"))
    p = _postings_for(index, sorted({t for _, t in rows}))
    hits = p.select(
        "term", F.explode("doc_ids").alias("doc_id")
    )
    out = (
        hits.join(F.broadcast(qdf), "term")
        .groupBy("qid", "doc_id")
        .agg(F.countDistinct("term").alias("_n"))
        .join(F.broadcast(need), "qid")
        .filter(F.col("_n") == F.col("_need"))
        .select("qid", "doc_id")
    )
    return _live(index, out)
