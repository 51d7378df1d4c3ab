"""Advanced ranking operators (beyond-reference, round 3).

The reference engine ranks flat documents with TF-IDF
(``InvertedIndexManager.java:614-650``); its query surface has no
notion of fields, document groups, or query-by-example. These three
operators add the ranking shapes a transcript-search deployment needs,
each as a declarative DataFrame plan over the same positional index:

* :func:`bm25f_scores` — weighted-field BM25 (BM25F, the "simple
  weighted-field" variant of Robertson/Zaragoza/Taylor, CIKM 2004):
  a document's leading tokens form a boosted ``head`` stream (title /
  opening turn) and the rest the ``body``. Field tf comes straight
  from the stored per-(term, doc) position lists — no re-tokenization.
* :func:`grouped_topk` — group-level retrieval: rank document GROUPS
  (a conversation's turns, a domain's pages) by aggregated member
  BM25. This is how turn-level hits roll up to conversation-level
  results for multi-turn transcripts.
* :func:`more_like_this` — query-by-example: select the document's
  top-m tf·idf terms, then run the standard BM25 ranker over them,
  excluding the example itself.

The module also holds LM-Dirichlet query likelihood, RM3 feedback
expansion and hybrid BM25 + vector fusion. Every scorer here is the
one scoring plan, ``query.score_terms`` (BM25F and LM-Dirichlet with
their own SQL sums; the rest through plain or weighted BM25), then a
top-k (TakeOrderedAndProject). Driver-side state is O(query terms) /
O(m terms) / one scalar aggregate row — metadata-sized, the same
planner-state budget as the BM25/WAND paths.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import local_frame
from .indexer import InvertedIndex
from .query import (
    _query_weights,
    _sql_double,
    bm25_tf_sql,
    score_terms,
    top_k_df,
)

# head field = analyzed-token positions [0, HEAD_LEN); weights are the
# classic title-boost shape.
HEAD_LEN = 16
W_HEAD = 2.0
W_BODY = 1.0


def weighted_doc_len(doc_len: str = "doc_len", head_len: int = HEAD_LEN,
                     w_head: float = W_HEAD, w_body: float = W_BODY) -> str:
    """Weighted document length as Spark SQL text over the SQL
    expression ``doc_len``: each head position counts w_head, each
    body position w_body."""
    dl = f"cast({doc_len} as double)"
    h = f"least({dl}, {_sql_double(head_len)})"
    return f"{_sql_double(w_head)} * {h} + {_sql_double(w_body)} * ({dl} - {h})"


def bm25f_scores(
    index: InvertedIndex,
    terms: list[str],
    *,
    head_len: int = HEAD_LEN,
    w_head: float = W_HEAD,
    w_body: float = W_BODY,
) -> DataFrame:
    """Simple-BM25F: per (term, doc) the weighted tf is
    ``w_head·tf_head + w_body·tf_body`` where ``tf_head`` counts
    occurrences at analyzed position < head_len; the length
    normalizer uses the weighted doc length and its corpus mean.
    idf and df are the standard document-level stats (a term in any
    field counts once), k1/b as the plain ranker.

    The per-field tf split is read from the index's stored position
    lists — the same arrays the phrase ranker consumes — so BM25F is
    the BM25 plan (``query.score_terms``) exploding ``positions``
    instead of ``tfs``, plus one JVM array filter per posting, not a
    re-tokenization. Returns (doc_id, score).
    """
    if not index.positional:
        raise ValueError("bm25f requires a positional index")
    weights = _query_weights(index, terms)
    if not weights:
        return local_frame(index.postings.sparkSession, [], "doc_id long, score double")
    # corpus mean of the weighted doc length: ONE scalar row
    avg_wdl = float(
        index.doc_stats.agg(
            F.avg(F.expr(weighted_doc_len("doc_len", head_len, w_head, w_body)))
        ).collect()[0][0]
    )
    tf_head = f"cast(size(filter(positions, x -> x < {int(head_len)})) as double)"
    wtf = (
        f"({_sql_double(w_head)} * {tf_head} + {_sql_double(w_body)} * "
        f"(cast(size(positions) as double) - {tf_head}))"
    )
    wdl = f"({weighted_doc_len('doc_len', head_len, w_head, w_body)})"
    contrib = f"qw * {index.bm25_idf_sql()} * {bm25_tf_sql(wtf, wdl, avg_wdl)}"
    return score_terms(
        index, {0: weights}, {"score": contrib}, "score", cols=("positions",)
    ).drop("qid")


def search_bm25f(
    index: InvertedIndex, terms: list[str], top_k: int | None, **kw
) -> DataFrame:
    return top_k_df(bm25f_scores(index, terms, **kw), top_k)


def grouped_topk(
    index: InvertedIndex,
    terms: list[str],
    docs_meta: DataFrame,
    group_col: str,
    top_k: int | None,
) -> DataFrame:
    """Group-level retrieval: BM25-score the member documents, then
    rank groups by the SUM of member scores (a conversation whose
    turns repeatedly hit the query outranks one lucky turn), carrying
    the matching-member count.

    Plan: posting-scan BM25 (unchanged) → join the (doc_id, group)
    projection of the metadata table → hash aggregate on group →
    TakeOrderedAndProject. The join shuffles on doc_id only for the
    MATCHED docs (the scored set), never the corpus; group cardinality
    bounds the aggregate output. Returns (group, n_docs, score).
    """
    from .query import bm25_scores

    scored = bm25_scores(index, terms)
    g = scored.join(
        docs_meta.select("doc_id", F.col(group_col).alias("group")), "doc_id"
    )
    out = g.groupBy("group").agg(
        F.count("*").alias("n_docs"), F.sum("score").alias("score")
    )
    ranked = out.orderBy(F.desc("score"), F.asc("group"))
    return ranked.limit(top_k) if top_k is not None else ranked


def more_like_this(
    index: InvertedIndex,
    corpus: DataFrame,
    doc_id: int,
    *,
    max_terms: int = 8,
    top_k: int | None = 10,
) -> DataFrame:
    """Query-by-example: the example document's top ``max_terms``
    terms by tf·idf (idf = the index's BM25 idf; ties broken by term
    asc on the e6-rounded weight, engine-portable) become an OR query
    ranked with the standard BM25 scorer; the example itself is
    excluded from results.

    Plan: the example's term profile is ONE document — a point lookup
    on the corpus + tokenize of a single row, joined against the
    metadata-sized term_stats table; the m selected terms come to the
    driver (O(m), planner state) and drive the ordinary
    posting-IN-scan ranker. Returns (doc_id, score).
    """
    from .indexer import tokenize_corpus
    from .query import bm25_scores

    spark = corpus.sparkSession
    one = corpus.filter(F.col("doc_id") == doc_id)
    dtf = (
        tokenize_corpus(one, stem=index.stem)
        .select(F.explode("tokens").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    w = F.col("tf").cast("double") * F.expr(index.bm25_idf_sql())
    sel = (
        dtf.join(index.term_stats, "term")
        .withColumn("w_e6", F.round(w * 1_000_000).cast("long"))
        .orderBy(F.desc("w_e6"), F.asc("term"))
        .limit(max_terms)
    )
    terms = [r["term"] for r in sel.collect()]  # O(max_terms) planner state
    if not terms:
        return local_frame(spark, [], "doc_id long, score double")
    scored = bm25_scores(index, terms).filter(F.col("doc_id") != doc_id)
    return top_k_df(scored, top_k)


def search_rm3(
    index: InvertedIndex,
    corpus: DataFrame,
    terms: list[str],
    *,
    fb_docs: int = 5,
    fb_terms: int = 5,
    exp_weight: float = 0.5,
    top_k: int | None = 10,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3 shape of
    Lavrenko & Croft's relevance models, SIGIR 2001, as popularized by
    Lucene/Anserini's rm3 rerank): run BM25, take the top ``fb_docs``
    documents as pseudo-relevant, pick the ``fb_terms`` strongest
    non-query terms from them, and re-rank with the expanded weighted
    query (original terms weight 1.0, expansion terms ``exp_weight``).

    Determinism contract (mirrored by the SQL oracle): feedback docs
    are selected on (e6-rounded score desc, doc_id asc); expansion-term
    strength is Σ_fb-docs tf(t, d) · score_e6(d) — an exact INTEGER, so
    engine and oracle select identical terms; expansion terms order by
    (strength desc, term asc).

    Plan/scale: stage 1 is the ordinary BM25 top-k
    (TakeOrderedAndProject); the feedback profile tokenizes ``fb_docs``
    documents (a doc_id-pushdown point scan of the corpus, O(fb_docs)
    rows); driver state is O(fb_docs + fb_terms) planner rows; stage 2
    is one more posting-IN-scan with |q| + fb_terms terms. Two passes
    over postings total — the textbook PRF cost. Returns
    (doc_id, score)."""
    from .indexer import tokenize_corpus
    from .query import bm25_scores_weighted

    spark = corpus.sparkSession
    weights = _query_weights(index, terms)
    if not weights:
        return local_frame(spark, [], "doc_id long, score double")
    fb_rows = (
        bm25_scores_weighted(index, weights)
        .withColumn("score_e6", F.round(F.col("score") * 1_000_000).cast("long"))
        .orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(fb_docs)
        .collect()
    )
    if not fb_rows:
        return local_frame(spark, [], "doc_id long, score double")
    fb = local_frame(
        spark,
        [(r["doc_id"], r["score_e6"]) for r in fb_rows],
        "doc_id long, score_e6 long",
    )
    fb_ids = [r["doc_id"] for r in fb_rows]
    strength = (
        tokenize_corpus(corpus.filter(F.col("doc_id").isin(fb_ids)), stem=index.stem)
        .select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .join(F.broadcast(fb), "doc_id")
        .filter(~F.col("term").isin(sorted(weights)))
        .groupBy("term")
        .agg(F.sum(F.col("tf") * F.col("score_e6")).alias("strength"))
        .orderBy(F.desc("strength"), F.asc("term"))
        .limit(fb_terms)
    )
    for r in strength.collect():  # O(fb_terms); never an original term
        weights[r["term"]] = float(exp_weight)
    return top_k_df(bm25_scores_weighted(index, weights), top_k)


# -- LM-Dirichlet (query-likelihood language model) ---------------------------

MU = 1000.0


def lm_dirichlet_scores(
    index: InvertedIndex, terms: list[str], *, mu: float = MU
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR 2001) — the third classic ranking family next to
    TF-IDF (IIM:614-650) and BM25, over the same stored statistics:

        score(q, d) = sum_t qtf_t * ln((tf_td + mu*P(t|C)) / (|d| + mu))

    with P(t|C) = cf_t / |C| from the index's global term_stats (cf =
    collection frequency) and |C| = total analyzed tokens. Evaluated in
    the shuffle-free decomposition that needs postings rows ONLY for
    matched (term, doc) pairs (unmatched query terms contribute through
    the closed form):

        score = sum_matched qtf*ln(1 + tf/(mu*P)) + K - Q*ln(|d| + mu)
        K = sum_t qtf*ln(mu*P(t|C)),  Q = sum_t qtf

    Query terms absent from the collection (cf = 0) are dropped — they
    shift every doc's score by the same -inf and carry no signal.

    The plan is the BM25 plan, ``query.score_terms``, with the matched
    sum ``qtf·ln(1 + tf/(mu·cf/|C|))`` over each term's dictionary cf
    and the closed form as its score expression. Driver state: the
    O(|q|) cf values from the dictionary lookup
    (``InvertedIndex.term_info``) for K, and |C| from the index stats
    (``InvertedIndex.collection_len``: the stored tokens, as cf counts
    them) — building the plan runs no Spark job. Returns (doc_id, score).
    """
    qtf = _query_weights(index, terms)
    spark = index.postings.sparkSession
    if not qtf:
        return local_frame(spark, [], "doc_id long, score double")
    total_c = index.collection_len()
    cf = {t: c for t, (_, c) in index.term_info(qtf).items()}
    live = {t: n for t, n in qtf.items() if cf.get(t, 0) > 0}
    if not live:
        return local_frame(spark, [], "doc_id long, score double")
    k_const = sum(n * math.log(mu * cf[t] / total_c) for t, n in live.items())
    q_total = sum(live.values())
    mu_sql, c_sql = _sql_double(mu), _sql_double(total_c)
    return score_terms(
        index,
        {0: live},
        {"m": f"qw * ln(1.0D + tf / ({mu_sql} * (cf / {c_sql})))"},
        f"m + {_sql_double(k_const)} - {_sql_double(q_total)} * ln(doc_len + {mu_sql})",
    ).drop("qid")


def search_lm_dirichlet(
    index: InvertedIndex, terms: list[str], top_k: int | None, *, mu: float = MU
) -> DataFrame:
    return top_k_df(lm_dirichlet_scores(index, terms, mu=mu), top_k)


# -- Hybrid lexical + vector retrieval (reciprocal-rank fusion) ---------------

RRF_K = 60


def hybrid_rrf_topk(
    index: InvertedIndex,
    embeddings: DataFrame,
    terms: list[str],
    query_vec: list[float],
    *,
    k: int = 10,
    n_each: int = 50,
    rrf_k: int = RRF_K,
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Hybrid search: fuse a BM25 ranking over the inverted index with
    a cosine ranking over an embedding column of the SAME document key
    space, by reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR
    2009):

        rrf(d) = sum_lists 1/(rrf_k + rank_list(d))

    summed over the lists that contain d (top ``n_each`` from each
    side). Ranks are assigned on ROUND(score*1e6) with doc_id tiebreak,
    so rank assignment — and therefore the fused score — is exact
    integer arithmetic, deterministic across engines.

    Scale: each side is its own distributed top-N
    (TakeOrderedAndProject); the fusion joins two <=n_each-row frames —
    driver-sized, broadcast by AQE. Returns (doc_id, rrf_e6).
    """
    from .similarity import cosine

    def _rank(scored: DataFrame, id_col: str, score_col: str) -> DataFrame:
        from pyspark.sql.window import Window

        e6 = F.round(F.col(score_col) * 1_000_000).cast("long")
        top = (
            scored.withColumn("_e6", e6)
            .select(F.col(id_col).alias("doc_id"), "_e6")
            .orderBy(F.desc("_e6"), F.asc("doc_id"))
            .limit(n_each)
        )
        # window over <= n_each rows (already reduced) — not a scale risk
        w = Window.orderBy(F.desc("_e6"), F.asc("doc_id"))
        return top.select("doc_id", F.row_number().over(w).alias("rank"))

    from .query import bm25_scores

    lex = _rank(bm25_scores(index, terms), "doc_id", "score")
    emb = embeddings
    if exclude_ids:
        emb = emb.filter(~F.col("vec_id").isin(exclude_ids))
    vec_scored = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        cosine(
            F.col("embedding"), F.array(*[F.lit(float(v)) for v in query_vec])
        ).alias("cos"),
    )
    vec = _rank(vec_scored, "vec_id", "cos")
    fused = (
        lex.withColumnRenamed("rank", "lex_rank")
        .join(vec.withColumnRenamed("rank", "vec_rank"), "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("lex_rank")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("vec_rank")),
                    F.lit(0.0),
                )
            ).alias("rrf"),
        )
    )
    return (
        fused.withColumn("rrf_e6", F.round(F.col("rrf") * 1_000_000).cast("long"))
        .select("doc_id", "rrf_e6")
        .orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
        .limit(k)
    )
