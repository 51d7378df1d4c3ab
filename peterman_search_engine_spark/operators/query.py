"""Query operators — SURVEY.md §2.3 (Q1-Q13, Q17).

Every query is a declarative DataFrame plan over the index tables:

* query terms (tiny) reach the postings as an IN-filter — Parquet
  predicate pushdown prunes files by the ``term`` column, the
  Spark-side analogue of the reference's per-segment dictionary skip
  (``InvertedIndexManager.java:390, 617``).
* query terms' statistics (df, cf) come from the driver-side term
  dictionary, ``InvertedIndex.term_info`` — the reference reads df
  from its in-process dictionary slot (``getDocumentFrequency``,
  ``IIM:705-715``) the same way; a persisted index answers with a
  pyarrow read of its term_stats files and no Spark job.
* every ranked scorer — TF-IDF, BM25 (and so RM3, more-like-this,
  grouped and hybrid retrieval), BM25F, LM-Dirichlet, batch BM25 and
  WAND's exact rescore — runs one plan, :func:`score_terms`, built as
  one ``spark.sql`` statement: IN-filtered postings carrying their
  term's literal (df, cf, query weights), exploded, fanned out to
  their queries, and a per-(qid, doc) hash aggregate (Catalyst
  partial+final — exactly the reference's per-segment accumulator
  maps, ``IIM:614-638``, but distributed). A scorer differs only in
  its weights and its Spark SQL sums and score expression.
* top-k is ``orderBy(desc(score), doc_id).limit(k)`` →
  ``TakeOrderedAndProject`` (per-partition bounded heap + driver merge;
  the distributed form of the reference's MinMaxPriorityQueue,
  ``IIM:574-582``). Tiebreak is the canonical (-score, doc_id) (§2.4).
* block-max WAND (north-star addition) prunes posting blocks whose
  stored upper bound cannot beat the running k-th score — implemented
  in ``wand.py``, whose exact rescore is :func:`score_terms` too.
"""

from __future__ import annotations

import re
from collections import Counter
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.analysis import analyze_query
from ..functions.codec import varint_positions_sql
from ..plans.session import local_frame
from .indexer import B, K1, InvertedIndex


def _analyzed(index: InvertedIndex, terms: list[str]) -> list[str]:
    return analyze_query(terms, stem=index.stem)


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. Analyzed terms can keep
    ``'`` and ``\\`` (the analyzer splits on neither), so both are
    escaped."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_double(x: float) -> str:
    """``x`` as an exact Spark SQL double literal (a bare ``1.2`` would
    parse as a decimal)."""
    return f"{float(x)!r}D"


def _terms_in_sql(terms) -> str:
    """``term IN (...)`` as Spark SQL text; it pushes down to the
    Parquet scan of a persisted index."""
    return f"term IN ({', '.join(_sql_str(t) for t in sorted(set(terms)))})"


def _terms_in(terms) -> Column:
    """:func:`_terms_in_sql` as one parsed predicate."""
    return F.expr(_terms_in_sql(terms))


def _postings_for(index: InvertedIndex, toks: list[str]) -> DataFrame:
    """Postings restricted to the query terms."""
    return index.postings.filter(_terms_in(toks))


def _live(index: InvertedIndex, df: DataFrame) -> DataFrame:
    """Drop tombstoned docs from a (doc_id, ...) result. Anti-join on
    the metadata-sized tombstone table (broadcast under AQE for the
    typical sparse-delete case); no-op when the index has no deletes.
    Ranked queries apply this BEFORE top-k so deleted docs can't
    occupy result slots; stats (df, N, avg_len) intentionally stay
    as-built until compact_deletes (operators/maintenance.py)."""
    if index.tombstones is None:
        return df
    return df.join(index.tombstones, "doc_id", "left_anti")


# -- Q1-Q3: keyword / AND / OR ------------------------------------------------

def search_and(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """Q2 (and Q1 with one term): docs containing ALL analyzed terms.
    Set-intersection (IIM:1156-1157) as a count-matching semi-join:
    explode postings for the q terms, count distinct matched terms per
    doc, keep docs matching all. Returns (doc_id)."""
    toks = sorted(set(_analyzed(index, terms)))
    spark = index.postings.sparkSession
    if not toks:
        return local_frame(spark, [], "doc_id long")
    p = _postings_for(index, toks)
    hits = p.select("term", F.explode("doc_ids").alias("doc_id"))
    return _live(
        index,
        hits.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("_n"))
        .filter(F.col("_n") == len(toks))
        .select("doc_id"),
    )


def search_keyword(index: InvertedIndex, keyword: str) -> DataFrame:
    """Q1: analyze the keyword (may produce several tokens) and AND
    them; empty/blank string -> empty result (IIM:305-307)."""
    if not keyword.strip():
        return local_frame(index.postings.sparkSession, [], "doc_id long")
    return search_and(index, [keyword])


def search_or(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """Q3: docs containing ANY analyzed term (IIM:1158-1159)."""
    toks = sorted(set(_analyzed(index, terms)))
    spark = index.postings.sparkSession
    if not toks:
        return local_frame(spark, [], "doc_id long")
    p = _postings_for(index, toks)
    return _live(index, p.select(F.explode("doc_ids").alias("doc_id")).distinct())


def search_and_not(
    index: InvertedIndex, include: list[str], exclude: list[str]
) -> DataFrame:
    """Boolean NOT (beyond-reference — the reference's boolean algebra
    stops at AND/OR, IIM:1156-1159): docs containing ALL include terms
    and NONE of the exclude terms.

    Plan: AND semi-join for the include side, anti-join against the
    exclude terms' doc set. Both sides are term-IN-filtered posting
    scans (parquet-pruned); the anti-join shuffles on doc_id and AQE
    broadcasts the exclude side when it is small. Returns (doc_id)."""
    inc = search_and(index, include)
    etoks = sorted(set(_analyzed(index, exclude)))
    if not etoks:
        return inc
    ep = _postings_for(index, etoks)
    edocs = ep.select(F.explode("doc_ids").alias("doc_id")).distinct()
    return inc.join(edocs, "doc_id", "left_anti")


def search_prefix(index: InvertedIndex, prefix: str) -> DataFrame:
    """Wildcard ``prefix*`` search (beyond-reference): docs containing
    ANY dictionary term starting with the prefix.

    The prefix is lowercased but NOT stemmed — stemming rewrites
    suffixes, which is exactly what a prefix query must leave open.
    LIMITATION on a ``stem=True`` index: the dictionary stores STEMS,
    so a surface-form prefix longer than a term's stem silently
    misses docs (``"running"`` never matches the stored ``"run"``).
    Prefix search is exact only on unstemmed indexes; on stemmed
    indexes it matches stem prefixes — callers who need surface-form
    prefixes should keep an unstemmed index (or an extra surface-term
    column) alongside.
    ``startswith`` compiles to a StringStartsWith filter that pushes
    into the parquet scan of a persisted index; because the on-disk
    layout sorts rows by term inside each segment file, row-group
    min/max term statistics turn this into a dictionary *range scan*
    (the reference's sorted in-memory dictionary would serve the same
    query with a bisect, but never implements it). Returns (doc_id)."""
    pfx = prefix.strip().lower()
    spark = index.postings.sparkSession
    if not pfx:
        return local_frame(spark, [], "doc_id long")
    p = index.postings.filter(F.col("term").startswith(pfx))
    return _live(index, p.select(F.explode("doc_ids").alias("doc_id")).distinct())


def _docs_for_terms(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """Distinct live docs containing ANY of the (already-analyzed)
    terms — the shared tail of every dictionary-expansion query."""
    spark = index.postings.sparkSession
    if not terms:
        return local_frame(spark, [], "doc_id long")
    p = _postings_for(index, terms)
    return _live(index, p.select(F.explode("doc_ids").alias("doc_id")).distinct())


# Ceiling on how many matched dictionary terms an expansion query may
# bring to the driver. Below it, the IN-filtered plan keeps parquet
# predicate pushdown on the posting scan; above it (adversarial
# patterns like ``*e*`` that match half the dictionary), the SAME
# predicate moves onto the posting scan itself and the matched-term
# set never leaves the executors — identical results, bounded driver.
DEFAULT_MAX_EXPANSIONS = 512


def _expand_or_distribute(
    index: InvertedIndex, term_pred: Column, max_expansions: int
) -> DataFrame:
    """Shared tail of fuzzy/wildcard search: bounded dictionary
    expansion. The probe collects at most ``max_expansions + 1`` terms
    (LIMIT-pushed, O(cap) driver memory even when millions match); the
    overflow branch is the search_regex-style fully distributed plan.
    Returns (doc_id)."""
    matched = index.term_stats.filter(term_pred).select("term")
    terms = [r["term"] for r in matched.limit(max_expansions + 1).collect()]
    if len(terms) <= max_expansions:
        return _docs_for_terms(index, sorted(terms))
    p = index.postings.filter(term_pred)
    return _live(index, p.select(F.explode("doc_ids").alias("doc_id")).distinct())


def search_fuzzy(
    index: InvertedIndex,
    term: str,
    max_dist: int = 1,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> DataFrame:
    """Fuzzy term search (beyond-reference): docs containing ANY
    dictionary term within Levenshtein distance ``max_dist`` of the
    lowercased query term (typo tolerance — ``vectr`` finds
    ``vector``). Like prefix search, the query term is NOT stemmed:
    edit distance is a surface-form notion.

    Plan: dictionary expansion then the ordinary OR. The expansion
    scans the metadata-sized term_stats dictionary with a JVM
    ``levenshtein`` filter (codegen, no Python) and brings at most
    ``max_expansions`` matched terms to the driver so the posting scan
    keeps its IN-filter parquet pushdown; past the cap (a huge edit
    ball) the levenshtein predicate moves onto the posting scan itself
    and stays fully distributed. At 10^8-term dictionary scale the
    linear scan is one narrow-column job; the classic upgrade (a
    deletion-neighborhood / FST dictionary index) changes only this
    expansion step. Returns (doc_id)."""
    q = term.strip().lower()
    spark = index.postings.sparkSession
    if not q:
        return local_frame(spark, [], "doc_id long")
    return _expand_or_distribute(
        index,
        F.levenshtein(F.col("term"), F.lit(q)) <= max_dist,
        max_expansions,
    )


def search_wildcard(
    index: InvertedIndex,
    pattern: str,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> DataFrame:
    """Wildcard search (beyond-reference): docs containing ANY
    dictionary term matching the ``*``-pattern (``v*r`` -> vector,
    var, ...). ``*`` matches any run including empty; the pattern is
    lowercased, not stemmed (same surface-form rationale as prefix/
    fuzzy search).

    Plan: dictionary expansion via a LIKE filter on term_stats (a
    leading-literal pattern also row-group-prunes on the term-sorted
    layout), at most ``max_expansions`` matched terms to the driver,
    then the IN-filtered posting scan; past the cap (adversarial
    patterns like ``*e*``) the LIKE predicate moves onto the posting
    scan itself — no unbounded driver list. Returns (doc_id)."""
    pat = pattern.strip().lower()
    spark = index.postings.sparkSession
    if not pat or pat.strip("*") == "":
        return local_frame(spark, [], "doc_id long")
    like = pat.replace("%", r"\%").replace("_", r"\_").replace("*", "%")
    return _expand_or_distribute(
        index, F.col("term").like(like), max_expansions
    )


def search_regex(
    index: InvertedIndex, pattern: str, top_k: int | None = None
) -> DataFrame:
    """Regex search (beyond-reference, Lucene ``RegexpQuery`` shape):
    docs containing ANY dictionary term matching ``pattern`` (anchored
    whole-term match, like Lucene), ranked by total matched tf with
    doc_id tiebreak. The pattern is applied to stored (lowercased)
    dictionary terms and is NOT stemmed; callers on stemmed indexes
    match stems (same surface-form caveat as prefix/wildcard search).

    Plan: one postings scan with the regex as a post-scan filter on the
    term column (a regex can't parquet-push, but column pruning keeps
    the scan at (term, doc_ids, tfs)), explode, hash aggregate, top-k.
    No dictionary round-trip to the driver — unlike wildcard search the
    matched-term set never leaves the executors, so an adversarial
    pattern matching half the dictionary still runs as one distributed
    plan. Returns (doc_id, n_terms, tf_sum).
    """
    pat = f"^(?:{pattern})$"  # whole-term semantics
    p = index.postings.filter(F.col("term").rlike(pat))
    hits = p.select(
        "term", F.explode(F.arrays_zip("doc_ids", "tfs")).alias("_z")
    ).select(
        "term", F.col("_z.doc_ids").alias("doc_id"), F.col("_z.tfs").alias("tf")
    )
    agg = hits.groupBy("doc_id").agg(
        F.countDistinct("term").alias("n_terms"),
        F.sum("tf").cast("long").alias("tf_sum"),
    )
    out = _live(index, agg).orderBy(
        F.desc("tf_sum"), F.desc("n_terms"), F.asc("doc_id")
    )
    return out.limit(top_k) if top_k is not None else out


def suggest_terms(index: InvertedIndex, prefix: str, top_k: int = 10) -> DataFrame:
    """Autocomplete (beyond-reference): the top-k dictionary terms
    starting with the prefix, ranked by document frequency (df desc,
    term asc) — the standard search-box suggestion ranking.

    Plan: one StringStartsWith-pruned scan of the metadata-sized
    term_stats table + TakeOrderedAndProject; never touches postings.
    Returns (term, df)."""
    pfx = prefix.strip().lower()
    spark = index.postings.sparkSession
    if not pfx:
        return local_frame(spark, [], "term string, df long")
    return (
        index.term_stats.filter(F.col("term").startswith(pfx))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(top_k)
    )


# -- Q4: phrase ---------------------------------------------------------------

def search_phrase(index: InvertedIndex, phrase: list[str]) -> DataFrame:
    """Q4: consecutive-position phrase match on the positional index.

    Reference semantics (IIM:360-460): analyzer applied to the joined
    phrase (stop words removed SHIFT positions — positions are indexes
    in the filtered token list); doc matches iff exists p in
    pos(tok_0) with p+j in pos(tok_j) for all j.

    When the index carries compressed positions (pos_blob/pos_offsets —
    always true for persisted indexes, whose on-disk layout stores ONLY
    the blob), the plan PARTIAL-DECODES: candidate docs are the doc_id
    join of the terms' postings, per-(term,doc) byte slices are cut
    JVM-side from the blob via the stored offsets (the reference's
    position-meta-slot lookup, SDM:187-193, 327-341), and only the
    candidates' slices are varint-decoded, by a JVM expression
    (``codec.varint_positions_sql``) — decode volume is
    |candidates|·|phrase|, not Σ df(term), and no Python worker runs.
    Otherwise the same join carries the raw position arrays.
    """
    if not index.positional:
        raise ValueError("phrase search requires a positional index (IIM:364-366)")
    toks = _analyzed(index, phrase)
    spark = index.postings.sparkSession
    if not toks:
        return local_frame(spark, [], "doc_id long")
    # the pos+j offset test (IIM:424-435)
    follows = " AND ".join(
        f"array_contains(p{j}, x + {j})" for j in range(1, len(toks))
    )
    return _live(
        index,
        _joined_positions(index, toks)
        .filter(F.expr(f"exists(p0, x -> {follows or 'true'})"))
        .select("doc_id"),
    )


def _joined_positions(index: InvertedIndex, toks: list[str]) -> DataFrame:
    """(doc_id, p0, ..., p{n-1}) for the docs containing ALL of
    ``toks``: ``p{j}`` is the position list of ``toks[j]`` (a repeated
    token repeats its list). Candidates come from an inner join on
    doc_id of the distinct terms' posting entries, so no aggregation
    runs. Each entry carries either its raw position array (in-memory
    build) or, when positions are compressed-only or decode-projected
    (persisted index), its byte slice of ``pos_blob``, decoded only
    after the join — for candidates alone."""
    uniq = sorted(set(toks))
    p = _postings_for(index, uniq)
    partial = "pos_blob" in p.columns and (
        "positions" not in p.columns
        or getattr(index, "positions_decoded", False)
    )
    entry = (
        "substring(pos_blob, pos_offsets[i] + 1, pos_offsets[i + 1] - pos_offsets[i])"
        if partial
        else "positions[i]"
    )
    entries = p.select(
        "term",
        F.expr(f"inline(transform(doc_ids, (d, i) -> struct(d as doc_id, {entry} as v)))"),
    )
    joined = reduce(
        lambda a, b: a.join(b, "doc_id"),
        [
            entries.filter(F.col("term") == t).select("doc_id", F.col("v").alias(f"u{k}"))
            for k, t in enumerate(uniq)
        ],
    )
    if partial:
        # inline over a one-struct array decodes each slice once per row:
        # from a plain projection, filter pushdown would copy the decode
        # into the callers' lambda bodies and re-run it per element.
        decoded = ", ".join(
            f"{varint_positions_sql(f'u{k}')} as u{k}" for k in range(len(uniq))
        )
        joined = joined.select("doc_id", F.expr(f"inline(array(struct({decoded})))"))
    return joined.select(
        "doc_id", *[F.col(f"u{uniq.index(t)}").alias(f"p{j}") for j, t in enumerate(toks)]
    )


def search_proximity(
    index: InvertedIndex, terms: list[str], slop: int
) -> DataFrame:
    """Unordered WITHIN-slop proximity search (beyond-reference; the
    reference stops at strict phrase, IIM:360-460): docs where some
    window of token positions [a, a+slop] contains at least one
    occurrence of EVERY distinct analyzed query term.

    The plan is the phrase plan — candidate docs from the doc_id join,
    positions partial-decoded for candidates only — with the pos+j
    offset test replaced by a windowed exists. Every minimal match
    window starts at a query-term occurrence, so it suffices to anchor
    the window at the union of the terms' position lists; the whole
    test is JVM array lambdas, no Python in the row path.
    Returns (doc_id)."""
    if not index.positional:
        raise ValueError("proximity search requires a positional index")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    toks = sorted(set(_analyzed(index, terms)))
    spark = index.postings.sparkSession
    if not toks:
        return local_frame(spark, [], "doc_id long")
    lists = [f"p{j}" for j in range(len(toks))]
    in_window = " AND ".join(
        f"exists({c}, q -> q >= a AND q <= a + {int(slop)})" for c in lists
    )
    anchors = f"array_distinct(concat({', '.join(lists)}))"
    return _live(
        index,
        _joined_positions(index, toks)
        .filter(F.expr(f"exists({anchors}, a -> {in_window})"))
        .select("doc_id"),
    )


def search_span_near(
    index: InvertedIndex, terms: list[str], max_gap: int
) -> DataFrame:
    """Ordered span-near (the Lucene ``SpanNearQuery(inOrder=true)``
    shape; beyond-reference — the reference stops at strict phrase,
    IIM:360-460): docs where the analyzed terms appear IN ORDER with
    each consecutive pair at most ``max_gap`` positions apart
    (``max_gap=1`` degenerates to the strict phrase). Duplicate terms
    keep their order (each occurrence must advance).

    Plan: exactly the phrase plan — candidates from the doc_id join,
    positions partial-decoded for candidates only — then ONE Arrow UDF
    (the plan's only Python step) running a LINEAR level-wise feasible-set
    merge (the ordered analogue of the reference phrase scan's
    two-pointer merge, IIM:424-435): S_0 = pos(tok_0); S_j = the
    positions q of tok_j with some s in S_{j-1} in [q-max_gap, q-1]
    (vectorized searchsorted over the sorted position lists — both
    sides ascending by construction of the positional index); the doc
    matches iff S_{last} is non-empty. Cost per candidate is
    O(Σ_j |pos_j| · log) — NOT the product of per-term window sizes a
    nested exists chain pays, so a pathological doc (one token
    repeated thousands of times, 6+ term query) stays linear-ish
    (tests/test_round4_ops.py::test_span_near_pathological_doc).
    Returns (doc_id)."""
    if not index.positional:
        raise ValueError("span-near search requires a positional index")
    if max_gap < 1:
        raise ValueError("max_gap must be >= 1")
    toks = _analyzed(index, terms)
    if len(toks) < 2:
        # degenerate: single surviving term -> plain containment
        return _docs_for_terms(index, toks)
    gap = int(max_gap)

    @F.pandas_udf("boolean")
    def _span_ok(plists: pd.Series) -> pd.Series:
        out = np.zeros(len(plists), dtype=bool)
        for i, row in enumerate(plists):
            S = np.asarray(row[0], dtype=np.int64)
            for j in range(1, len(row)):
                if S.size == 0:
                    break
                pj = np.asarray(row[j], dtype=np.int64)
                # feasible q: exists s in S with q-gap <= s <= q-1
                lo = np.searchsorted(S, pj - gap, side="left")
                hi = np.searchsorted(S, pj, side="left")
                S = pj[hi > lo]
            out[i] = S.size > 0
        return pd.Series(out)

    arrs = F.array(*[F.col(f"p{j}") for j in range(len(toks))])
    return _live(
        index,
        _joined_positions(index, toks).filter(_span_ok(arrs)).select("doc_id"),
    )


def suggest_spelling(
    index: InvertedIndex, term: str, *, max_dist: int = 2, top_k: int = 5
) -> DataFrame:
    """Did-you-mean spelling correction (beyond-reference, the Lucene
    DirectSpellChecker shape): the top-k dictionary terms within
    Levenshtein distance ``max_dist`` of the lowercased query term,
    ranked by (distance asc, df desc, term asc) — closest first,
    popularity breaks ties. The query term itself is excluded (a
    correctly-spelled word suggests alternatives, not itself) and, like
    all surface-form queries, never stemmed.

    Plan: ONE scan of the metadata-sized term_stats dictionary with a
    JVM levenshtein projection + TakeOrderedAndProject; postings are
    never touched. Returns (term, df, dist)."""
    q = term.strip().lower()
    spark = index.postings.sparkSession
    if not q:
        return local_frame(spark, [], "term string, df long, dist int")
    return (
        index.term_stats
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
        .filter((F.col("dist") <= max_dist) & (F.col("term") != q))
        .select("term", "df", "dist")
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(top_k)
    )


# -- Ranked retrieval: one scoring plan ----------------------------------------

def _query_weights(index: InvertedIndex, terms: list[str]) -> dict[str, float]:
    """Analyzed query terms with their query-tf as weight: a repeated
    term counts once per occurrence (IIM:674-677)."""
    return {t: float(n) for t, n in Counter(_analyzed(index, terms)).items()}


def bm25_tf_sql(tf: str, dl: str, avg_len: float) -> str:
    """BM25's per-posting tf-part ``tf·(k1+1) / (tf + k1·(1-b+b·dl/avg))``
    (k1=1.2, b=0.75) as Spark SQL text over the SQL expressions ``tf``
    and ``dl``. The same factor, computed by ``indexer._bm25_tf_part``,
    is what the stored block upper bounds hold. The text is a bare
    product, so ``w * <tf-part>`` multiplies left to right."""
    return (
        f"{tf} * {_sql_double(K1 + 1)} / ({tf} + {_sql_double(K1)} * "
        f"({_sql_double(1 - B)} + {_sql_double(B)} * {dl} / {_sql_double(avg_len)}))"
    )


def _fmt(text: str) -> str:
    """``text`` escaped for the ``str.format`` pass ``spark.sql`` makes
    over a statement with DataFrame arguments: a term may hold ``{`` or
    ``}`` (the analyzer splits on neither)."""
    return text.replace("{", "{{").replace("}", "}}")


def score_terms(
    index: InvertedIndex,
    weights: dict[int, dict[str, float]],
    sums: dict[str, str],
    score: str,
    *,
    cols: tuple[str, ...] = ("tfs",),
    postings: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """The scoring plan every ranked query runs — the term-at-a-time
    accumulator of the reference (IIM:614-650), for a whole query log
    at once. ``weights`` is ``{qid: {term: query weight}}``; a single
    query is the log ``{0: w}``. Returns (qid, doc_id, score).

    ``sums`` maps names to per-posting Spark SQL expressions, summed
    per (qid, doc); ``score`` is SQL over those names (and ``doc_len``)
    giving the doc's score. A posting row sees ``term``, ``doc_id``,
    the term's ``df`` and ``cf``, ``qid``, its weight ``qw``, the
    zipped posting ``cols`` (``tfs`` as ``tf``, others by name) and,
    when any expression names it, ``doc_len``.

    The plan is one ``spark.sql`` statement (SQL text: the parser
    builds it in one call, where a DataFrame chain costs a
    driver-to-JVM call per step):

    1. the query terms' ``(df, cf)`` come from the driver-side
       dictionary (``InvertedIndex.term_info``), and terms it does not
       hold drop out; no ``term_stats`` scan enters the plan;
    2. postings (``postings`` if given: a caller's scoped scan) are
       IN-filtered to the terms, and each row takes its term's entry
       of one literal ``map(term -> named_struct(df, cf, qs))``, where
       ``qs`` lists the term's ``(qid, qw)``;
    3. rows are exploded over ``arrays_zip(doc_ids, *cols)``, then
       restricted to the ``docs`` candidates if given;
    4. ``doc_stats`` is joined only when an expression names
       ``doc_len``, before the fan-out to queries, so a posting meets
       it once;
    5. ``inline(qs)`` fans each posting out to its queries, a hash
       aggregate sums per (qid, doc_id) (with ``doc_len`` as a key only
       when the score expression names it), the score expression
       runs, and tombstoned docs are anti-joined away.
    """
    spark = index.postings.sparkSession
    info = index.term_info({t for w in weights.values() for t in w})
    if not info:
        return local_frame(spark, [], "qid long, doc_id long, score double")
    fan: dict[str, list[str]] = {}
    for qid, w in sorted(weights.items()):
        for t, x in sorted(w.items()):
            if t in info:
                fan.setdefault(t, []).append(
                    f"named_struct('qid', {int(qid)}L, 'qw', {_sql_double(x)})"
                )
    wmap = ", ".join(
        f"{_sql_str(t)}, named_struct('df', {info[t][0]}L, 'cf', {info[t][1]}L, "
        f"'qs', array({', '.join(v)}))"
        for t, v in fan.items()
    )
    frames = {"p": index.postings if postings is None else postings}
    zipped = ", ".join(cols)
    fields = ", ".join(f"_z.{c} AS {'tf' if c == 'tfs' else c}" for c in cols)
    hits = (
        f"SELECT term, _w.df AS df, _w.cf AS cf, _w.qs AS _qs, "
        f"_z.doc_ids AS doc_id, {fields} "
        f"FROM (SELECT term, doc_ids, {zipped}, map({_fmt(wmap)})[term] AS _w "
        f"FROM {{p}} WHERE {_fmt(_terms_in_sql(fan))}) _p "
        f"LATERAL VIEW explode(arrays_zip(doc_ids, {zipped})) _e AS _z"
    )
    if docs is not None:
        # restrict BEFORE the agg shuffle: only candidate docs move
        frames["c"] = docs
        hits = f"SELECT h.* FROM ({hits}) h JOIN {{c}} c ON h.doc_id = c.doc_id"
    doc_len = re.compile(r"\bdoc_len\b")
    if any(doc_len.search(e) for e in [score, *sums.values()]):
        frames["d"] = index.doc_stats
        hits = (
            f"SELECT h.*, d.doc_len FROM ({hits}) h "
            f"JOIN {{d}} d ON h.doc_id = d.doc_id"
        )
    # only a score over doc_len carries it through the agg shuffle
    keys = "qid, doc_id" + (", doc_len" if doc_len.search(score) else "")
    aggs = ", ".join(f"sum({_fmt(e)}) AS {n}" for n, e in sums.items())
    scored = (
        f"SELECT qid, doc_id, {_fmt(score)} AS score FROM ("
        f"SELECT {keys}, {aggs} FROM ({hits}) h "
        f"LATERAL VIEW inline(_qs) _q AS qid, qw GROUP BY {keys}) s"
    )
    if index.tombstones is not None:
        frames["t"] = index.tombstones
        scored = (
            f"SELECT s.* FROM ({scored}) s "
            f"LEFT ANTI JOIN {{t}} t ON s.doc_id = t.doc_id"
        )
    return spark.sql(scored, **frames)


def tfidf_scores(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """Q5-Q8 exact reference semantics: idf = log10(N/df) (IIM:567);
    query weight = query-token-count × idf (IIM:671-689); score =
    dot / sqrt(Σ_query-terms (tf·idf)²) (IIM:629-650 — the norm runs
    over query-term components only, §2.4). Returns (doc_id, score)."""
    # idf from GLOBAL term stats (pass 1, IIM:543-569)
    idf = f"log10({_sql_double(index.n_docs)} / df)"
    return score_terms(
        index,
        {0: _query_weights(index, terms)},
        {"dot": f"tf * {idf} * qw * {idf}", "len": f"(tf * {idf}) * (tf * {idf})"},
        "if(len > 0, dot / sqrt(len), 0D)",
    ).drop("qid")


def search_tfidf(index: InvertedIndex, terms: list[str], top_k: int | None) -> DataFrame:
    """Q5: ranked TF-IDF; top_k=None -> all matches (IIM:575-576).
    Returns (doc_id, score) ordered by (-score, doc_id)."""
    return top_k_df(tfidf_scores(index, terms), top_k)


# -- BM25 (the rebuild's primary ranker) ---------------------------------------

def bm25_contrib_sql(index: InvertedIndex) -> str:
    """One posting's BM25 contribution ``qw · idf · tf-part``, with
    idf = ln(1+(N-df+.5)/(df+.5)) from the dictionary row."""
    return f"qw * {index.bm25_idf_sql()} * {bm25_tf_sql('tf', 'doc_len', index.avg_len)}"


def bm25_scores_weighted(
    index: InvertedIndex, weights: dict[str, float]
) -> DataFrame:
    """BM25 over ALREADY-ANALYZED terms with explicit per-term query
    weights (the general form: plain queries use integer query-tf,
    relevance-feedback expansion uses fractional weights). k1=1.2,
    b=0.75; idf = ln(1+(N-df+.5)/(df+.5)). Returns (doc_id, score)."""
    return score_terms(
        index, {0: weights}, {"score": bm25_contrib_sql(index)}, "score"
    ).drop("qid")


def bm25_scores(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """BM25 with k1=1.2, b=0.75; idf = ln(1+(N-df+.5)/(df+.5)); query
    term multiplicity multiplies the contribution (consistent with the
    reference's query-tf treatment, IIM:674-677).
    Returns (doc_id, score)."""
    return bm25_scores_weighted(index, _query_weights(index, terms))


def search_bm25(index: InvertedIndex, terms: list[str], top_k: int | None) -> DataFrame:
    return top_k_df(bm25_scores(index, terms), top_k)


def search_bm25_page(
    index: InvertedIndex,
    terms: list[str],
    k: int,
    cursor: tuple[int, int] | None = None,
) -> DataFrame:
    """Keyset (search-after) pagination over the BM25 ranking —
    page boundaries on the rounded (score_e6, doc_id) sort key, so a
    page is a pure FILTER + top-k and never an OFFSET: page N costs
    the same one TakeOrderedAndProject as page 1, and a doc inserted
    between requests can't shift rows across already-served pages
    the way OFFSET pagination does. ``cursor`` is the (score_e6,
    doc_id) of the last row the client saw (None -> first page).
    Returns (doc_id, score_e6)."""
    scored = (
        bm25_scores(index, terms)
        .withColumn("score_e6", F.round(F.col("score") * 1_000_000).cast("long"))
        .select("doc_id", "score_e6")
    )
    if cursor is not None:
        se, did = int(cursor[0]), int(cursor[1])
        scored = scored.filter(
            (F.col("score_e6") < se)
            | ((F.col("score_e6") == se) & (F.col("doc_id") > did))
        )
    return scored.orderBy(F.desc("score_e6"), F.asc("doc_id")).limit(k)


def search_bm25_filtered(
    index: InvertedIndex,
    terms: list[str],
    allowed_docs: DataFrame,
    top_k: int | None,
) -> DataFrame:
    """BM25 restricted to a caller-supplied doc set (metadata-filtered
    search — e.g. ``documents.filter(lang == 'en')``). Standard search
    semantics: the filter selects which docs may appear in results
    while corpus-wide stats (idf, N, avg_len) are unchanged, so a doc's
    score is identical with and without the filter.

    The semi-join runs BEFORE top-k so filtered-out docs can't occupy
    result slots; at scale the allowed set is whatever the metadata
    predicate prunes to, and AQE broadcasts it when small. Returns
    (doc_id, score)."""
    scored = bm25_scores(index, terms)
    allowed = allowed_docs.select("doc_id")
    return top_k_df(scored.join(allowed, "doc_id", "left_semi"), top_k)


# -- Q17: top-k ---------------------------------------------------------------

def top_k_df(scored: DataFrame, top_k: int | None) -> DataFrame:
    """Deterministic top-k: ORDER BY score DESC, doc_id ASC [LIMIT k] →
    Catalyst TakeOrderedAndProject (per-partition heap, driver merge)."""
    out = scored.orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(top_k) if top_k is not None else out


# -- Q11/Q13: full scans ------------------------------------------------------

def full_scan_search(corpus: DataFrame, terms: list[str], *, stem: bool = True) -> DataFrame:
    """Q13 FullScanSearcher (the reference's debug oracle,
    FullScanSearcher.java:27-40): docs whose analyzed token list
    contains all analyzed query tokens. Pure DataFrame re-statement."""
    from .indexer import tokenize_corpus

    toks = sorted(set(analyze_query(terms, stem=stem)))
    if not toks:
        return local_frame(corpus.sparkSession, [], "doc_id long")
    t = tokenize_corpus(corpus, stem=stem)
    cond = reduce(
        lambda acc, tok: acc & F.array_contains("tokens", tok), toks, F.lit(True)
    )
    return t.filter(cond).select("doc_id")


def snippets(
    corpus: DataFrame,
    doc_ids: DataFrame,
    terms: list[str],
    *,
    stem: bool = False,
    width: int = 3,
) -> DataFrame:
    """Result snippets (beyond-reference): for each doc in ``doc_ids``,
    the analyzed-token window around the FIRST occurrence of any query
    term — positions ``[max(fp - width, 0), fp + width]`` over the
    post-stop-word token list, joined with single spaces. Docs with no
    occurrence are dropped.

    Plan: semi-join the corpus down to the requested docs FIRST (the
    DocStore point lookup), then tokenize only those rows — snippet
    cost is O(|result docs|), never a corpus scan. The window math is
    pure JVM array expressions (array_position / slice / concat_ws),
    no Python in the row path. Returns (doc_id, snippet)."""
    from ..functions.analysis import analyze_query
    from .indexer import tokenize_corpus

    toks = sorted(set(analyze_query(terms, stem=stem)))
    spark = corpus.sparkSession
    if not toks:
        return local_frame(spark, [], "doc_id long, snippet string")
    hits = corpus.join(doc_ids.select("doc_id"), "doc_id", "left_semi")
    t = tokenize_corpus(hits, stem=stem)
    # 1-based first position of any query term; array_position = 0
    # means absent -> nullif, and least() skips nulls.
    fp = F.least(
        *[F.nullif(F.array_position("tokens", tok), F.lit(0)) for tok in toks]
    ) if len(toks) > 1 else F.nullif(
        F.array_position("tokens", toks[0]), F.lit(0)
    )
    t = t.withColumn("_fp", fp).filter(F.col("_fp").isNotNull())
    start = F.greatest(F.col("_fp") - width, F.lit(1))
    length = F.col("_fp") + width - start + F.lit(1)
    return t.select(
        "doc_id",
        F.concat_ws(" ", F.slice("tokens", start, length)).alias("snippet"),
    )


def facet_counts(
    doc_ids: DataFrame, docs_meta: DataFrame, facet_col: str
) -> DataFrame:
    """Faceted result counts (beyond-reference): bucket a query's doc
    set by a metadata column (lang, source, ...) and count. One
    broadcast-or-shuffle join plus a hash aggregate over at most
    |facet values| rows — the standard search-UI sidebar, expressed as
    the aggregation Catalyst already optimizes. Returns (facet, n)."""
    return (
        doc_ids.select("doc_id")
        .join(docs_meta.select("doc_id", facet_col), "doc_id")
        .groupBy(F.col(facet_col).alias("facet"))
        .agg(F.count("*").alias("n"))
    )
