"""The one scoring plan, ``query.score_terms``.

Every ranked query carries its weights into the plan as one literal
SQL map keyed by term, and analyzed terms can keep ``'``, ``\\``, ``{``
and ``}`` (the analyzer splits on none of them; ``spark.sql`` formats
its text with ``str.format``). These tests rank such terms with every
scorer on a persisted index and compare them with the brute-force
oracle, or with the per-query result for the batch ranker. They also
pin the plan's Spark job counts: building a batch plan runs no job, and
the ranked queries run no more jobs than with the term dictionary read
on the driver."""

import math
import uuid

import pytest

from peterman_search_engine_spark.operators import query as Q
from peterman_search_engine_spark.operators.batch import batch_bm25_topk
from peterman_search_engine_spark.operators.ranking import (
    HEAD_LEN,
    W_BODY,
    W_HEAD,
    bm25f_scores,
    lm_dirichlet_scores,
)
from peterman_search_engine_spark.operators.wand import bm25_topk_wand
from peterman_search_engine_spark.oracle import OracleIndex
from peterman_search_engine_spark.plans.checkpoint import (
    build_index_checkpointed,
    load_index,
)
from peterman_search_engine_spark.streaming.incremental import (
    ingest_batch,
    load_streaming_index,
)

K1, B, MU = 1.2, 0.75, 1000.0

QUOTED = [
    (0, "o'neil wrote the back\\slash parser"),
    (1, "o'neil met o'neil at the parser office"),
    (2, "a back\\slash and a forward slash"),
    (3, "parser notes by o'neil"),
    (4, "plain words only here"),
    (5, "back\\slash back\\slash escapes it\\'s quote"),
    (6, "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen fifteen sixteen seventeen o'neil parser"),
    (7, "the {x} parser and {p} notes by o'neil {x}"),
]
QUERIES = [
    ["o'neil"],
    ["back\\slash"],
    ["o'neil", "back\\slash", "o'neil"],
    ["it\\'s", "parser"],
    ["{x}", "parser", "{p}"],
]


@pytest.fixture(scope="module")
def quoted(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("quoted")
    corpus = spark.createDataFrame(QUOTED, "doc_id long, text string")
    build_index_checkpointed(
        corpus, str(d / "idx"), stem=False, docs_per_segment=3, segments_per_group=2
    )
    return load_index(spark, str(d / "idx")), OracleIndex(QUOTED, stem=False)


def _e6(pairs):
    return [(int(d), round(s * 1_000_000)) for d, s in pairs]


def _rows(df):
    return _e6((r["doc_id"], r["score"]) for r in df.collect())


def test_quoted_terms_are_indexed(quoted):
    _, oracle = quoted
    assert {"o'neil", "back\\slash", "it\\'s", "{x}", "{p}"} <= set(oracle.postings)


@pytest.mark.parametrize("q", QUERIES, ids="+".join)
def test_quoted_bm25_and_tfidf_match_oracle(quoted, q):
    idx, oracle = quoted
    bm25 = _rows(Q.search_bm25(idx, q, None))
    assert bm25 and bm25 == _e6(oracle.search_bm25(q, None))
    assert _rows(Q.search_tfidf(idx, q, None)) == _e6(oracle.search_tfidf(q, None))


def _lm_brute(oracle, q):
    total = sum(oracle.doc_len.values())
    qtf = {t: q.count(t) for t in set(q)}
    cf = {t: sum(len(p) for p in oracle.postings[t].values()) for t in qtf}
    docs = {d for t in qtf for d in oracle.postings[t]}
    return {
        d: sum(
            n * math.log(
                (len(oracle.postings[t].get(d, ())) + MU * cf[t] / total)
                / (oracle.doc_len[d] + MU)
            )
            for t, n in qtf.items()
        )
        for d in docs
    }


def _bm25f_brute(oracle, q):
    def wdl(n):
        h = min(n, HEAD_LEN)
        return W_HEAD * h + W_BODY * (n - h)

    avg = sum(wdl(n) for n in oracle.doc_len.values()) / oracle.n_docs
    out: dict[int, float] = {}
    for t in set(q):
        idf = oracle.bm25_idf(t)
        for d, pos in oracle.postings[t].items():
            head = sum(1 for p in pos if p < HEAD_LEN)
            wtf = W_HEAD * head + W_BODY * (len(pos) - head)
            part = wtf * (K1 + 1) / (wtf + K1 * (1 - B + B * wdl(oracle.doc_len[d]) / avg))
            out[d] = out.get(d, 0.0) + q.count(t) * idf * part
    return out


@pytest.mark.parametrize("q", QUERIES, ids="+".join)
def test_quoted_lm_dirichlet_and_bm25f_match_brute_force(quoted, q):
    idx, oracle = quoted
    terms = oracle.analyze(q)
    lm = {r["doc_id"]: r["score"] for r in lm_dirichlet_scores(idx, q, mu=MU).collect()}
    want = _lm_brute(oracle, terms)
    assert want and set(lm) == set(want)
    for d in want:
        assert lm[d] == pytest.approx(want[d], rel=1e-12)
    f = {r["doc_id"]: r["score"] for r in bm25f_scores(idx, q).collect()}
    want = _bm25f_brute(oracle, terms)
    assert set(f) == set(want)
    for d in want:
        assert f[d] == pytest.approx(want[d], rel=1e-12)


def test_quoted_batch_equals_per_query(quoted):
    idx, _ = quoted
    log = dict(enumerate(QUERIES))
    got: dict[int, list] = {}
    for r in batch_bm25_topk(idx, log, 3, rank_e6=True).collect():
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score_e6"]))
    for qid, q in log.items():
        assert got[qid] == _rows(Q.search_bm25(idx, q, 3)), qid


# -- Spark jobs per plan -------------------------------------------------------

def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"score-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "score_terms")
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"idle-{group}", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def persisted(spark, tiny_corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("score_jobs")
    build_index_checkpointed(
        tiny_corpus, str(d / "idx"), docs_per_segment=16, segments_per_group=2
    )
    return load_index(spark, str(d / "idx"))


TINY_QUERIES = [["apple", "apple", "rotten"], ["cat", "toy"], ["university", "research"]]


def test_building_a_batch_plan_runs_no_job(spark, persisted):
    df, n = _jobs_of(spark, lambda: batch_bm25_topk(persisted, dict(enumerate(TINY_QUERIES)), 5))
    assert n == 0
    assert df.count() > 0


# Jobs per collected query on this index before the scorers shared
# one plan: search_bm25 4, search_tfidf 3.
@pytest.mark.parametrize(
    "name,run,most",
    [
        ("search_bm25", lambda idx, q: Q.search_bm25(idx, q, 5).collect(), 4),
        ("search_tfidf", lambda idx, q: Q.search_tfidf(idx, q, 5).collect(), 3),
    ],
)
@pytest.mark.parametrize("q", TINY_QUERIES, ids="+".join)
def test_ranked_query_jobs_no_higher(spark, persisted, name, run, most, q):
    rows, n = _jobs_of(spark, lambda: run(persisted, q))
    assert rows
    assert n <= most, (name, n)


# With the term dictionary read on the driver, no plan scans or
# broadcasts term_stats: search_bm25 runs 3 jobs and search_tfidf 2.
@pytest.mark.parametrize(
    "run,most",
    [
        pytest.param(lambda idx, q: Q.search_bm25(idx, q, 5).collect(), 3, id="search_bm25"),
        pytest.param(lambda idx, q: Q.search_tfidf(idx, q, 5).collect(), 2, id="search_tfidf"),
    ],
)
@pytest.mark.parametrize("q", TINY_QUERIES, ids="+".join)
def test_ranked_query_jobs_with_term_dictionary(spark, persisted, run, most, q):
    rows, n = _jobs_of(spark, lambda: run(persisted, q))
    assert rows
    assert n <= most, n


@pytest.mark.parametrize("q", TINY_QUERIES, ids="+".join)
def test_wand_default_route_jobs_no_higher_than_bm25(spark, persisted, q):
    """Below the prune gate WAND's dictionary lookup adds no job to the
    exhaustive plan it routes to."""
    def run():
        res, stats = bm25_topk_wand(persisted, q, 5, return_stats=True)
        return res.collect(), stats

    (rows, stats), n = _jobs_of(spark, run)
    assert stats["gated_exhaustive"] and "reason" not in stats
    want, n_bm25 = _jobs_of(spark, lambda: Q.search_bm25(persisted, q, 5).collect())
    assert rows == want
    assert n <= n_bm25 <= 3, (n, n_bm25)


STREAM_B0 = [
    ("ca", 0, "apple engine rotten apple"),
    ("cb", 0, "cat toy engine"),
    ("cc", 0, "apple pie old recipe"),
]
# cc re-sent: its old turn is tombstoned
STREAM_B1 = [
    ("cc", 0, "apple pie new recipe"),
    ("cd", 0, "rotten cat toy"),
]


def test_tombstoned_streaming_bm25_jobs(spark, tmp_path):
    d = str(tmp_path / "sidx")
    for b, rows in enumerate([STREAM_B0, STREAM_B1]):
        ingest_batch(
            spark.createDataFrame(rows, "conv_id string, turn_idx int, text string"),
            d, b, stem=False, positional=True, docs_per_segment=2,
        )
    idx = load_streaming_index(spark, d)
    assert idx.tombstones is not None
    for q in (["apple", "rotten"], ["cat", "pie"]):
        rows, n = _jobs_of(spark, lambda: Q.search_bm25(idx, q, 5).collect())
        assert rows and 2 not in {r["doc_id"] for r in rows}
        assert n <= 4, (q, n)
