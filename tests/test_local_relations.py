"""Driver-built tables reach the plan as JVM LocalRelations.

Every leaf of a persisted index is a parquet scan, so the only
driver-built tables in a ranked query are the ones the operators make
themselves: query-term tables, WAND weights and seed rows, tombstone
lists and empty results. None of them may be a Python-worker RDD
(``LogicalRDD`` in the optimized plan, ``Scan ExistingRDD`` in an
executed one): that leaf costs a temp file, Python tasks on every
default-parallelism partition and a broadcast per query. Rankings
must stay identical to the pure-Python oracle on e6-rounded scores.
"""

import pytest

from peterman_search_engine_spark.operators import query as Q
from peterman_search_engine_spark.operators.batch import batch_bm25_topk
from peterman_search_engine_spark.operators.maintenance import delete_documents
from peterman_search_engine_spark.operators.ranking import (
    search_bm25f,
    search_lm_dirichlet,
    search_rm3,
)
from peterman_search_engine_spark.operators.wand import bm25_topk_wand
from peterman_search_engine_spark.oracle import OracleIndex
from peterman_search_engine_spark.plans.checkpoint import (
    build_index_checkpointed,
    load_index,
)
from peterman_search_engine_spark.plans.session import local_frame

K = 5
QUERIES = [
    ["apple", "apple", "rotten"],
    ["cat", "toy"],
    ["university", "research"],
    ["partition"],
]
STOP_ONLY = ["the", "and"]  # analyzes to no terms: the empty-result path
DELETED = [1, 4, 9]


@pytest.fixture(scope="module")
def persisted(spark, tiny_corpus, tiny_corpus_rows, tmp_path_factory):
    d = tmp_path_factory.mktemp("local_rel")
    tiny_corpus.write.parquet(str(d / "corpus"))
    build_index_checkpointed(
        tiny_corpus, str(d / "idx"), docs_per_segment=16, segments_per_group=2
    )
    idx = load_index(spark, str(d / "idx"))
    corpus = spark.read.parquet(str(d / "corpus"))
    return idx, corpus, OracleIndex(tiny_corpus_rows, stem=True)


def _executed_plans(spark) -> dict[int, str]:
    """Physical plan of every SQL execution the session has run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = {}
    while it.hasNext():
        e = it.next()
        plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def _collect_jvm_only(spark, make_df):
    """Build the operator's DataFrame and collect it. Asserts that its
    optimized plan, and the executed plan of every query the operator
    ran on the way (WAND's driver-side collects included), contain no
    Python-worker RDD leaf."""
    before = _executed_plans(spark)
    df = make_df()
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    rows = df.collect()
    plans = [p for i, p in _executed_plans(spark).items() if i not in before]
    assert plans, "the operator ran no query"
    for plan in plans:
        assert "ExistingRDD" not in plan, plan
    return rows


def _e6(pairs):
    return [(int(d), round(s * 1_000_000)) for d, s in pairs]


def _oracle_topk(oracle, q, k, exclude=()):
    ranked = [p for p in oracle.search_bm25(q, None) if p[0] not in exclude]
    return _e6(ranked[:k])


RANKED = {
    "search_bm25": lambda idx, c, q: Q.search_bm25(idx, q, K),
    "bm25_topk_wand": lambda idx, c, q: bm25_topk_wand(idx, q, K),
    "bm25_topk_wand_pruned": lambda idx, c, q: bm25_topk_wand(
        idx, q, K, force_prune=True
    ),
}


@pytest.mark.parametrize("family", sorted(RANKED))
@pytest.mark.parametrize("q", QUERIES, ids="+".join)
def test_bm25_families_jvm_only_and_oracle_identical(spark, persisted, family, q):
    idx, corpus, oracle = persisted
    rows = _collect_jvm_only(spark, lambda: RANKED[family](idx, corpus, q))
    assert _e6((r["doc_id"], r["score"]) for r in rows) == _oracle_topk(oracle, q, K)


@pytest.mark.parametrize("q", QUERIES, ids="+".join)
def test_tfidf_jvm_only_and_oracle_identical(spark, persisted, q):
    idx, _, oracle = persisted
    rows = _collect_jvm_only(spark, lambda: Q.search_tfidf(idx, q, K))
    assert _e6((r["doc_id"], r["score"]) for r in rows) == _e6(
        oracle.search_tfidf(q, K)
    )


def test_batch_jvm_only_and_oracle_identical(spark, persisted):
    idx, _, oracle = persisted
    log = {i: q for i, q in enumerate(QUERIES + [STOP_ONLY])}
    rows = _collect_jvm_only(spark, lambda: batch_bm25_topk(idx, log, K))
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], -r["score"], r["doc_id"])):
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    want = {i: _oracle_topk(oracle, q, K) for i, q in log.items()}
    assert {i: _e6(p) for i, p in got.items()} == {i: w for i, w in want.items() if w}


def test_tombstoned_bm25_jvm_only_and_oracle_identical(spark, persisted):
    """A driver-side delete list becomes a LocalRelation tombstone
    table; stats stay as-built, so the oracle ranking minus the
    deleted docs is the expected answer."""
    idx, _, oracle = persisted
    didx = delete_documents(idx, DELETED)
    for q in QUERIES:
        rows = _collect_jvm_only(spark, lambda: Q.search_bm25(didx, q, K))
        assert _e6((r["doc_id"], r["score"]) for r in rows) == _oracle_topk(
            oracle, q, K, exclude=set(DELETED)
        )


OTHER = {
    "bm25f": lambda idx, c, q: search_bm25f(idx, q, K),
    "lm_dirichlet": lambda idx, c, q: search_lm_dirichlet(idx, q, K),
    "rm3": lambda idx, c, q: search_rm3(idx, c, q, top_k=K),
}


@pytest.mark.parametrize("family", sorted(OTHER))
def test_other_rankers_jvm_only(spark, persisted, family):
    idx, corpus, _ = persisted
    rows = _collect_jvm_only(spark, lambda: OTHER[family](idx, corpus, QUERIES[0]))
    assert rows


EMPTY = {
    "search_bm25": lambda idx, c: Q.search_bm25(idx, STOP_ONLY, K),
    "search_tfidf": lambda idx, c: Q.search_tfidf(idx, STOP_ONLY, K),
    "bm25_topk_wand": lambda idx, c: bm25_topk_wand(idx, STOP_ONLY, K),
    "batch_bm25_topk": lambda idx, c: batch_bm25_topk(idx, {0: STOP_ONLY}, K),
    "bm25f": lambda idx, c: search_bm25f(idx, STOP_ONLY, K),
    "lm_dirichlet": lambda idx, c: search_lm_dirichlet(idx, STOP_ONLY, K),
    "rm3": lambda idx, c: search_rm3(idx, c, STOP_ONLY, top_k=K),
    "search_and": lambda idx, c: Q.search_and(idx, STOP_ONLY),
}


@pytest.mark.parametrize("family", sorted(EMPTY))
def test_empty_query_is_a_local_relation(spark, persisted, family):
    idx, corpus, _ = persisted
    df = EMPTY[family](idx, corpus)
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.collect() == []


@pytest.mark.parametrize(
    "rows,ddl",
    [
        ([("a", 1.5), ("b", 2.0)], "term string, qtf double"),
        ([(7, "x", 0.25)], "qid long, term string, qtf double"),
        ([(3, "y")], "qid int, term string"),
        ([], "doc_id long, score double"),
    ],
)
def test_local_frame_schema_and_rows(spark, rows, ddl):
    df = local_frame(spark, rows, ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert [tuple(r) for r in df.collect()] == rows
    assert df._jdf.queryExecution().optimizedPlan().toString().startswith(
        "LocalRelation"
    )
