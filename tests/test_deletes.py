"""Tombstone deletes + compaction (operators/maintenance.py).

The governing invariant: after compact_deletes, the index must be
indistinguishable from one built fresh on the reduced corpus — same
postings content, same stats, exact WAND. Before compaction the
tombstone path must exclude deleted docs from every query surface
while leaving stats as-built.
"""

import pytest
from pyspark.sql import functions as F

from peterman_search_engine_spark.operators import query as Q
from peterman_search_engine_spark.operators.indexer import build_index
from peterman_search_engine_spark.operators.maintenance import (
    compact_deletes,
    delete_documents,
    persist_tombstones,
)
from peterman_search_engine_spark.operators.query import search_bm25
from peterman_search_engine_spark.operators.wand import bm25_topk_wand


@pytest.fixture(scope="module")
def corpus(spark, tiny_corpus):
    return tiny_corpus.localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def deleted_ids(corpus):
    return sorted(
        r["doc_id"]
        for r in corpus.filter(F.col("doc_id") % 5 == 2).select("doc_id").collect()
    )


@pytest.fixture(scope="module")
def full_index(corpus):
    return build_index(corpus, stem=False, positional=True, docs_per_segment=64)


@pytest.fixture(scope="module")
def tomb_index(full_index, deleted_ids):
    return delete_documents(full_index, deleted_ids)


@pytest.fixture(scope="module")
def compacted(tomb_index):
    idx = compact_deletes(tomb_index)
    idx.postings = idx.postings.localCheckpoint(eager=True)
    return idx


@pytest.fixture(scope="module")
def fresh_reduced(corpus, deleted_ids):
    """The ground truth: an index built on the corpus minus deletes."""
    reduced = corpus.filter(~F.col("doc_id").isin(deleted_ids))
    return build_index(reduced, stem=False, positional=True, docs_per_segment=64)


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def _scores(df):
    return {r["doc_id"]: round(r["score"], 9) for r in df.collect()}


TERMS = ["spark", "merge"]


def test_tombstones_excluded_from_every_query_surface(
    full_index, tomb_index, deleted_ids
):
    dset = set(deleted_ids)
    for fn in (
        lambda i: Q.search_and(i, TERMS),
        lambda i: Q.search_or(i, TERMS),
        lambda i: Q.search_phrase(i, ["fast", "table"]),
        lambda i: Q.search_proximity(i, TERMS, 8),
        lambda i: Q.search_tfidf(i, TERMS, None),
        lambda i: Q.search_bm25(i, TERMS, None),
    ):
        full = set(_ids(fn(full_index)))
        live = set(_ids(fn(tomb_index)))
        assert live == full - dset
        assert not (live & dset)


def test_tombstone_scores_keep_asbuilt_stats(full_index, tomb_index):
    # same doc => same score: only exclusion changes, not idf/avg_len
    full = _scores(Q.bm25_scores(full_index, TERMS))
    live = _scores(Q.bm25_scores(tomb_index, TERMS))
    assert all(full[d] == s for d, s in live.items())


def test_delete_is_idempotent_and_incremental(full_index, deleted_ids):
    once = delete_documents(full_index, deleted_ids)
    twice = delete_documents(once, deleted_ids[: len(deleted_ids) // 2])
    assert twice.tombstones.count() == len(deleted_ids)


def test_wand_routes_exhaustive_under_tombstones(tomb_index):
    res, stats = bm25_topk_wand(tomb_index, TERMS, 5, return_stats=True)
    assert stats.get("reason") == "tombstones"
    base = search_bm25(tomb_index, TERMS, 5)
    assert [tuple(r) for r in res.collect()] == [tuple(r) for r in base.collect()]


def test_compacted_equals_fresh_build(compacted, fresh_reduced):
    # stats
    assert compacted.n_docs == fresh_reduced.n_docs
    assert compacted.avg_len == pytest.approx(fresh_reduced.avg_len)
    got = {
        (r["term"]): (r["df"], r["cf"]) for r in compacted.term_stats.collect()
    }
    want = {
        (r["term"]): (r["df"], r["cf"]) for r in fresh_reduced.term_stats.collect()
    }
    assert got == want
    # postings content (segment boundaries may differ; compare the
    # per-term flattened (doc_id, tf) streams)
    def stream(idx):
        rows = (
            idx.postings.select(
                "term", F.explode(F.arrays_zip("doc_ids", "tfs")).alias("z")
            )
            .select("term", "z.doc_ids", "z.tfs")
            .collect()
        )
        out = {}
        for r in rows:
            out.setdefault(r["term"], []).append((r["doc_ids"], r["tfs"]))
        return {t: sorted(v) for t, v in out.items()}

    assert stream(compacted) == stream(fresh_reduced)


def test_compacted_no_deleted_doc_remains(compacted, deleted_ids):
    hits = (
        compacted.postings.select(F.explode("doc_ids").alias("doc_id"))
        .filter(F.col("doc_id").isin(deleted_ids))
        .count()
    )
    assert hits == 0
    assert compacted.tombstones is None


def test_compacted_scores_and_phrase_match_fresh(compacted, fresh_reduced):
    assert _scores(Q.bm25_scores(compacted, TERMS)) == _scores(
        Q.bm25_scores(fresh_reduced, TERMS)
    )
    # positions were re-encoded: phrase must agree with the fresh build
    assert _ids(Q.search_phrase(compacted, ["fast", "table"])) == _ids(
        Q.search_phrase(fresh_reduced, ["fast", "table"])
    )


def test_wand_exact_after_compaction(compacted):
    res = bm25_topk_wand(compacted, TERMS, 5, force_prune=True)
    base = search_bm25(compacted, TERMS, 5)
    assert [tuple(r) for r in res.collect()] == [tuple(r) for r in base.collect()]


def test_compact_without_tombstones_is_noop(full_index):
    out = compact_deletes(full_index)
    assert out.postings is full_index.postings


def test_tombstones_persist_roundtrip(spark, corpus, deleted_ids, tmp_path):
    from peterman_search_engine_spark.plans.checkpoint import (
        build_index_checkpointed,
        load_index,
    )
    from peterman_search_engine_spark.plans.storage import TableStore

    d = str(tmp_path / "idx")
    build_index_checkpointed(
        corpus, d, stem=False, positional=False, docs_per_segment=64
    )
    idx = load_index(spark, d)
    assert idx.tombstones is None
    persist_tombstones(
        delete_documents(idx, deleted_ids), TableStore(spark, d)
    )
    idx2 = load_index(spark, d)
    assert idx2.tombstones is not None
    assert sorted(r["doc_id"] for r in idx2.tombstones.collect()) == deleted_ids
    full = set(_ids(Q.search_or(idx, TERMS)))
    assert set(_ids(Q.search_or(idx2, TERMS))) == full - set(deleted_ids)
