"""The driver-side term dictionary, ``InvertedIndex.term_info``.

Ranked queries learn each query term's ``(df, cf)`` from a dictionary
lookup instead of a ``term_stats`` scan in their plan. On a persisted
index the lookup reads the term_stats files with pyarrow on the driver
(the base table plus the deltas of committed batches); any other index
runs one filtered collect. These tests pin that the lookup equals
``term_stats`` collected through Spark on every index layout, that an
uncommitted batch's delta never counts, that opening a streaming index
and looking terms up run no Spark job, and that ``collection_len`` (the
LM-Dirichlet |C|) equals the stored doc lengths without a job."""

import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from peterman_search_engine_spark.operators.indexer import build_index
from peterman_search_engine_spark.plans.checkpoint import (
    build_index_checkpointed,
    load_index,
)
from peterman_search_engine_spark.plans.storage import (
    read_term_info,
    table_files,
    term_row_groups,
)
from peterman_search_engine_spark.streaming.incremental import (
    ingest_batch,
    load_streaming_index,
    reencode_blocks,
)

B0 = [
    ("ca", 0, "unique alpha engine"),
    ("cb", 0, "beta engine shared words"),
    ("cc", 0, "gamma engine old payload"),
]
# cc re-sent: its old turn is tombstoned
B1 = [
    ("cc", 0, "gamma engine new payload"),
    ("cd", 0, "delta engine {x} words"),
]
B2 = [("ce", 0, "epsilon engine words")]


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"dict-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "term dictionary")
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"idle-{group}", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _spark_stats(index):
    return {
        r["term"]: (r["df"], r["cf"])
        for r in index.term_stats.select("term", "df", "cf").collect()
    }


def _assert_dictionary_matches(index):
    want = _spark_stats(index)
    assert want
    assert index.term_info([*want, "no-such-term"]) == want
    some = sorted(want)[::3]
    assert index.term_info(some) == {t: want[t] for t in some}
    assert index.term_info([]) == {}


def _stored_len(index):
    return index.doc_stats.agg(F.sum("doc_len")).collect()[0][0]


def _ingest(spark, d, batch_id, rows):
    ingest_batch(
        spark.createDataFrame(rows, "conv_id string, turn_idx int, text string"),
        d, batch_id, stem=False, positional=True, docs_per_segment=2,
    )


def test_dictionary_on_checkpointed_index(spark, tiny_corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index_checkpointed(tiny_corpus, d, docs_per_segment=16, segments_per_group=2)
    idx = load_index(spark, d)
    assert idx.term_stats_files
    _assert_dictionary_matches(idx)
    info, jobs = _jobs_of(spark, lambda: idx.term_info(["appl", "rotten", "apple"]))
    assert jobs == 0 and set(info) == {"appl", "rotten"}  # stemmed index
    assert idx.collection_len() == _stored_len(idx)


def test_dictionary_on_in_memory_index(spark, tiny_corpus):
    idx = build_index(tiny_corpus, docs_per_segment=16)
    assert idx.term_stats_files is None
    _assert_dictionary_matches(idx)
    assert idx.collection_len() == _stored_len(idx)


def test_dictionary_on_streaming_index_before_and_after_compaction(spark, tmp_path):
    d = str(tmp_path / "sidx")
    for b, rows in enumerate([B0, B1]):
        _ingest(spark, d, b, rows)
    idx, jobs = _jobs_of(spark, lambda: load_streaming_index(spark, d))
    assert jobs == 0
    assert idx.tombstones is not None
    info, jobs = _jobs_of(spark, lambda: idx.term_info(["engine", "gamma", "{x}"]))
    assert jobs == 0
    # the superseded "gamma" turn still counts until compaction
    assert info == {"engine": (5, 5), "gamma": (2, 2), "{x}": (1, 1)}
    _assert_dictionary_matches(idx)
    # |C| counts the superseded turn too, as cf does
    assert idx.collection_len() == _stored_len(idx) == 19

    reencode_blocks(spark, d)
    idx = load_streaming_index(spark, d)
    assert idx.tombstones is None
    assert not os.path.isdir(os.path.join(d, "term_stats_delta"))
    assert idx.term_info(["engine", "gamma"]) == {"engine": (4, 4), "gamma": (1, 1)}
    _assert_dictionary_matches(idx)
    assert idx.collection_len() == _stored_len(idx) == 15

    # a batch after the compaction: the materialized table plus its delta
    _ingest(spark, d, 2, B2)
    idx = load_streaming_index(spark, d)
    assert idx.term_info(["engine", "epsilon"]) == {"engine": (5, 5), "epsilon": (1, 1)}
    _assert_dictionary_matches(idx)
    assert idx.collection_len() == _stored_len(idx)


def test_uncommitted_delta_never_counts(spark, tmp_path):
    d = str(tmp_path / "sidx")
    _ingest(spark, d, 0, B0)
    before = load_streaming_index(spark, d)
    want = _spark_stats(before)
    _ingest(spark, d, 1, B1)
    # crash window: batch 1's data and delta are on disk, its manifest is not
    os.remove(os.path.join(d, "_manifest", "batch_1.json"))
    assert os.path.isdir(os.path.join(d, "term_stats_delta", "batch=1"))
    idx = load_streaming_index(spark, d)
    assert idx.term_info([*want, "delta", "{x}"]) == want
    _assert_dictionary_matches(idx)
    assert idx.collection_len() == before.collection_len() == _stored_len(idx)


@pytest.mark.parametrize("table", ["term_stats", "term_stats_delta"])
def test_dictionary_files_skip_hidden_entries(spark, tmp_path, table):
    """Spark's listing rule: ``_x`` and ``.x`` entries are not data, so
    a stray file there (here a copy of a data file) must not count."""
    d = str(tmp_path / "sidx")
    _ingest(spark, d, 0, B0)
    if table == "term_stats":
        reencode_blocks(spark, d)
    want = _spark_stats(load_streaming_index(spark, d))
    root = os.path.join(d, table) if table == "term_stats" else os.path.join(
        d, table, "batch=0"
    )
    data = next(f for f in sorted(os.listdir(root)) if f.endswith(".parquet"))
    with open(os.path.join(root, data), "rb") as src:
        blob = src.read()
    for hidden in ("_stray.parquet", ".stray.parquet"):
        with open(os.path.join(root, hidden), "wb") as out:
            out.write(blob)
    idx = load_streaming_index(spark, d)
    assert idx.term_info(want) == want


def _assert_term_sorted(path):
    files = table_files(path)
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f


def test_term_stats_written_sorted_by_term(spark, tiny_corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index_checkpointed(tiny_corpus, d, docs_per_segment=16, segments_per_group=2)
    _assert_term_sorted(os.path.join(d, "term_stats"))
    s = str(tmp_path / "sidx")
    for b, rows in enumerate([B0, B1]):
        _ingest(spark, s, b, rows)
    reencode_blocks(spark, s)
    _assert_term_sorted(os.path.join(s, "term_stats"))


def test_lookup_reads_only_row_groups_that_can_hold_a_term(spark, tmp_path):
    path = str(tmp_path / "ts")
    rows = [(f"t{i:05d}", i + 1, 2 * i + 1) for i in range(20000)]
    (
        spark.createDataFrame(rows, "term string, df long, cf long")
        .repartition(1)
        .sortWithinPartitions("term")
        .write.option("parquet.block.size", 4096)
        .parquet(path)
    )
    (f,) = table_files(path)
    terms = ["t00007", "t15000", "zz"]
    with pq.ParquetFile(f) as pf:
        assert pf.metadata.num_row_groups > 10
        assert len(term_row_groups(pf, terms)) == 2
        assert term_row_groups(pf, ["a"]) == []
    assert read_term_info([f], terms) == {"t00007": (8, 15), "t15000": (15001, 30001)}
