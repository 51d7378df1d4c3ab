"""Opening an index runs no Spark job.

Every package-written table is read through ``plans.storage.read_table``,
which takes the schema from the Spark row schema in one data file's
footer instead of Spark's one-task inference job, and the streaming
loader decides tombstone state from the batch manifests. These tests
pin both halves: the footer schema equals Spark's own inference on
every table of every index layout (names, types, nullability, order,
partition columns), and ``load_index`` / ``load_streaming_index`` on a
tombstoned, uncompacted index submit zero jobs."""

import os
import uuid

import pytest

from peterman_search_engine_spark.operators.maintenance import (
    delete_documents,
    persist_tombstones,
)
from peterman_search_engine_spark.plans.checkpoint import (
    build_index_checkpointed,
    load_index,
)
from peterman_search_engine_spark.plans.storage import TableStore, read_table
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
    ("cd", 0, "delta engine"),
]


def _tables(index_dir):
    return sorted(
        name
        for name in os.listdir(index_dir)
        if not name.startswith(("_", "."))
        and os.path.isdir(os.path.join(index_dir, name))
    )


def _assert_same_schemas(spark, index_dir, expected):
    tables = _tables(index_dir)
    assert set(expected) <= set(tables), tables
    for name in tables:
        path = os.path.join(index_dir, name)
        inferred = spark.read.option("basePath", path).parquet(path).schema
        assert read_table(spark, path).schema == inferred, name


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    group = f"open-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "open index")
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"idle-{group}", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _streaming_dir(spark, d):
    for i, rows in enumerate([B0, B1]):
        ingest_batch(
            spark.createDataFrame(rows, "conv_id string, turn_idx int, text string"),
            d, i, stem=False, positional=True, docs_per_segment=2,
        )
    return d


@pytest.mark.parametrize("positional", [True, False])
def test_checkpoint_tables_read_with_inferred_schema(
    spark, tiny_corpus, tmp_path, positional
):
    d = str(tmp_path / "idx")
    build_index_checkpointed(
        tiny_corpus, d, stem=False, positional=positional, docs_per_segment=64
    )
    persist_tombstones(
        delete_documents(load_index(spark, d), [1, 5]), TableStore(spark, d)
    )
    _assert_same_schemas(
        spark, d, ["block_meta", "doc_stats", "postings", "term_stats", "tombstones"]
    )


def test_streaming_tables_read_with_inferred_schema(spark, tmp_path):
    d = _streaming_dir(spark, str(tmp_path / "sidx"))
    _assert_same_schemas(
        spark, d,
        ["doc_map", "doc_stats", "postings", "term_stats_delta", "tombstones"],
    )
    reencode_blocks(spark, d)
    _assert_same_schemas(
        spark, d, ["block_meta", "doc_map", "doc_stats", "postings", "term_stats"]
    )


def test_read_table_refuses_a_footer_without_spark_schema(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "plain"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), str(d / "part-0.parquet"))
    with pytest.raises(ValueError):
        read_table(spark, str(d))
    with pytest.raises(FileNotFoundError):
        read_table(spark, str(tmp_path / "missing"))


def test_load_index_runs_no_job(spark, tiny_corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index_checkpointed(
        tiny_corpus, d, stem=False, positional=True, docs_per_segment=64
    )
    persist_tombstones(
        delete_documents(load_index(spark, d), [1, 5]), TableStore(spark, d)
    )
    idx, jobs = _jobs_of(spark, lambda: load_index(spark, d))
    assert jobs == []
    assert idx.tombstones is not None and idx.block_meta is not None


def test_load_streaming_index_runs_no_job(spark, tmp_path):
    d = _streaming_dir(spark, str(tmp_path / "sidx"))
    idx, jobs = _jobs_of(spark, lambda: load_streaming_index(spark, d))
    assert jobs == []
    assert idx.tombstones is not None
    assert sorted(r["doc_id"] for r in idx.tombstones.collect()) == [2]
