"""Streaming incremental index == batch rebuild of the same corpus."""

import os

import pytest
from pyspark.sql import functions as F

from peterman_search_engine_spark.operators.indexer import build_index
from peterman_search_engine_spark.operators.query import (
    search_and,
    search_bm25,
    search_or,
    search_phrase,
)
from peterman_search_engine_spark.operators.wand import bm25_topk_wand
from peterman_search_engine_spark.sources.transcripts import generate_transcripts
from peterman_search_engine_spark.streaming.incremental import (
    ingest_batch,
    load_streaming_index,
    reencode_blocks,
    start_incremental_build,
)


@pytest.fixture(scope="module")
def split_input(spark, tmp_path_factory):
    """The small transcript tier split into two parquet files (two
    conv_id ranges) so maxFilesPerTrigger=1 yields two micro-batches
    in conv order."""
    d = str(tmp_path_factory.mktemp("stream_in"))
    df = generate_transcripts(spark, "small")
    a = df.filter(F.col("conv_id") < "conv000125").coalesce(1)
    b = df.filter(F.col("conv_id") >= "conv000125").coalesce(1)
    a.write.parquet(os.path.join(d, "part_a"))
    b.write.parquet(os.path.join(d, "part_b"))
    # file source: one file per dir write; flatten to the expected names
    import glob
    import shutil

    for i, sub in enumerate(["part_a", "part_b"]):
        src = glob.glob(os.path.join(d, sub, "*.parquet"))[0]
        shutil.copy(src, os.path.join(d, f"{i:02d}.parquet"))
        shutil.rmtree(os.path.join(d, sub))
    return d


def _expected_corpus(spark, split_input):
    """doc_ids as streaming assigns them: file 0's rows (sorted by
    conv_id, turn_idx) first, then file 1's."""
    dfs = []
    base = 0
    for i in range(2):
        df = spark.read.parquet(os.path.join(split_input, f"{i:02d}.parquet"))
        rows = sorted(
            df.select("conv_id", "turn_idx", "text").collect(),
            key=lambda r: (r["conv_id"], r["turn_idx"]),
        )
        dfs.append([(base + j, r["text"]) for j, r in enumerate(rows)])
        base += len(rows)
    flat = [x for part in dfs for x in part]
    return spark.createDataFrame(flat, "doc_id long, text string")


def test_streaming_matches_batch(spark, split_input, tmp_path):
    index_dir = str(tmp_path / "sidx")
    q = start_incremental_build(
        spark, split_input, index_dir,
        stem=False, positional=True, docs_per_segment=200,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert os.path.exists(os.path.join(index_dir, "_manifest", "batch_0.json"))
    assert os.path.exists(os.path.join(index_dir, "_manifest", "batch_1.json"))

    sidx = load_streaming_index(spark, index_dir)
    bidx = build_index(
        _expected_corpus(spark, split_input),
        stem=False, positional=True, docs_per_segment=200,
    )
    assert sidx.n_docs == bidx.n_docs
    assert abs(sidx.avg_len - bidx.avg_len) < 1e-9

    for terms in (["spark", "merge"], ["index"]):
        a = [(r["doc_id"], round(r["score"], 9))
             for r in search_bm25(sidx, terms, 10).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in search_bm25(bidx, terms, 10).collect()]
        assert a == b
    a = sorted(r["doc_id"] for r in search_and(sidx, ["spark", "merge"]).collect())
    b = sorted(r["doc_id"] for r in search_and(bidx, ["spark", "merge"]).collect())
    assert a == b
    a = sorted(r["doc_id"] for r in search_phrase(sidx, ["fast", "table"]).collect())
    b = sorted(r["doc_id"] for r in search_phrase(bidx, ["fast", "table"]).collect())
    assert a == b


def test_streaming_replay_idempotent(spark, split_input, tmp_path):
    index_dir = str(tmp_path / "sidx2")
    df0 = spark.read.parquet(os.path.join(split_input, "00.parquet"))
    ingest_batch(df0, index_dir, 0, stem=False, positional=False,
                 docs_per_segment=200)
    sidx = load_streaming_index(spark, index_dir)
    n1 = sidx.n_docs
    rows1 = sidx.postings.count()
    # replay the same batch id (crash-recovery path): must be a no-op
    ingest_batch(df0, index_dir, 0, stem=False, positional=False,
                 docs_per_segment=200)
    sidx2 = load_streaming_index(spark, index_dir)
    assert sidx2.n_docs == n1
    assert sidx2.postings.count() == rows1


def test_reencode_enables_wand(spark, split_input, tmp_path):
    index_dir = str(tmp_path / "sidx3")
    for i in range(2):
        ingest_batch(
            spark.read.parquet(os.path.join(split_input, f"{i:02d}.parquet")),
            index_dir, i, stem=False, positional=False,
            docs_per_segment=200,
        )
    reencode_blocks(spark, index_dir)
    sidx = load_streaming_index(spark, index_dir)
    bidx = build_index(
        _expected_corpus(spark, split_input),
        stem=False, positional=False, docs_per_segment=200,
    )
    a = [(r["doc_id"], round(r["score"], 9))
         for r in bm25_topk_wand(sidx, ["spark", "merge"], 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in search_bm25(bidx, ["spark", "merge"], 10).collect()]
    assert a == b


def test_streaming_wand_unaligned_batches(spark, tmp_path):
    """Batch sizes deliberately NOT multiples of docs_per_segment: the
    micro-batch boundary falls inside a segment, producing duplicate
    (segment, term) posting rows. After reencode_blocks the duplicates
    must be merged away and forced-prune WAND must be rank-identical
    to a batch rebuild (the high-severity round-1 regression)."""
    from pyspark.sql import functions as F

    index_dir = str(tmp_path / "sidx_unaligned")
    n = 500
    docs = spark.range(n).select(
        F.format_string("c%05d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.concat(
            F.lit("alpha beta common "),
            F.when(F.col("id") % 7 == 0, F.lit("rare spark merge ")).otherwise(F.lit("")),
            F.lit("tail word"),
        ).alias("text"),
        F.col("id").alias("_id"),
    )
    # three batches of 137 / 211 / 152 docs (none a multiple of 100)
    cuts = [(0, 137), (137, 348), (348, 500)]
    for i, (lo, hi) in enumerate(cuts):
        ingest_batch(
            docs.filter((F.col("_id") >= lo) & (F.col("_id") < hi)).drop("_id"),
            index_dir, i, stem=False, positional=False, docs_per_segment=100,
        )
    pre = load_streaming_index(spark, index_dir)
    assert (
        pre.postings.groupBy("segment", "term").count()
        .filter(F.col("count") > 1).count() > 0
    ), "fixture must actually produce duplicate (segment, term) rows"
    reencode_blocks(spark, index_dir)
    sidx = load_streaming_index(spark, index_dir)
    assert (
        sidx.postings.groupBy("segment", "term").count()
        .filter(F.col("count") > 1).count() == 0
    ), "reencode_blocks must merge duplicate rows"
    bidx = build_index(
        docs.select(F.col("_id").alias("doc_id"), "text"),
        stem=False, positional=False, docs_per_segment=100,
    )
    for terms in (["rare", "common"], ["spark", "merge"], ["alpha"]):
        a = [(r["doc_id"], round(r["score"], 9))
             for r in bm25_topk_wand(sidx, terms, 10, force_prune=True).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in search_bm25(bidx, terms, 10).collect()]
        assert a == b, terms


def test_streaming_crash_before_manifest_replays_exactly(spark, split_input, tmp_path):
    """The manifest is the single commit point: simulate a crash AFTER
    the batch's data writes but BEFORE the manifest rename by deleting
    the manifest, then replay the batch. Stats fold from manifests
    only, so the replay re-ingests with the same base and the index
    equals a batch rebuild (no doc_id shift, no double counting)."""
    index_dir = str(tmp_path / "sidx_crash")
    for i in range(2):
        ingest_batch(
            spark.read.parquet(os.path.join(split_input, f"{i:02d}.parquet")),
            index_dir, i, stem=False, positional=True, docs_per_segment=200,
        )
    # crash window: batch 1's data is on disk but its manifest is not
    os.remove(os.path.join(index_dir, "_manifest", "batch_1.json"))
    sidx_partial = load_streaming_index(spark, index_dir)
    assert sidx_partial.n_docs == spark.read.parquet(
        os.path.join(split_input, "00.parquet")
    ).count()  # uncommitted batch invisible to stats
    # replay
    ingest_batch(
        spark.read.parquet(os.path.join(split_input, "01.parquet")),
        index_dir, 1, stem=False, positional=True, docs_per_segment=200,
    )
    sidx = load_streaming_index(spark, index_dir)
    bidx = build_index(
        _expected_corpus(spark, split_input),
        stem=False, positional=True, docs_per_segment=200,
    )
    assert sidx.n_docs == bidx.n_docs
    assert abs(sidx.avg_len - bidx.avg_len) < 1e-9
    a = [(r["doc_id"], round(r["score"], 9))
         for r in search_bm25(sidx, ["spark", "merge"], 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in search_bm25(bidx, ["spark", "merge"], 10).collect()]
    assert a == b


def test_streaming_crash_before_manifest_hides_uncommitted_data(spark, tmp_path):
    """Queries see only committed batches, like the stats do. Batch 1
    re-sends ``ca`` (tombstoning doc 0) and adds ``cc``; with its
    manifest gone, neither its tombstone nor its postings may show,
    and its replay makes both visible."""
    index_dir = str(tmp_path / "sidx_uncommitted")
    batches = [
        [("ca", 0, "alpha engine"), ("cb", 0, "beta engine")],
        [("ca", 0, "alpha engine again"), ("cc", 0, "gamma engine")],
    ]

    def ingest(i):
        ingest_batch(
            spark.createDataFrame(
                batches[i], "conv_id string, turn_idx int, text string"
            ),
            index_dir, i, stem=False, positional=True, docs_per_segment=2,
        )

    ingest(0)
    ingest(1)
    os.remove(os.path.join(index_dir, "_manifest", "batch_1.json"))
    idx = load_streaming_index(spark, index_dir)
    assert idx.n_docs == 2
    assert idx.tombstones is None
    assert sorted(r["doc_id"] for r in search_or(idx, ["engine"]).collect()) == [0, 1]
    assert idx.doc_stats.count() == 2
    ingest(1)
    idx = load_streaming_index(spark, index_dir)
    assert idx.n_docs == 3
    assert sorted(r["doc_id"] for r in search_or(idx, ["engine"]).collect()) == [1, 2, 3]


def _executed_plans(spark) -> dict[int, str]:
    """Physical plan of every SQL execution the session has run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = {}
    while it.hasNext():
        e = it.next()
        plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def test_ingest_batch_runs_no_python_eval_or_pandas_group_map(spark, tmp_path):
    """Every SQL execution of one upserting ``ingest_batch`` call
    (stemmed, positional) stays off the row-wise Python paths: no plan
    has an ``ArrowEvalPython``/``BatchEvalPython`` analyzer UDF or a
    pandas group map. The posting write runs the Arrow kernel."""
    index_dir = str(tmp_path / "sidx_plans")
    batches = [
        [("ca", 0, "Alpha engines running"), ("cb", 0, "beta engine")],
        [("ca", 0, "alpha engines ran again"), ("cc", 0, "gamma engine")],
    ]
    for i, rows in enumerate(batches):
        before = _executed_plans(spark)
        ingest_batch(
            spark.createDataFrame(rows, "conv_id string, turn_idx int, text string"),
            index_dir, i, docs_per_segment=2,
        )
        plans = [p for k, p in _executed_plans(spark).items() if k not in before]
        for plan in plans:
            for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
                assert node not in plan, plan
        assert any("FlatMapGroupsInArrow" in p for p in plans)
    assert load_streaming_index(spark, index_dir).tombstones is not None


def test_streaming_ingest_never_rescans_prior_groups(spark, split_input, tmp_path):
    """Per-batch ingest cost must be O(batch), not O(index): corrupt
    batch 0's posting group and term_stats delta on disk — if batch 1's
    ingest read ANY prior group (the round-1 behavior rebuilt global
    term_stats from every group each batch), it would fail on the
    garbage parquet. Success proves no rescan."""
    index_dir = str(tmp_path / "sidx_noscan")
    ingest_batch(
        spark.read.parquet(os.path.join(split_input, "00.parquet")),
        index_dir, 0, stem=False, positional=False, docs_per_segment=200,
    )
    for sub in ("postings/group=stream_0", "term_stats_delta/batch=0"):
        d = os.path.join(index_dir, sub)
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                with open(os.path.join(d, name), "wb") as f:
                    f.write(b"NOT A PARQUET FILE")
    # must succeed without touching the corrupted group
    ingest_batch(
        spark.read.parquet(os.path.join(split_input, "01.parquet")),
        index_dir, 1, stem=False, positional=False, docs_per_segment=200,
    )
    assert os.path.exists(os.path.join(index_dir, "_manifest", "batch_1.json"))


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Late-data semantics of the watermarked windowed aggregation (the
    streaming_events_hourly shape, APPEND mode, four mtime-ordered
    micro-batches): a late event arriving AFTER its window's state was
    evicted is dropped (`numRowsDroppedByWatermark`), the finalized
    window is emitted WITHOUT it, and unfinalized windows are not
    emitted. The staging pins down the version-accurate timing: the
    watermark computed from batch N's data takes effect in batch N+1,
    eviction happens at batch END, and a late row that reaches a
    still-live window is still merged — so the drop needs the late row
    two batches after the watermark-advancing event. A batch
    aggregation over the same rows counts the late event — the
    difference IS the watermark."""
    import glob
    import shutil
    import time

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = 1_700_000_000 - (1_700_000_000 % 3600)  # hour-aligned epoch s
    h = 3600

    def _write(path, rows):
        spark.createDataFrame(rows, "event_id long, ts_s long").select(
            "event_id", F.timestamp_seconds(F.col("ts_s")).alias("ts")
        ).coalesce(1).write.mode("overwrite").parquet(path)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # b1: two on-time hour-0 events; b2: a far event that advances the
    # watermark past hour-0's end (in force from the NEXT batch); b3:
    # the batch where hour-0 is evicted + emitted; b4: the LATE hour-0
    # event (state gone -> dropped) + one more unfinalized-window event
    _write(str(tmp_path / "b1"), [(0, base), (1, base + 1800)])
    _write(str(tmp_path / "b2"), [(2, base + 3 * h)])
    _write(str(tmp_path / "b3"), [(3, base + 3 * h + 60)])
    _write(str(tmp_path / "b4"), [(4, base + 2700), (5, base + 3 * h + 120)])
    for i, sub in enumerate(["b1", "b2", "b3", "b4"]):
        f = glob.glob(str(tmp_path / sub / "*.parquet"))[0]
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.copy(f, dst)
        t = time.time() + i * 10  # mtime order == batch order
        os.utime(dst, (t, t))

    schema = spark.read.parquet(os.path.join(src, "00.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("pse_late_test")
        .outputMode("append")  # only FINALIZED windows are emitted
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {
        int(r["window"]["start"].timestamp()): r["n"]
        for r in spark.table("pse_late_test").collect()
    }
    # hour-0 finalized with the two on-time events only; the hour-3
    # window never finalized (watermark never passed its end)
    assert out == {base: 2}
    # the drop is observable in the progress metrics
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1
    # control: batch aggregation over the same rows counts the late one
    batch = {
        int(r["window"]["start"].timestamp()): r["n"]
        for r in spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert batch[base] == 3
