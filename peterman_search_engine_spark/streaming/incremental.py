"""Incremental index maintenance via Structured Streaming.

The reference is batch-only (SURVEY.md §2.5) — its closest analogue is
the LSM ``addDocument``/auto-``flush`` path
(``InvertedIndexManager.java:169-263``): new docs accumulate and
become immutable segments. This module is the Spark-native version of
that write path: a ``readStream`` over arriving transcript files,
``foreachBatch`` turning each micro-batch into posting groups appended
to the same on-disk index layout that ``plans.checkpoint`` builds, so
the batch query operators work unchanged over a streaming-built index.

Semantics:

* doc_ids stay globally dense: each batch is numbered from the running
  total in stable (conv_id, turn_idx) order — the streaming equivalent
  of the reference's insertion-order docID counter (``IIM:194-197``).
  Numbering uses the scalable two-level scheme
  (``sources.adapters.assign_dense_doc_ids``: range partition +
  per-partition counts + driver prefix sum), never a global
  single-partition window.
* exactly-once ingest with ONE commit point: every per-batch artifact
  (postings group, doc_stats partition, term_stats delta) is an
  idempotent overwrite, and the batch manifest row — which carries the
  batch's doc count and token length — is written LAST. All dynamic
  corpus stats (n_docs, total_len, avg_len, max_doc_id) are derived by
  folding committed manifests, so a crash anywhere before the manifest
  rename replays the batch byte-identically, and a crash after it
  skips the batch entirely. Nothing dynamic is persisted outside the
  manifest, so there is no ordering window in which stats and data can
  disagree.
* per-batch work is O(batch), never O(index): global term_stats are
  NOT rebuilt per batch — each batch writes its own (term, df, cf)
  delta partition. A ranked query sums its terms' rows across the
  committed deltas on the driver (``InvertedIndex.term_info``); the
  Spark fold of the deltas (a term-level aggregation, metadata-sized)
  is built only for the dictionary scans that read
  ``index.term_stats``; ``reencode_blocks`` compaction materializes
  them once.
* BM25/TF-IDF/boolean/phrase queries over the loaded index are exact
  and identical to a batch rebuild of the same corpus. The ONE thing
  that drifts is the stored block upper bounds (encoded with the
  avg_len known at batch time) — run ``reencode_blocks`` (compaction)
  before trusting block-max WAND pruning on a streaming-built index;
  every non-WAND query is exact without it, and WAND's block ranges
  are duplicate-row-safe either way (``operators.wand``).
* **upserts** (default on): a re-sent ``conv_id`` SUPERSEDES its old
  turns — the streaming twin of ``maintenance.upsert_documents``.
  Each batch writes a ``doc_map`` partition
  ``(conv_id, turn_idx, doc_id, doc_len)`` hash-bucketed by conv_id;
  a later batch carrying a known conv_id finds the prior doc_ids with
  a bucket-pruned probe (it reads |batch-conv buckets|/64 of the map,
  NOT the whole map) and tombstones them. Queries over the loaded
  index exclude superseded turns immediately (``query._live``), and
  n_docs / avg_len fold exactly from manifests (each manifest records
  what it superseded, so the fold is O(#batches) driver work — no
  load-time scan). df/cf still count superseded turns until
  ``reencode_blocks``, which physically compacts tombstones and
  restores exact fresh-rebuild equivalence (asserted in
  tests/test_streaming_upsert.py); block-max WAND routes exhaustive
  while tombstones exist, same as the batch delete path.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import tokens_expr
from ..operators.indexer import DEFAULT_BLOCK_SIZE, postings_from_corpus
from ..plans.storage import read_table, table_files


def _config_path(index_dir: str) -> str:
    return os.path.join(index_dir, "config.json")


def _load_config(
    index_dir: str, stem: bool, positional: bool, dps: int, block_size: int
) -> dict:
    p = _config_path(index_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {
        "stem": stem,
        "positional": positional,
        "docs_per_segment": dps,
        "block_size": block_size,
    }


def _save_config(index_dir: str, cfg: dict) -> None:
    # static values only — idempotent, safe to rewrite on replay
    tmp = _config_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cfg, f)
    os.replace(tmp, _config_path(index_dir))


def _batch_manifest(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "_manifest", f"batch_{batch_id}.json")


# conv_id hash buckets for the doc_map layout: an upsert probe reads
# |buckets(batch convs)|/N of the map instead of scanning it
DOC_MAP_BUCKETS = 64


def _compaction_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_compaction.json")


def _read_compaction(index_dir: str) -> dict | None:
    p = _compaction_path(index_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def read_manifests(index_dir: str) -> list[dict]:
    mdir = os.path.join(index_dir, "_manifest")
    rows = []
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if name.startswith("batch_") and name.endswith(".json"):
                with open(os.path.join(mdir, name)) as f:
                    rows.append(json.load(f))
    return rows


def fold_stats(index_dir: str) -> dict:
    """LIVE corpus stats derived from COMMITTED batch manifests — the
    single source of truth (a manifest row implies durable data, so
    these can never disagree with the index contents). Each manifest
    records what its batch superseded (upserts), so the fold is exact
    for live docs with O(#batches) driver work — no data scan. A
    compaction snapshot (``_compaction.json``), when present, replaces
    the manifests it folded; only newer batches are added on top.

    The same fold names what a reader may see: ``batches`` (every
    committed batch id) and ``tombstoned`` (committed batches after the
    snapshot that superseded turns — exactly the live tombstone
    partitions). Partitions of any other batch are uncommitted.
    ``stored_len`` is what doc_stats and the postings still hold: the
    live ``total_len`` plus the superseded turns' lengths that no
    compaction has removed yet."""
    comp = _read_compaction(index_dir)
    if comp is not None:
        n_docs, total_len = comp["n_docs"], comp["total_len"]
        max_doc_id, through = comp["max_doc_id"], comp["through_batch"]
    else:
        n_docs = total_len = 0
        max_doc_id, through = -1, -1
    batches, tombstoned = [], []
    dead_len = 0
    for m in read_manifests(index_dir):
        batches.append(m["batch"])
        if m["batch"] <= through:
            continue
        n_docs += m["n_docs"] - m.get("n_superseded", 0)
        total_len += m["total_len"] - m.get("superseded_len", 0)
        dead_len += m.get("superseded_len", 0)
        max_doc_id = max(max_doc_id, m["doc_id_hi"] - 1)
        if m.get("n_superseded", 0):
            tombstoned.append(m["batch"])
    return {
        "n_docs": n_docs,
        "total_len": total_len,
        "avg_len": total_len / n_docs if n_docs else 0.0,
        "stored_len": total_len + dead_len,
        "max_doc_id": max_doc_id,
        "batches": sorted(batches),
        "tombstoned": sorted(tombstoned),
    }


def ingest_batch(
    batch_df: DataFrame,
    index_dir: str,
    batch_id: int,
    *,
    stem: bool = True,
    positional: bool = True,
    docs_per_segment: int = 100_000,
    block_size: int = DEFAULT_BLOCK_SIZE,
    upsert: bool = True,
) -> None:
    """foreachBatch body: one micro-batch of transcript rows → one
    posting group appended to the index. Also usable directly for
    batch-wise incremental loads. Reads nothing data-sized from prior
    groups — per-batch data work is O(batch) plus, when ``upsert``, a
    bucket-pruned probe of the conv_id→doc_id map (metadata-width
    rows, |batch-conv buckets|/64 of them). One cost is O(index): to
    build that probe, Spark lists every batch×bucket directory of the
    map, and past 32 directories it lists them with parallel Spark
    jobs. At 5 batches × 64 buckets that is 5 jobs, 320 tasks and
    ~1.3 s at ``local[4]`` on a 4-vCPU VM, growing with the number of
    ingested batches."""
    if os.path.exists(_batch_manifest(index_dir, batch_id)):
        return  # replayed batch — already durable
    if batch_df.isEmpty():
        return
    os.makedirs(os.path.join(index_dir, "_manifest"), exist_ok=True)
    t0 = time.perf_counter()
    cfg = _load_config(index_dir, stem, positional, docs_per_segment, block_size)
    _save_config(index_dir, cfg)
    prior = fold_stats(index_dir)
    # doc_ids continue above every id ever issued (NOT the live count:
    # with upserts n_docs < max_doc_id+1, and superseded ids must never
    # be reused — the reference's insertion-order docID counter is
    # append-only the same way, IIM:194-197)
    base = prior["max_doc_id"] + 1
    prior_n, prior_len = prior["n_docs"], prior["total_len"]

    # dense doc_ids continuing from the running total, stable
    # (conv_id, turn_idx) order within the batch, via the two-level
    # scheme (range partition + partition-local row numbers + driver
    # prefix sum of partition counts) — no single-partition window,
    # so a huge micro-batch still parallelizes. assign_dense_doc_ids
    # localCheckpoints the ordered layout, so the id assignment below
    # is pinned — doc_map and postings see the same ids.
    from ..sources.adapters import assign_dense_doc_ids

    assigned = assign_dense_doc_ids(
        batch_df, ["conv_id", "turn_idx"]
    ).withColumn("doc_id", F.col("doc_id") + F.lit(base))
    corpus = assigned.select("doc_id", "text")
    # stemming never changes token counts, so doc lengths come from the
    # pure-JVM tokenizer expression, as in every other build
    doc_len = F.size(tokens_expr("text"))

    lens = assigned.agg(
        F.count("*").alias("n"), F.sum(doc_len).alias("total")
    ).collect()[0]
    n_batch, len_batch = int(lens["n"]), int(lens["total"] or 0)

    # conv identity → internal doc id (+ doc_len, so a future upsert
    # learns the superseded length from the map probe alone), bucketed
    # by conv_id hash so that probe partition-prunes
    from ..operators.spell import _bucket_expr

    doc_map = assigned.select(
        "doc_id", "conv_id", "turn_idx", doc_len.alias("doc_len")
    ).withColumn("bucket", _bucket_expr(F.col("conv_id"), DOC_MAP_BUCKETS))
    doc_map.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(index_dir, "doc_map", f"batch={batch_id}")
    )

    n_sup, sup_len = 0, 0
    map_root = os.path.join(index_dir, "doc_map")
    # only committed batches are probed: an uncommitted batch's map and
    # tombstones are replayed, never trusted
    prior_batches = [b for b in prior["batches"] if b < batch_id]
    if upsert and prior_batches:
        spark = batch_df.sparkSession
        bks = [
            r["b"]
            for r in assigned.select(
                _bucket_expr(F.col("conv_id"), DOC_MAP_BUCKETS).alias("b")
            ).distinct().collect()
        ]
        prior_map = (
            read_table(spark, map_root)
            .filter(F.col("batch").isin(prior_batches))
            .filter(F.col("bucket").isin(sorted(bks)))
        )
        superseded = prior_map.join(
            assigned.select("conv_id").distinct(), "conv_id", "semi"
        ).select("doc_id", "doc_len")
        tomb_root = os.path.join(index_dir, "tombstones")
        prior_tombstoned = [b for b in prior["tombstoned"] if b < batch_id]
        if prior_tombstoned:
            # already-superseded ids must not be counted twice in the
            # manifest fold (conv re-sent a third time)
            prior_tomb = (
                read_table(spark, tomb_root)
                .filter(F.col("batch").isin(prior_tombstoned))
                .select("doc_id")
            )
            superseded = superseded.join(prior_tomb, "doc_id", "left_anti")
        superseded = superseded.localCheckpoint(eager=True)
        agg = superseded.agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("len")
        ).collect()[0]
        n_sup, sup_len = int(agg["n"]), int(agg["len"] or 0)
        if n_sup:
            superseded.select("doc_id").write.mode("overwrite").parquet(
                os.path.join(tomb_root, f"batch={batch_id}")
            )

    new_n = prior_n - n_sup + n_batch
    avg_len = (prior_len - sup_len + len_batch) / new_n if new_n else 0.0

    # raw_positions=False: same persisted contract as plans.checkpoint
    # — positions live on disk only as the per-(term,doc) delta+varint
    # blob, and the nested arrays are never built
    sp = postings_from_corpus(
        corpus,
        avg_len=avg_len,
        stem=cfg["stem"],
        positional=cfg["positional"],
        docs_per_segment=cfg["docs_per_segment"],
        block_size=cfg["block_size"],
        raw_positions=False,
    )
    gdir = os.path.join(index_dir, "postings", f"group=stream_{batch_id}")
    sp.write.mode("overwrite").parquet(gdir)
    assigned.select("doc_id", doc_len.alias("doc_len")).write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "doc_stats", f"batch={batch_id}"))

    # per-batch term_stats DELTA (term-level rows for THIS group only;
    # folded at load/compaction — the global table is never rebuilt
    # per batch, which would be O(total index) work)
    spark = batch_df.sparkSession
    written = read_table(spark, gdir)
    written.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    ).write.mode("overwrite").parquet(
        os.path.join(index_dir, "term_stats_delta", f"batch={batch_id}")
    )

    agg = written.agg(
        F.count("*").alias("rows"),
        F.sum("df").alias("entries"),
        F.sum(F.length("blob")).alias("blob_bytes"),
    ).collect()[0]
    row = {
        "batch": batch_id,
        "doc_id_lo": base,
        "doc_id_hi": base + n_batch,
        "n_docs": n_batch,
        "total_len": len_batch,
        "n_superseded": n_sup,
        "superseded_len": sup_len,
        "posting_rows": int(agg["rows"]),
        "posting_entries": int(agg["entries"] or 0),
        "blob_bytes": int(agg["blob_bytes"] or 0),
        "wall_sec": round(time.perf_counter() - t0, 4),
    }
    tmp = _batch_manifest(index_dir, batch_id) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(row, f)
    # the ONE commit point: everything above is an idempotent
    # overwrite; dynamic stats exist only as folds of these rows
    os.replace(tmp, _batch_manifest(index_dir, batch_id))


def start_incremental_build(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    *,
    stem: bool = True,
    positional: bool = True,
    docs_per_segment: int = 100_000,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    upsert: bool = True,
):
    """readStream(transcript parquet dir) → foreachBatch(ingest_batch).
    Returns the StreamingQuery; with ``available_now`` it drains the
    currently-available files and stops (use ``awaitTermination``)."""
    from ..sources.transcripts import SCHEMA

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch_df,
            index_dir,
            batch_id,
            stem=stem,
            positional=positional,
            docs_per_segment=docs_per_segment,
            upsert=upsert,
        )

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", os.path.join(index_dir, "_stream_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def load_streaming_index(spark: SparkSession, index_dir: str):
    """Open a streaming-built index with the batch query surface.
    Corpus stats fold from committed manifests; term_stats folds the
    per-batch deltas unless a compaction materialized the table, and
    that fold is built on first read of ``index.term_stats``.

    Runs no Spark job: every table is read with its footer schema, and
    the manifest fold decides which partitions are visible (committed
    batches only — a batch whose manifest was never written stays
    invisible to queries as well as to the stats) and whether any
    tombstone is live."""
    from ..operators.indexer import InvertedIndex

    with open(_config_path(index_dir)) as f:
        cfg = json.load(f)
    stats = fold_stats(index_dir)
    committed = stats["batches"]

    postings = (
        read_table(spark, os.path.join(index_dir, "postings"))
        .filter(
            F.col("group").isin(
                ["compacted"] + [f"stream_{b}" for b in committed]
            )
        )
        .drop("group")
    )
    positions_decoded = False
    if cfg["positional"] and "positions" not in postings.columns:
        from ..operators.indexer import with_positions

        postings = with_positions(postings)
        positions_decoded = True

    # term_stats: the materialized table (written by reencode_blocks,
    # which deletes the deltas it folded) plus any per-batch deltas
    # ingested SINCE that materialization — both present means batches
    # arrived after a compaction, and the sum of the two is exact. The
    # Spark fold is built only when something reads index.term_stats;
    # ranked queries look their terms up in the same files instead.
    ts_dir = os.path.join(index_dir, "term_stats")
    td_dir = os.path.join(index_dir, "term_stats_delta")
    deltas = [
        b for b in committed if os.path.isdir(os.path.join(td_dir, f"batch={b}"))
    ]
    ts_files = table_files(ts_dir) + [
        f for b in deltas for f in table_files(os.path.join(td_dir, f"batch={b}"))
    ]

    def fold_term_stats() -> DataFrame:
        parts = []
        if os.path.isdir(ts_dir):
            parts.append(read_table(spark, ts_dir).select("term", "df", "cf"))
        if deltas:
            parts.append(
                read_table(spark, td_dir)
                .filter(F.col("batch").isin(deltas))
                .select("term", "df", "cf")
            )
        term_stats = parts[0]
        if len(parts) > 1:
            term_stats = parts[0].unionByName(parts[1])
        if len(parts) > 1 or not os.path.isdir(ts_dir):
            term_stats = term_stats.groupBy("term").agg(
                F.sum("df").alias("df"), F.sum("cf").alias("cf")
            )
        return term_stats

    # batch=-1 is compaction's live-only rewrite
    ds = (
        read_table(spark, os.path.join(index_dir, "doc_stats"))
        .filter(F.col("batch").isin([-1] + committed))
        .drop("batch")
    )

    # superseded turns (upserts): queries exclude them via _live; n_docs
    # / avg_len above are already live-exact (manifest fold). df/cf
    # still count them until reencode_blocks — same drift contract as
    # maintenance.delete_documents, and WAND routes exhaustive while
    # tombstones exist. Tombstone partitions already folded into a
    # compaction snapshot are dead (their docs are physically gone), so
    # tombstones are live exactly when a committed batch after the
    # snapshot superseded turns. Ingest writes each superseded id once
    # and the left-anti join ignores duplicates, so no dedup is needed.
    tombstones = None
    if stats["tombstoned"]:
        tombstones = (
            read_table(spark, os.path.join(index_dir, "tombstones"))
            .filter(F.col("batch").isin(stats["tombstoned"]))
            .select("doc_id")
        )

    bm_dir = os.path.join(index_dir, "block_meta")
    return InvertedIndex(
        postings=postings,
        term_stats=fold_term_stats,
        doc_stats=ds,
        n_docs=stats["n_docs"],
        avg_len=stats["avg_len"],
        positional=cfg["positional"],
        stem=cfg["stem"],
        block_size=cfg.get("block_size", DEFAULT_BLOCK_SIZE),
        block_meta=read_table(spark, bm_dir) if os.path.isdir(bm_dir) else None,
        positions_decoded=positions_decoded,
        tombstones=tombstones,
        term_stats_files=tuple(ts_files),
        stored_len=stats["stored_len"],
    )


def reencode_blocks(
    spark: SparkSession,
    index_dir: str,
    *,
    block_size: int | None = None,
) -> None:
    """Compaction, as ONE Spark job over the whole index (no per-group
    driver loop): merge duplicate (segment, term) posting rows left by
    micro-batch boundaries (concatenating doc_ids/tfs/positions in
    doc order — batches hold disjoint doc ranges, so this is the
    merge_segments factor=1 aggregation) and recompute every blob and
    block upper bound with the FINAL avg_len, making block-max WAND
    bounds fresh. When upserts left tombstones, this pass also
    PHYSICALLY removes the superseded docs (maintenance.compact_deletes
    — explode → anti-join → re-aggregate, the same shape), rewrites
    doc_stats and the conv→doc map without them, and records a
    ``_compaction.json`` snapshot that the manifest fold builds on —
    after it the index is query-identical to a fresh build on the live
    corpus (df/cf drift gone). Also materializes term_stats and the
    narrow block_meta table. Commits by directory swap (postings →
    postings_old → removed); a crash mid-swap leaves postings_old as
    the recovery copy, and every intermediate crash window leaves a
    state the loader reads consistently (tombstones just go redundant
    once their docs are physically gone)."""
    import shutil

    from ..operators.indexer import merge_segments
    from ..operators.wand import block_meta_df

    idx = load_streaming_index(spark, index_dir)
    if block_size is None:
        block_size = idx.block_size
    had_tombstones = idx.tombstones is not None
    if had_tombstones:
        from ..operators.maintenance import compact_deletes

        merged = compact_deletes(idx, block_size=block_size)
    else:
        # factor=1 keeps segment ids; the groupBy(segment, term) merges
        # the per-batch duplicate rows and the encode UDF re-derives
        # blob + blocks from the merged lists with the final avg_len
        merged = merge_segments(idx, factor=1, block_size=block_size)

    # Phase 1 — write every .new artifact while the OLD files still
    # exist (the merged/compacted plans are lazy reads over them; a
    # swap before the last dependent write would pull files out from
    # under a running job).
    pdir = os.path.join(index_dir, "postings")
    out = merged.postings
    if merged.positional and "positions" in out.columns:
        out = out.drop("positions")  # persisted contract: compressed only
    # group=compacted keeps the partitioned layout uniform, so batches
    # ingested AFTER a compaction (group=stream_N dirs) coexist with it
    if os.path.isdir(pdir + ".new"):
        shutil.rmtree(pdir + ".new")
    out.write.parquet(os.path.join(pdir + ".new", "group=compacted"))
    # term-sorted, as the checkpoint build writes it
    merged.term_stats.sortWithinPartitions("term").write.mode("overwrite").parquet(
        os.path.join(index_dir, "term_stats")
    )
    ds_root = os.path.join(index_dir, "doc_stats")
    map_root = os.path.join(index_dir, "doc_map")
    prune_map = False
    if had_tombstones:
        # live-only doc_stats (batch=-1 keeps the partition layout)
        if os.path.isdir(ds_root + ".new"):
            shutil.rmtree(ds_root + ".new")
        merged.doc_stats.write.parquet(os.path.join(ds_root + ".new", "batch=-1"))
        # prune superseded rows from the conv→doc map so a future
        # upsert of the same conv never re-tombstones (and the manifest
        # fold never double-subtracts) docs that are already gone
        prune_map = os.path.isdir(map_root)
        if prune_map:
            if os.path.isdir(map_root + ".new"):
                shutil.rmtree(map_root + ".new")
            (
                read_table(spark, map_root)
                .join(idx.tombstones, "doc_id", "left_anti")
                .write.partitionBy("batch", "bucket")
                .parquet(map_root + ".new")
            )
        # snapshot stats come from the .new files — independent of the
        # about-to-be-removed old layout
        row = read_table(spark, ds_root + ".new").agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("len")
        ).collect()[0]
        snap = {
            "through_batch": max(
                m["batch"] for m in read_manifests(index_dir)
            ),
            "n_docs": int(row["n"]),
            "total_len": int(row["len"] or 0),
            "max_doc_id": fold_stats(index_dir)["max_doc_id"],
        }

    # Phase 2 — directory swaps + the compaction snapshot commit.
    def _swap(root: str) -> None:
        if os.path.isdir(root + ".old"):
            shutil.rmtree(root + ".old")
        os.rename(root, root + ".old")
        os.rename(root + ".new", root)
        shutil.rmtree(root + ".old")

    _swap(pdir)
    # the materialized term_stats now covers every ingested group;
    # drop the folded deltas so the loader never double-counts (a
    # crash between the two writes is recovered by re-running this
    # rerunnable compaction, which rebuilds both from postings)
    td_dir = os.path.join(index_dir, "term_stats_delta")
    if os.path.isdir(td_dir):
        shutil.rmtree(td_dir)
    if had_tombstones:
        _swap(ds_root)
        if prune_map:
            _swap(map_root)
        tmp = _compaction_path(index_dir) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, _compaction_path(index_dir))
        tomb_root = os.path.join(index_dir, "tombstones")
        if os.path.isdir(tomb_root):
            shutil.rmtree(tomb_root)

    final = load_streaming_index(spark, index_dir)
    final.block_meta = None  # derive fresh from the rewritten postings
    block_meta_df(final).write.mode("overwrite").parquet(
        os.path.join(index_dir, "block_meta")
    )
