"""Index maintenance: document deletion as tombstones + compaction.

The reference stubs ``deleteDocuments`` entirely
(``InvertedIndexManager.java:483-484`` — an empty method). This module
implements the operation the way a distributed index actually ships
it (the Lucene liveDocs model):

* ``delete_documents`` — O(|deleted|) metadata: record the doc_ids in
  a tombstone table. No posting row is touched, so a delete of 10^6
  docs out of 10^12 costs one small-table write, not an index rewrite.
  Queries exclude tombstoned docs from results (operators/query.py
  ``_live``); corpus-wide stats (df, N, avg_len) intentionally remain
  as-built — scoring drift is bounded by the deleted fraction and is
  the standard price for O(1)-ish deletes. Block-max WAND routes to
  the exhaustive plan while tombstones exist (stored block upper
  bounds may be dominated by deleted docs, making the prune unsound).

* ``compact_deletes`` — the amortized rewrite: physically remove
  tombstoned docs from every posting list, re-encode blobs / block
  upper bounds / position blobs with the POST-delete avg_len, and
  recompute df/cf/doc_stats/N. After compaction the index is
  indistinguishable from one built on the reduced corpus, so WAND and
  as-built-stats scoring are both exact again.

Scale shape: the tombstone table is metadata-sized (anti-joins
broadcast under AQE); compaction is one explode → anti-join →
re-aggregate pass over the postings — a full-index rewrite by
definition, run rarely and amortized over many deletes, exactly like
segment-merge compaction.
"""

from __future__ import annotations

import dataclasses
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import local_frame
from .indexer import (
    InvertedIndex,
    _ENC_SCHEMA,
    _ENC_SCHEMA_POS,
    _make_encode_udf,
    _posting_schema,
    with_positions,
)


def _as_tombstone_df(index: InvertedIndex, doc_ids) -> DataFrame:
    spark = index.postings.sparkSession
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select(F.col("doc_id").cast("long")).distinct()
    rows = [(int(d),) for d in sorted(set(doc_ids))]
    return local_frame(spark, rows, "doc_id long")


def delete_documents(
    index: InvertedIndex, doc_ids: DataFrame | Iterable[int]
) -> InvertedIndex:
    """Tombstone the given doc_ids (a one-column ``doc_id`` DataFrame
    or an iterable of ints). Returns a new InvertedIndex whose queries
    exclude them; idempotent (re-deleting is a no-op via distinct)."""
    tomb = _as_tombstone_df(index, doc_ids)
    if index.tombstones is not None:
        tomb = index.tombstones.unionByName(tomb).distinct()
    return dataclasses.replace(index, tombstones=tomb)


def persist_tombstones(index: InvertedIndex, store) -> None:
    """Commit the tombstone table through the storage seam (one
    Iceberg snapshot or a parquet overwrite — tiny either way);
    plans.checkpoint.load_index restores it, so deletes survive a
    restart without touching the posting tables."""
    if index.tombstones is None:
        raise ValueError("index has no tombstones to persist")
    store.write(index.tombstones, "tombstones")


def upsert_documents(
    index: InvertedIndex,
    updated: DataFrame,
    *,
    docs_per_segment: int | None = None,
    block_size: int | None = None,
) -> InvertedIndex:
    """Replace (or insert) documents by id — the operation the
    reference has no path for at all (its segments are immutable and
    ``deleteDocuments`` is a stub, IIM:483-484). ``updated`` is a
    (doc_id, text) DataFrame of the NEW versions.

    Semantics: the result answers every query exactly as an index
    freshly built on the updated corpus (asserted in
    tests/test_round4_ops.py::test_upsert_equals_fresh_rebuild) —
    doc_stats, n_docs, avg_len, df/cf are all post-upsert exact, and
    both surviving and delta posting rows are encoded with the ONE
    post-upsert global avg_len (so stored block upper bounds stay
    sound for WAND). Pre-existing tombstones are honored: already-
    deleted docs stay deleted (they are excluded from the post-upsert
    stats AND compacted out of the postings). Duplicate doc_ids in
    ``updated`` are collapsed to one arbitrary row per id before any
    stats are derived.

    Plan/scale: (1) exact post-upsert stats from one metadata-sized
    union-aggregate; (2) tombstone + compact the old versions,
    re-encoding with the new avg_len (one distributed pass, amortized
    like segment-merge compaction); (3) build delta posting rows from
    ONLY the updated texts (O(changed docs)); (4) union — duplicate
    (segment, term) rows are a supported index shape (streaming
    micro-batches create them), so no docID rebasing or segment
    renumbering is needed. A deployment batching many small upserts
    would skip (2) per batch (tombstones + stats drift, like
    delete_documents) and compact on a schedule; this function is the
    exact form."""
    from ..functions.analysis import tokens_expr
    from .indexer import postings_from_corpus

    if docs_per_segment is None:
        from .indexer import DEFAULT_DOCS_PER_SEGMENT

        docs_per_segment = DEFAULT_DOCS_PER_SEGMENT
    if block_size is None:
        block_size = index.block_size

    updated = updated.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).dropDuplicates(["doc_id"])
    ids = updated.select("doc_id").distinct()
    upd_stats = updated.select(
        "doc_id", F.size(tokens_expr("text")).alias("doc_len")
    )
    # Already-tombstoned docs must NOT resurface via as-built doc_stats
    # (compact below removes their postings; stats must agree).
    live_stats = index.doc_stats
    if index.tombstones is not None:
        live_stats = live_stats.join(index.tombstones, "doc_id", "left_anti")
    new_stats = live_stats.join(ids, "doc_id", "left_anti").unionByName(
        upd_stats
    )
    row = new_stats.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avg")
    ).collect()[0]
    n_docs, avg_len = int(row["n"]), float(row["avg"] or 0.0)

    base = compact_deletes(
        delete_documents(index, ids),
        block_size=block_size,
        encode_avg_len=avg_len,
    )
    delta = postings_from_corpus(
        updated,
        avg_len=avg_len,
        stem=index.stem,
        positional=index.positional,
        docs_per_segment=docs_per_segment,
        block_size=block_size,
    )
    postings = base.postings.unionByName(delta)
    term_stats = postings.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    return InvertedIndex(
        postings=postings,
        term_stats=term_stats,
        doc_stats=new_stats,
        n_docs=n_docs,
        avg_len=avg_len,
        positional=index.positional,
        stem=index.stem,
        block_size=block_size,
        block_meta=None,
        tombstones=None,
    )


def renumber_segments(index: InvertedIndex) -> InvertedIndex:
    """Densely renumber surviving segments to 0..n-1 in doc_id-range
    order — what the reference's merge does implicitly when deleted-
    empty segments vanish (the delete-and-rename commit,
    ``InvertedIndexManager.java:1062-1131``, renames segment files to
    close gaps; ``InvertedIndexDeletionTest.java:73,141,192`` counts
    segments AFTER that renumbering). Metadata-sized: the mapping is
    #segments rows computed with one distinct + window, broadcast back
    onto the postings; no posting payload is rewritten."""
    from pyspark.sql import Window

    segs = index.postings.select("segment").distinct()
    w = Window.orderBy("segment")
    mapping = segs.select(
        "segment", (F.row_number().over(w) - 1).cast("long").alias("_new")
    )
    cols = index.postings.columns
    p = (
        index.postings.join(F.broadcast(mapping), "segment")
        .drop("segment")
        .withColumnRenamed("_new", "segment")
        .select(cols)
    )
    return dataclasses.replace(index, postings=p)


def compact_deletes(
    index: InvertedIndex,
    *,
    block_size: int | None = None,
    encode_avg_len: float | None = None,
) -> InvertedIndex:
    """Physically apply tombstones: one distributed pass over postings.

    Plan: explode posting lists to (segment, term, doc_id, tf[, pos]),
    anti-join the tombstones (metadata-sized -> broadcast), join the
    surviving rows' doc_len, and re-aggregate per (segment, term) with
    a sort_array(collect_list(struct(doc_id, ...))) — structs sort by
    doc_id, restoring posting order (the merge_segments invariant).
    The encode UDF then re-derives blob / block upper bounds /
    position blobs with the POST-delete avg_len, so WAND bounds are
    fresh. Terms whose postings empty out vanish; df/cf/term_stats/
    doc_stats/N/avg_len are all recomputed. Returns a tombstone-free
    index.

    ``encode_avg_len`` overrides the avg_len used for blob/UB
    re-encoding AND the returned index field (upsert_documents passes
    the post-UPSERT global average so old and delta segments share one
    consistent encoding); default is the post-delete average."""
    tomb = index.tombstones
    if tomb is None or not tomb.take(1):
        return dataclasses.replace(index, tombstones=None)
    if block_size is None:
        block_size = index.block_size

    doc_stats = index.doc_stats.join(tomb, "doc_id", "left_anti")
    row = doc_stats.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avg")
    ).collect()[0]
    n_docs, avg_len = int(row["n"]), float(row["avg"] or 0.0)
    if encode_avg_len is not None:
        avg_len = float(encode_avg_len)

    p = index.postings
    if index.positional:
        p = with_positions(p)  # loaded indexes carry only the blob
    fields = ["doc_ids", "tfs"] + (["positions"] if index.positional else [])
    ex = p.select(
        "segment", "term", F.explode(F.arrays_zip(*fields)).alias("_z")
    ).select(
        "segment",
        "term",
        F.col("_z.doc_ids").alias("doc_id"),
        F.col("_z.tfs").alias("tf"),
        *([F.col("_z.positions").alias("pos")] if index.positional else []),
    )
    live = ex.join(tomb, "doc_id", "left_anti").join(doc_stats, "doc_id")

    entry = F.struct(
        F.col("doc_id"),
        F.col("tf"),
        F.col("doc_len"),
        *([F.col("pos")] if index.positional else []),
    )
    regrouped = (
        live.groupBy("segment", "term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("cf"),
            F.sort_array(F.collect_list(entry)).alias("_l"),
        )
        .select(
            "segment",
            "term",
            "df",
            "cf",
            F.col("_l.doc_id").alias("doc_ids"),
            F.col("_l.tf").alias("tfs"),
            F.col("_l.doc_len").alias("_doc_lens"),
            *([F.col("_l.pos").alias("positions")] if index.positional else []),
        )
    )

    enc_cols = [F.col("doc_ids"), F.col("tfs"), F.col("_doc_lens")]
    if index.positional:
        enc_cols.append(F.col("positions"))
    enc = _make_encode_udf(avg_len, block_size, positional=index.positional)(
        *enc_cols
    )
    regrouped = regrouped.withColumn("_enc", enc)
    for f in (_ENC_SCHEMA_POS if index.positional else _ENC_SCHEMA).fields:
        regrouped = regrouped.withColumn(f.name, F.col(f"_enc.{f.name}"))
    postings = regrouped.select(
        [f.name for f in _posting_schema(index.positional).fields]
    )

    term_stats = postings.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    return InvertedIndex(
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avg_len=avg_len,
        positional=index.positional,
        stem=index.stem,
        block_size=block_size,
        block_meta=None,  # stale after the rewrite; derived lazily
        tombstones=None,
    )
