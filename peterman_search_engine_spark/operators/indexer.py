"""Index build & maintenance — SURVEY.md §2.2 (B1-B4, B8-B11).

Reference model (single-node Java LSM): buffer 1000 docs in a sorted
in-memory table, flush to an immutable on-disk segment, pairwise-merge
segments (``InvertedIndexManager.java:169-291``). Spark-first
re-expression:

* ``addDocument``/buffer (B1) + flush (B2) -> ONE posting-build
  kernel, ``_build_group_arrow``: a segment's (doc_id, text) columns
  go in as Arrow buffers, and its posting rows come out as one Arrow
  RecordBatch (vectorized byte tokenizer, lexsort, run-length
  boundaries, grouped varint encode, per-block BM25 upper bounds) —
  the reference flushes every segment through one routine the same
  way (``IIM:209-263``, ``SDM:110-199``).
* segment (flush unit, B2) -> ``segment_id = doc_id // docs_per_segment``
  doc_id-range bucket. Posting lists are stored PER (segment, term), so
  no task ever materializes a full global posting list — a stop-word
  term at 10^12 turns splits across segments instead of one reducer.
  The segment id is also the skew defuser: the only shuffle key of the
  build is the segment, so a group holds at most docs_per_segment docs
  however hot its terms are.
* merge (B3/B4) -> ``merge_segments``: re-keying + TWO-PHASE SALTED
  aggregation by term (the old segment id is the salt), replacing the
  reference's manual two-pointer dictionary merge and docID rebasing
  (``IIM:905-953, 1035-1060``) — global dense doc_ids make rebasing
  unnecessary. Merged lists are re-encoded (delta+varint blobs, block
  upper bounds) by one Arrow-vectorized pandas UDF per posting row.
* DocStore (B10) -> the corpus table itself; point lookup = join on
  doc_id.

The kernel has two entry points, with one output contract:

* ``postings_from_aligned_corpus`` — ZERO-SHUFFLE ``mapInArrow``:
  requires the corpus partitioned into disjoint doc_id ranges (the
  docmap invariant); segment = input partition.
* ``postings_from_corpus`` — ONE text shuffle by segment, then
  ``groupBy(segment).applyInArrow`` into the kernel, for corpora
  without the range-partition invariant. The checkpointed, in-memory,
  streaming and upsert builds all run it.

Doc lengths for ``doc_stats`` come from the pure-JVM ``tokens_expr``
(stemming never changes token counts); the kernel's own analyzer is the
byte-level ``tokenize_block`` with the per-string ``_analyze_py`` as its
non-ASCII fallback. All three split on the same delimiter class
(``analysis.TOKEN_SPLIT_RE``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..functions.analysis import analyze_udf, tokens_expr
from ..functions.codec import (
    block_offsets,
    delta_varint_encode,
    delta_varint_encode_grouped,
    varint_positions_sql,
)
from ..plans.storage import read_term_info

K1 = 1.2
B = 0.75
DEFAULT_DOCS_PER_SEGMENT = 100_000
DEFAULT_BLOCK_SIZE = 128

_ENC_SCHEMA = StructType(
    [
        StructField("blob", BinaryType()),
        StructField("block_starts", ArrayType(LongType())),
        StructField("block_ubs", ArrayType(DoubleType())),
    ]
)

_ENC_SCHEMA_POS = StructType(
    list(_ENC_SCHEMA.fields)
    + [
        StructField("pos_blob", BinaryType()),
        StructField("pos_offsets", ArrayType(IntegerType())),
    ]
)


def encode_positions(pos_lists) -> tuple[bytes, np.ndarray]:
    """Compress one posting row's position lists: each doc's sorted
    list delta+varint-encoded independently (delta resets per doc,
    parity with SegmentInDiskManager.java:184-199), concatenated.
    Returns (blob bytes, int32 array of df+1 byte offsets)."""
    counts = np.fromiter((len(p) for p in pos_lists), np.int64, len(pos_lists))
    if counts.sum() == 0:
        return b"", np.zeros(len(counts) + 1, dtype=np.int32)
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in pos_lists])
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    buf, offs = delta_varint_encode_grouped(flat, starts)
    return buf.tobytes(), offs.astype(np.int32)


def with_positions(postings: DataFrame) -> DataFrame:
    """Ensure a raw `positions` column exists, decoding the compressed
    blob when the DataFrame came from the persisted layout. The decode
    is a JVM expression (``codec.varint_positions_sql`` over each doc's
    ``pos_offsets`` byte slice), and Catalyst column pruning keeps it
    out of every plan that does not select `positions`. A null blob
    gives null; fewer than two offsets give ``[]``."""
    if "positions" in postings.columns:
        return postings
    per_doc = varint_positions_sql(
        "substring(pos_blob, pos_offsets[i] + 1, e - pos_offsets[i])"
    )
    return postings.withColumn(
        "positions",
        F.expr(
            "if(pos_blob is null, null, transform("
            f"slice(pos_offsets, 2, size(pos_offsets)), (e, i) -> {per_doc}))"
        ),
    )


def _bm25_tf_part(tf: np.ndarray, doc_len: np.ndarray, avg_len: float) -> np.ndarray:
    """The per-(term,doc) BM25 factor EXCLUDING idf:
    tf*(k1+1) / (tf + k1*(1-b+b*len/avglen)). idf is a per-term
    constant, so max of this over a block times idf is a valid block
    upper bound."""
    return tf * (K1 + 1) / (tf + K1 * (1 - B + B * doc_len / avg_len))


def _make_encode_udf(avg_len: float, block_size: int, *, positional: bool = False):
    schema = _ENC_SCHEMA_POS if positional else _ENC_SCHEMA

    def _encode_rows(cols) -> pd.DataFrame:
        doc_ids, tfs, doc_lens = cols[0], cols[1], cols[2]
        positions = cols[3] if positional else None
        out: dict[str, list] = {f.name: [] for f in schema.fields}
        for i, (ids, tf, dl) in enumerate(zip(doc_ids, tfs, doc_lens)):
            ids_a = np.asarray(ids, dtype=np.int64)
            out["blob"].append(delta_varint_encode(ids_a))
            tf_a = np.asarray(tf, dtype=np.float64)
            dl_a = np.asarray(dl, dtype=np.float64)
            part = _bm25_tf_part(tf_a, dl_a, avg_len)
            starts, ubs = [], []
            for s, e in block_offsets(len(ids_a), block_size):
                starts.append(int(ids_a[s]))
                ubs.append(float(part[s:e].max()))
            out["block_starts"].append(starts)
            out["block_ubs"].append(ubs)
            if positional:
                pb, po = encode_positions(positions[i])
                out["pos_blob"].append(pb)
                out["pos_offsets"].append(po)
        return pd.DataFrame(out)

    if positional:

        @F.pandas_udf(schema)
        def _encode(
            doc_ids: pd.Series, tfs: pd.Series, doc_lens: pd.Series,
            positions: pd.Series,
        ) -> pd.DataFrame:
            return _encode_rows((doc_ids, tfs, doc_lens, positions))

    else:

        @F.pandas_udf(schema)
        def _encode(
            doc_ids: pd.Series, tfs: pd.Series, doc_lens: pd.Series
        ) -> pd.DataFrame:
            return _encode_rows((doc_ids, tfs, doc_lens))

    return _encode


class _BuiltOnRead:
    """A dataclass field that may be given as a zero-argument callable
    instead of its value: the callable runs on the first read, and its
    result replaces it."""

    def __set_name__(self, owner, name: str) -> None:
        self._key = f"_{name}"

    def __get__(self, obj, owner=None):
        if obj is None:
            raise AttributeError(self._key)  # no class default: the field stays required
        value = obj.__dict__[self._key]
        if callable(value):
            value = obj.__dict__[self._key] = value()
        return value

    def __set__(self, obj, value) -> None:
        obj.__dict__[self._key] = value


@dataclass
class InvertedIndex:
    """The built index: a set of DataFrames (or loaded Parquet tables).

    postings   (segment long, term string, df long, cf long,
                doc_ids array<long>, tfs array<int>,
                positions array<array<int>> | absent,
                blob binary, block_starts array<long>,
                block_ubs array<double>)
    term_stats (term string, df long, cf long)     [global]
    doc_stats  (doc_id long, doc_len int)
    n_docs     int
    avg_len    float
    """

    postings: DataFrame
    # a loader passes a callable, so an index opens without building
    # the term_stats plan; queries that only look terms up never read
    # it (they call term_info)
    term_stats: DataFrame = _BuiltOnRead()
    doc_stats: DataFrame
    n_docs: int
    avg_len: float
    positional: bool
    stem: bool
    # block granularity the stored block_starts/block_ubs were encoded
    # with — queries MUST slice blobs at this width, so it travels with
    # the index (persisted in stats.json) instead of being a caller
    # parameter that can silently disagree with the data.
    block_size: int = DEFAULT_BLOCK_SIZE
    # optional persisted narrow block-metadata table
    # (rid, segment, term, bi, lo, hi, ub) — lets WAND's prune phase
    # scan |postings|/block_size metadata rows without touching the
    # wide posting columns; derived lazily from postings when absent.
    block_meta: DataFrame | None = None
    # True when `positions` is a projection over pos_blob/pos_offsets
    # (loaded indexes: the JVM varint-decode expression of
    # `with_positions`) rather than a stored array column — the phrase
    # path then cuts and decodes only its candidates' byte slices
    # instead of decoding every entry's positions.
    positions_decoded: bool = False
    # tombstoned doc_ids (one column, `doc_id long`), or None. Queries
    # exclude these docs from results while corpus-wide stats (df, N,
    # avg_len) stay as-built until operators.maintenance.compact_deletes
    # rewrites the postings — the standard large-index delete tradeoff
    # (metadata-sized delete now, one full rewrite amortized later).
    tombstones: DataFrame | None = None
    # the parquet files whose per-term sum IS term_stats (a persisted
    # index: the base table plus committed deltas), read on the driver
    # by term_info; None when term_stats has no files of its own. They
    # must describe the same rows as term_stats.
    term_stats_files: tuple[str, ...] | None = None
    # |C|, the tokens the postings store: Σ doc_len over doc_stats,
    # tombstoned docs included, as df/cf count them. None means
    # n_docs·avg_len, which holds wherever n_docs and avg_len describe
    # doc_stats itself (a streaming index's are live-only).
    stored_len: int | None = None

    def num_segments(self) -> int:
        return self.postings.select("segment").distinct().count()

    def bm25_idf_sql(self) -> str:
        """idf = ln(1 + (N - df + 0.5)/(df + 0.5)) as Spark SQL text
        over term_stats.df."""
        n = f"{float(self.n_docs)!r}D"
        return f"ln(1.0D + ({n} - df + 0.5D) / (df + 0.5D))"

    def term_info(self, terms) -> dict[str, tuple[int, int]]:
        """The dictionary lookup — ``{term: (df, cf)}`` for the given
        terms that the index holds (the reference's dictionary slot,
        ``getDocumentFrequency``, IIM:705-715). A persisted index reads
        its ``term_stats_files`` with pyarrow on the driver and runs no
        Spark job; any other index runs one filtered collect."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        if self.term_stats_files is not None:
            return read_term_info(self.term_stats_files, terms)
        rows = self.term_stats.filter(F.col("term").isin(terms)).select(
            "term", "df", "cf"
        ).collect()
        return {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}

    def collection_len(self) -> float:
        """|C| from the index stats, without a Spark job."""
        if self.stored_len is not None:
            return float(self.stored_len)
        return float(round(self.n_docs * self.avg_len))


def tokenize_corpus(corpus: DataFrame, *, stem: bool = True) -> DataFrame:
    """corpus(doc_id, text) -> (doc_id, tokens array<string>).
    stem=True: fused Arrow UDF (A4). stem=False: pure JVM expressions
    (A1) — JVM-side columnar scan, zero Python."""
    if stem:
        tok = analyze_udf(stem=True)(F.col("text"))
    else:
        tok = tokens_expr("text")
    return corpus.select("doc_id", tok.alias("tokens"))


def _posting_schema(positional: bool, raw_positions: bool = True) -> StructType:
    fields = [
        StructField("segment", LongType()),
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("doc_ids", ArrayType(LongType())),
        StructField("tfs", ArrayType(IntegerType())),
    ]
    if positional:
        fields += ([
            StructField("positions", ArrayType(ArrayType(IntegerType()))),
        ] if raw_positions else []) + [
            # compressed form of `positions`: each (term, doc)'s sorted
            # position list delta+varint-encoded independently (delta
            # resets per doc — parity with the reference's per-(term,doc)
            # position-list compression, SegmentInDiskManager.java:184-199),
            # concatenated into one blob per posting row. pos_offsets
            # holds df+1 byte offsets — the columnar analogue of the
            # reference's 10-byte position meta slots (posPage/posOffset/
            # posByteLength, SDM:36, 187-193) enabling PARTIAL decode of a
            # single doc's slice. The persisted layout stores ONLY the
            # blob (checkpoint drops the raw arrays).
            StructField("pos_blob", BinaryType()),
            StructField("pos_offsets", ArrayType(IntegerType())),
        ]
    fields += [
        StructField("blob", BinaryType()),
        StructField("block_starts", ArrayType(LongType())),
        StructField("block_ubs", ArrayType(DoubleType())),
    ]
    return StructType(fields)


def postings_from_corpus(
    corpus: DataFrame,
    *,
    avg_len: float,
    stem: bool = True,
    positional: bool = True,
    docs_per_segment: int = DEFAULT_DOCS_PER_SEGMENT,
    block_size: int = DEFAULT_BLOCK_SIZE,
    raw_positions: bool = True,
) -> DataFrame:
    """The shuffled entry to the posting-build kernel: shuffle RAW
    (doc_id, text) rows by segment, then ``groupBy(segment)
    .applyInArrow`` hands each segment's Arrow columns to
    ``_build_group_arrow`` (tokenize + stop-filter + stem + posting
    assembly + varint encode in one vectorized pass). The shuffle
    moves |docs| compact text rows, never |tokens| exploded rows, and
    no token ever exists as a Spark row. Group memory is bounded by
    docs_per_segment × avg doc bytes — docs_per_segment is the knob
    (semantic segment granularity AND the task-size cap).
    ``raw_positions=False`` skips building the nested position arrays
    entirely (compressed blob only — the persisted contract).

    Output contract identical to ``postings_from_aligned_corpus``.
    """
    part = corpus.withColumn(
        "segment", (F.col("doc_id") / F.lit(docs_per_segment)).cast("long")
    )
    # EXPLICIT repartition by the group key: this stage is
    # Python-CPU-bound (~100x more CPU per shuffled byte than a JVM
    # stage), so AQE's byte-based coalescing — which would collapse the
    # compressed text shuffle to a handful of fat tasks and cap
    # parallelism below the core count — must not apply. A
    # user-specified numPartitions is exempt from AQE coalescing, and
    # hash-partitioning on "segment" satisfies the groupBy's required
    # distribution, so applyInArrow adds no second exchange.
    sc = corpus.sparkSession.sparkContext
    nparts = max(
        int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        sc.defaultParallelism * 4,
    )
    part = part.repartition(nparts, "segment")
    schema = _posting_schema(positional, raw_positions)
    empty = to_arrow_schema(schema).empty_table()

    # No type hints: applyInArrow infers its eval type from hints, and
    # under `from __future__ import annotations` they are strings it
    # cannot resolve. Unhinted, it takes the (key, pa.Table) form.
    def _build(key, table):
        out = _build_group_arrow(
            key[0].as_py(),
            table.column("doc_id").combine_chunks().to_numpy(),
            table.column("text").combine_chunks(),
            stem=stem,
            positional=positional,
            avg_len=avg_len,
            block_size=block_size,
            raw_positions=raw_positions,
        )
        return empty if out is None else pa.Table.from_batches([out])

    return part.groupBy("segment").applyInArrow(_build, schema)


def postings_from_aligned_corpus(
    corpus: DataFrame,
    *,
    avg_len: float,
    stem: bool = True,
    positional: bool = True,
    block_size: int = DEFAULT_BLOCK_SIZE,
    raw_positions: bool = True,
) -> DataFrame:
    """ZERO-SHUFFLE posting construction: requires the corpus to be
    partitioned into disjoint doc_id ranges — the invariant the docmap
    stage (``sources.adapters.assign_dense_doc_ids``) already
    guarantees, since dense doc_ids are assigned on the output of a
    ``repartitionByRange(conv_id, turn_idx)``. Segment = the input
    partition itself (a doc_id range), so every posting list is
    complete within one task and the build plan contains NO exchange:
    scan -> mapInArrow -> write. At 100 TB this is the difference
    between re-shuffling the whole corpus text and streaming each
    input split through a Python worker once; profiled on a 6M-turn
    corpus the text exchange was the single non-scaling component of
    the build (memory-bandwidth-bound), while this path scales with
    cores at ~0.9 efficiency.

    Output contract identical to ``postings_from_corpus``.

    Implementation is ``mapInArrow`` with buffer-level RecordBatch
    construction: every list/binary column is assembled from ONE flat
    numpy buffer plus an offsets array (Arrow's native layout), so no
    per-posting Python object ever exists on the output path — the
    pandas route (list-of-numpy-arrays cells -> ``pa.Table.from_pandas``
    element walk) was ~60% of the posting phase's CPU at 6M turns.

    ``raw_positions=False`` omits the raw ``positions`` column from the
    output (compressed ``pos_blob``/``pos_offsets`` only — the
    persisted contract): producing the ListArray itself is zero-copy,
    but the Arrow->row conversion of a nested array column whose bytes
    are then dropped on write is pure overhead — use False whenever the
    output goes straight to disk.
    """
    schema = _posting_schema(positional, raw_positions)

    def _build_part(batches):
        from pyspark import TaskContext

        seg = TaskContext.get().partitionId()
        blist = list(batches)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        if tbl.num_rows == 0:
            return
        out = _build_group_arrow(
            seg,
            tbl.column("doc_id").combine_chunks().to_numpy(),
            tbl.column("text").combine_chunks(),
            stem=stem,
            positional=positional,
            avg_len=avg_len,
            block_size=block_size,
            raw_positions=raw_positions,
        )
        if out is not None:
            yield out

    return corpus.mapInArrow(_build_part, schema)


def _build_group_arrow(
    seg: int,
    doc_ids: np.ndarray,
    text_col,
    *,
    stem: bool,
    positional: bool,
    avg_len: float,
    block_size: int,
    raw_positions: bool = True,
):
    """One segment's posting rows as a pyarrow RecordBatch built from
    flat buffers + offsets (no per-element Python on the output path).
    ``text_col`` is the combined pyarrow string array (its raw buffers
    feed the vectorized byte tokenizer zero-copy). Returns None for an
    empty group."""
    from ..functions.analysis import _analyze_py, tokenize_block

    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tok = None
    if text_col.null_count == 0:
        bufs = text_col.buffers()
        off_dtype = (
            np.int64 if pa.types.is_large_string(text_col.type) else np.int32
        )
        offs = np.frombuffer(bufs[1], dtype=off_dtype)[
            text_col.offset: text_col.offset + len(text_col) + 1
        ]
        dat = (
            np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None
            else np.empty(0, np.uint8)
        )
        if offs[0] != 0:
            offs = offs - offs[0]
            dat = dat[int(np.frombuffer(bufs[1], dtype=off_dtype)[text_col.offset]):]
        try:
            tok = tokenize_block(dat, offs, stem=stem)
        except ValueError:
            tok = None  # non-ascii -> unicode-exact fallback below
    if tok is not None:
        tcodes, tinv, tdoc, poss, dl = tok
        total = len(tinv)
        if total == 0:
            return None
        docs = doc_ids[tdoc]
        dlens = dl.astype(np.float64)[tdoc]
    else:
        texts = text_col.to_pylist()
        toks_list = [_analyze_py(t or "", stem) for t in texts]
        counts = np.fromiter(
            (len(t) for t in toks_list), np.int64, len(toks_list)
        )
        total = int(counts.sum())
        if total == 0:
            return None
        docs = np.repeat(doc_ids, counts)
        dlens = np.repeat(counts.astype(np.float64), counts)
        starts_rep = np.repeat(np.cumsum(counts) - counts, counts)
        poss = (np.arange(total) - starts_rep).astype(np.int32)
        terms = np.array(
            [tok_ for toks in toks_list for tok_ in toks], dtype=object
        )
        tcodes, tinv = np.unique(terms, return_inverse=True)
    order = np.lexsort((poss, docs, tinv))
    tinv, docs, poss, dlens = tinv[order], docs[order], poss[order], dlens[order]
    # (term, doc) pair boundaries over the sorted rows
    pair_change = np.empty(total, dtype=bool)
    pair_change[0] = True
    pair_change[1:] = (tinv[1:] != tinv[:-1]) | (docs[1:] != docs[:-1])
    pstart = np.flatnonzero(pair_change)
    P = len(pstart)
    pend = np.append(pstart[1:], total)
    p_t = tinv[pstart]
    p_doc = docs[pstart]
    p_tf = (pend - pstart).astype(np.int32)
    p_dlen = dlens[pstart]
    # term boundaries over the pair arrays
    t_change = np.empty(P, dtype=bool)
    t_change[0] = True
    t_change[1:] = p_t[1:] != p_t[:-1]
    tstart = np.flatnonzero(t_change)
    T = len(tstart)
    df = np.append(tstart[1:], P) - tstart  # pairs per term
    cf = np.add.reduceat(p_tf.astype(np.int64), tstart)
    # per-block metadata, vectorized: block starts are every
    # block_size-th pair WITHIN its term; reduceat gives block maxima
    pair_in_term = np.arange(P) - np.repeat(tstart, df)
    bidx = np.flatnonzero(pair_in_term % block_size == 0)
    bm = _bm25_tf_part(p_tf.astype(np.float64), p_dlen, avg_len)
    block_ub_vals = np.maximum.reduceat(bm, bidx) if P else np.empty(0)
    block_start_vals = p_doc[bidx]
    blocks_per_term = -(-df // block_size)
    boffs = np.concatenate(([0], np.cumsum(blocks_per_term)))
    # blobs: one vectorized pass over the whole segment
    blob_buf, blob_offs = delta_varint_encode_grouped(p_doc, tstart)

    pair_offs = np.append(tstart, P).astype(np.int64)
    i64 = pa.int64()
    cols = {
        "segment": pa.array(np.full(T, seg, dtype=np.int64), i64),
        "term": pa.array(tcodes[p_t[tstart]], pa.string()),
        "df": pa.array(df.astype(np.int64), i64),
        "cf": pa.array(cf, i64),
        "doc_ids": pa.ListArray.from_arrays(
            pa.array(pair_offs, pa.int32()), pa.array(p_doc, i64)
        ),
        "tfs": pa.ListArray.from_arrays(
            pa.array(pair_offs, pa.int32()), pa.array(p_tf, pa.int32())
        ),
    }
    if positional:
        if raw_positions:
            inner = pa.ListArray.from_arrays(
                pa.array(np.append(pstart, total).astype(np.int64), pa.int32()),
                pa.array(poss, pa.int32()),
            )
            cols["positions"] = pa.ListArray.from_arrays(
                pa.array(pair_offs, pa.int32()), inner
            )
        # compressed positions: ONE grouped varint pass over the whole
        # segment's position stream (delta resets at every (term, doc)
        # pair), then zero-copy slicing into per-term blobs + per-pair
        # byte offsets (the reference's position meta slots, SDM:187-193)
        pos_buf, pos_b = delta_varint_encode_grouped(
            poss.astype(np.int64), pstart
        )
        cols["pos_blob"] = pa.Array.from_buffers(
            pa.binary(),
            T,
            [
                None,
                pa.py_buffer(
                    np.append(pos_b[tstart], pos_b[-1]).astype(np.int32)
                ),
                pa.py_buffer(pos_buf),
            ],
        )
        # per-term list of df+1 byte offsets, relative to the term's
        # blob start: entry k of term t is pos_b[tstart[t]+k] - pos_b[tstart[t]]
        po_counts = (df + 1).astype(np.int64)
        po_loffs = np.concatenate(([0], np.cumsum(po_counts)))
        po_tid = np.repeat(np.arange(T), po_counts)
        po_k = np.arange(po_loffs[-1]) - po_loffs[po_tid]
        po_vals = pos_b[tstart[po_tid] + po_k] - pos_b[tstart[po_tid]]
        cols["pos_offsets"] = pa.ListArray.from_arrays(
            pa.array(po_loffs, pa.int32()),
            pa.array(po_vals.astype(np.int32), pa.int32()),
        )
    cols["blob"] = pa.Array.from_buffers(
        pa.binary(),
        T,
        [None, pa.py_buffer(blob_offs.astype(np.int32)), pa.py_buffer(blob_buf)],
    )
    cols["block_starts"] = pa.ListArray.from_arrays(
        pa.array(boffs, pa.int32()), pa.array(block_start_vals, i64)
    )
    cols["block_ubs"] = pa.ListArray.from_arrays(
        pa.array(boffs, pa.int32()), pa.array(block_ub_vals, pa.float64())
    )
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols.keys()))


def build_index(
    corpus: DataFrame,
    *,
    stem: bool = True,
    positional: bool = True,
    docs_per_segment: int = DEFAULT_DOCS_PER_SEGMENT,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> InvertedIndex:
    """B1+B2: the full batch index build. corpus = (doc_id, text).

    Pass 1 (stats): doc_len per doc via the PURE-JVM tokenizer
    expression — stemming never changes token counts, so the count of
    the A1-filtered list equals the analyzed length; zero Python,
    JVM-side. Pass 2 (postings): the per-segment posting-build kernel
    behind one text shuffle (``postings_from_corpus``).
    """
    doc_stats = corpus.select(
        "doc_id", F.size(tokens_expr("text")).alias("doc_len")
    )
    row = doc_stats.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avg")
    ).collect()[0]
    n_docs, avg_len = int(row["n"]), float(row["avg"] or 0.0)

    seg_postings = postings_from_corpus(
        corpus,
        avg_len=avg_len,
        stem=stem,
        positional=positional,
        docs_per_segment=docs_per_segment,
        block_size=block_size,
    )

    # Global term stats: input is one row per (segment, term) — already
    # partially aggregated, so this groupBy(term) moves only
    # #segments×#terms rows, never postings. (Q6/Q10.)
    term_stats = seg_postings.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )

    return InvertedIndex(
        postings=seg_postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        n_docs=n_docs,
        avg_len=avg_len,
        positional=positional,
        stem=stem,
        block_size=block_size,
    )


def merge_segments(
    index: InvertedIndex,
    *,
    factor: int = 2,
    block_size: int | None = None,
) -> InvertedIndex:
    """B3/B4 mergeAllSegments: coalesce groups of ``factor`` adjacent
    segments (reference merges pairs, halving the count —
    ``IIM:277-290``; factor=2 reproduces that).

    Two-phase salted aggregation by term: phase 1 is implicit (the
    input is already one row per (old segment, term) — the old segment
    id IS the salt), phase 2 groups by (new_segment, term) and
    flattens. Because input segments are doc_id ranges and structs
    sort by doc_id, sort_array(flatten(...)) restores the global
    doc_id order — no docID rebasing needed (global dense ids; the
    reference instead rebases seg2 ids by +size(seg1), IIM:1054-1056).
    """
    if block_size is None:
        block_size = index.block_size
    p = index.postings
    if index.positional:
        p = with_positions(p)  # loaded indexes carry only the compressed blob
    p = p.withColumn(
        "segment", (F.col("segment") / F.lit(factor)).cast("long")
    )
    part_fields = ["doc_ids", "tfs"] + (["positions"] if index.positional else [])
    # One struct per OLD segment, keyed by its first doc_id; sorting
    # those structs and flattening restores global doc_id order because
    # old segments are disjoint doc_id ranges.
    part = F.struct(
        F.element_at("doc_ids", 1).alias("_k"),
        F.struct(*part_fields).alias("v"),
    )
    merged = p.groupBy("segment", "term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.sort_array(F.collect_list(part)).alias("_parts"),
    )
    merged = merged.select(
        "segment", "term", "df", "cf",
        *[F.flatten(F.col(f"_parts.v.{f}")).alias(f) for f in part_fields],
    )
    # Re-encode blobs/blocks for the merged lists. Per-doc lengths are
    # recovered from doc_stats via an explode + join; Catalyst/AQE
    # picks broadcast vs sort-merge by doc_stats size.
    dl = index.doc_stats
    with_len = (
        merged.select("segment", "term", F.explode("doc_ids").alias("_d"))
        .join(dl, F.col("_d") == dl.doc_id, "left")
        .groupBy("segment", "term")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_d").alias("doc_id"), F.col("doc_len")))
            ).alias("_dl")
        )
        .select("segment", "term", F.col("_dl.doc_len").alias("_doc_lens"))
    )
    merged = merged.join(with_len, ["segment", "term"])
    enc_cols = [F.col("doc_ids"), F.col("tfs"), F.col("_doc_lens")]
    if index.positional:
        enc_cols.append(F.col("positions"))
    enc = _make_encode_udf(index.avg_len, block_size, positional=index.positional)(
        *enc_cols
    )
    merged = merged.withColumn("_enc", enc)
    for f in (_ENC_SCHEMA_POS if index.positional else _ENC_SCHEMA).fields:
        merged = merged.withColumn(f.name, F.col(f"_enc.{f.name}"))
    merged = merged.select([f.name for f in _posting_schema(index.positional).fields])
    return InvertedIndex(
        postings=merged,
        term_stats=index.term_stats,
        doc_stats=index.doc_stats,
        n_docs=index.n_docs,
        avg_len=index.avg_len,
        positional=index.positional,
        stem=index.stem,
        block_size=block_size,
    )
