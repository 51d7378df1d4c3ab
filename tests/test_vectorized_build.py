"""Regression tests for the vectorized build path added for scaling:

* ``tokenize_block`` (byte-level analyzer) parity with ``_analyze_py``
  on real testdata, edge cases, and random ASCII fuzz;
* ``delta_varint_encode_grouped`` byte-parity with the per-list codec;
* ``postings_from_aligned_corpus`` (zero-shuffle mapInArrow build)
  content-equality with the shuffled ``postings_from_corpus`` build;
* every entry point into the posting-build kernel (including streaming
  ingest) against postings computed independently from ``OracleIndex``.
"""

from __future__ import annotations

import random
import string

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from peterman_search_engine_spark.functions.analysis import (
    _analyze_py,
    tokenize_block,
)
from peterman_search_engine_spark.functions.codec import (
    delta_varint_encode,
    delta_varint_encode_grouped,
)


def _via_block(texts: list[str], stem: bool):
    arr = pa.array(texts, pa.string())
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[: len(texts) + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    tcodes, tinv, tdoc, pos, dlens = tokenize_block(data, offsets, stem=stem)
    out: list[list] = [[] for _ in texts]
    for c, d, p in zip(tinv, tdoc, pos):
        out[d].append((p, tcodes[c]))
    return [[t for _, t in sorted(l)] for l in out], list(dlens)


def _check(texts: list[str], stem: bool) -> None:
    got, dl = _via_block(texts, stem)
    want = [_analyze_py(t, stem) for t in texts]
    assert got == want
    assert dl == [len(w) for w in want]


@pytest.mark.parametrize("stem", [False, True])
def test_tokenize_block_edges(stem):
    _check(
        [
            "",
            "   ",
            "The the THE",
            "a,b;c?d!e.f",
            "hello",
            "..!?",
            "x" * 100,  # longer than the fixed-width cap
            "supercalifragilisticexpialidocious again",  # > 32 chars
            "The quick brown fox",
        ],
        stem,
    )


@pytest.mark.parametrize("stem", [False, True])
def test_tokenize_block_fuzz(stem):
    rng = random.Random(7)
    alphabet = string.ascii_letters + " ,.;?!\t\n" + string.digits
    fuzz = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 200)))
        for _ in range(300)
    ]
    _check(fuzz, stem)


def test_tokenize_block_non_ascii_raises():
    with pytest.raises(ValueError):
        _via_block(["héllo wörld"], False)


def test_short_batch_keeps_stopword_prefix_tokens():
    """A batch whose longest token is shorter than a stop word must NOT
    drop tokens equal to that stop word's prefix ('wit' is a real token
    even though 'with' is a stop word truncated to the 3-byte width)."""
    _check(["wit ha abo", "og is ok"], False)
    got, _ = _via_block(["wit ha abo"], False)
    assert got == [["wit", "ha", "abo"]]


def test_grouped_varint_parity():
    rng = np.random.default_rng(3)
    lists = [
        np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
        for n in (1, 2, 7, 128, 129, 1000)
    ]
    flat = np.concatenate(lists)
    starts = np.concatenate(([0], np.cumsum([len(l) for l in lists])[:-1]))
    buf, offs = delta_varint_encode_grouped(flat, starts)
    assert len(offs) == len(lists) + 1
    for i, l in enumerate(lists):
        assert buf[offs[i]: offs[i + 1]].tobytes() == delta_varint_encode(l)


def test_aligned_build_matches_shuffled(spark):
    from peterman_search_engine_spark.operators.indexer import (
        postings_from_aligned_corpus,
        postings_from_corpus,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    a = postings_from_corpus(
        docs, avg_len=20.0, stem=True, positional=True, docs_per_segment=100
    )
    b = postings_from_aligned_corpus(
        docs.repartitionByRange(6, "doc_id"),
        avg_len=20.0,
        stem=True,
        positional=True,
    )

    def canon(p):
        return {
            tuple(r)
            for r in p.select(
                "term",
                F.explode(F.arrays_zip("doc_ids", "tfs", "positions")).alias("z"),
            )
            .select(
                "term",
                F.col("z.doc_ids"),
                F.col("z.tfs"),
                F.col("z.positions").cast("array<int>").cast("string"),
            )
            .collect()
        }

    assert canon(a) == canon(b)


def test_non_ascii_corpus_fallback(spark):
    """Unicode text routes through the per-string analyzer fallback in
    BOTH build entry points; results must agree with the independent
    pure-Python ``OracleIndex`` postings."""
    from peterman_search_engine_spark.operators.indexer import (
        postings_from_aligned_corpus,
        postings_from_corpus,
    )
    from peterman_search_engine_spark.oracle.pyoracle import OracleIndex

    rows = [
        (0, "héllo wörld héllo"),
        (1, "çedilla test naïve approach"),
        (2, "plain ascii text here"),
        (3, "日本語 テスト 日本語"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def canon(p):
        return {
            tuple(r)
            for r in p.select(
                "term",
                F.explode(F.arrays_zip("doc_ids", "tfs", "positions")).alias("z"),
            )
            .select(
                "term",
                F.col("z.doc_ids"),
                F.col("z.tfs"),
                F.col("z.positions").cast("array<int>").cast("string"),
            )
            .collect()
        }

    oracle = OracleIndex(rows, stem=False)
    want = {
        (t, d, len(ps), "[" + ", ".join(map(str, ps)) + "]")
        for t, by_doc in oracle.postings.items()
        for d, ps in by_doc.items()
    }
    fused = canon(
        postings_from_corpus(
            docs, avg_len=4.0, stem=False, positional=True, docs_per_segment=2
        )
    )
    aligned = canon(
        postings_from_aligned_corpus(
            docs.repartitionByRange(3, "doc_id"),
            avg_len=4.0,
            stem=False,
            positional=True,
        )
    )
    assert want == fused == aligned
    assert any(t == "héllo" for t, *_ in want)


# Kernel-vs-oracle corpus: ASCII docs, non-ASCII docs (their segment
# takes the per-string fallback), an empty and an all-stop-word doc,
# and one term ("kernel") in 13 docs — several blocks at block_size 4.
_KERNEL_DOCS = [
    "The kernel builds posting lists; kernel, kernel!",
    "Segments flush through one kernel routine.",
    "kernel",
    "",
    "Varint blobs and block bounds come from the kernel.",
    "the and of it",
    "A kernel test: positions, tfs, blobs?",
    "Running builds running kernels run kernel.",
    "kernel héllo wörld héllo",
    "naïve kernel approach",
    "kernel 日本語 テスト 日本語",
    "plain kernel text here",
    "kernel çedilla kernel",
    "kernel at the end",
    "no common term in this one",
    "last ascii document, stemmed words: indexing indexes indexed",
    "streaming ingest shares the same kernel",
    "upserts rebuild through it too",
]
_KERNEL_DPS = 8
_KERNEL_BLOCK = 4


def _kernel_expected(oracle, seg_of):
    """Posting rows keyed by (segment, term), computed from the
    oracle's postings and lengths with the codec and the BM25 factor
    alone — no build code."""
    from peterman_search_engine_spark.functions.codec import block_offsets
    from peterman_search_engine_spark.operators.indexer import (
        _bm25_tf_part,
        encode_positions,
    )

    want = {}
    for term, by_doc in oracle.postings.items():
        for seg in sorted({seg_of[d] for d in by_doc}):
            ids = sorted(d for d in by_doc if seg_of[d] == seg)
            poss = [by_doc[d] for d in ids]
            tfs = [len(p) for p in poss]
            part = _bm25_tf_part(
                np.asarray(tfs, np.float64),
                np.asarray([oracle.doc_len[d] for d in ids], np.float64),
                oracle.avg_len,
            )
            blocks = block_offsets(len(ids), _KERNEL_BLOCK)
            pos_blob, pos_offsets = encode_positions(poss)
            want[(seg, term)] = {
                "df": len(ids),
                "cf": sum(tfs),
                "doc_ids": ids,
                "tfs": tfs,
                "positions": poss,
                "blob": delta_varint_encode(ids),
                "pos_blob": pos_blob,
                "pos_offsets": pos_offsets.tolist(),
                "block_starts": [ids[s] for s, _ in blocks],
                "block_ubs": [float(part[s:e].max()) for s, e in blocks],
            }
    return want


def _kernel_rows(df):
    rows = {}
    for r in df.collect():
        row = r.asDict()
        key = (row.pop("segment"), row.pop("term"))
        assert key not in rows, key
        for c in ("blob", "pos_blob"):
            row[c] = bytes(row[c])
        rows[key] = row
    return rows


def _check_kernel_rows(got, oracle, *, fixed_segments):
    # each doc lives in exactly one segment; segments are doc_id ranges
    seg_of = {}
    for (seg, _), row in got.items():
        for d in row["doc_ids"]:
            assert seg_of.setdefault(d, seg) == seg, d
    if fixed_segments:
        assert all(s == d // _KERNEL_DPS for d, s in seg_of.items())
    want = _kernel_expected(oracle, seg_of)
    assert set(got) == set(want)
    for key, row in got.items():
        for col, val in want[key].items():
            if col in row:
                assert row[col] == val, (key, col)


@pytest.mark.parametrize("stem", [False, True])
def test_kernel_matches_oracle_postings(spark, tmp_path, stem):
    """Every entry point into the posting-build kernel — the shuffled
    ``postings_from_corpus``, the zero-shuffle
    ``postings_from_aligned_corpus`` and streaming ``ingest_batch`` —
    writes exactly the posting rows an independent computation from
    ``OracleIndex.postings`` gives: doc_ids, tfs, positions, the
    delta+varint blobs and the per-block starts and BM25 upper bounds
    (over the oracle's doc lengths)."""
    from peterman_search_engine_spark.operators.indexer import (
        postings_from_aligned_corpus,
        postings_from_corpus,
    )
    from peterman_search_engine_spark.oracle.pyoracle import OracleIndex
    from peterman_search_engine_spark.streaming.incremental import (
        fold_stats,
        ingest_batch,
    )

    rows = list(enumerate(_KERNEL_DOCS))
    oracle = OracleIndex(rows, stem=stem)
    assert max(oracle.df(t) for t in oracle.postings) > 2 * _KERNEL_BLOCK
    assert len(_KERNEL_DOCS) > 2 * _KERNEL_DPS
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    common = dict(
        avg_len=oracle.avg_len, stem=stem, positional=True,
        block_size=_KERNEL_BLOCK,
    )

    shuffled = postings_from_corpus(
        docs, docs_per_segment=_KERNEL_DPS, raw_positions=True, **common
    )
    _check_kernel_rows(_kernel_rows(shuffled), oracle, fixed_segments=True)

    aligned = postings_from_aligned_corpus(
        docs.repartitionByRange(3, "doc_id"), raw_positions=False, **common
    )
    _check_kernel_rows(_kernel_rows(aligned), oracle, fixed_segments=False)

    batch = spark.createDataFrame(
        [(f"c{d:03d}", 0, t) for d, t in rows],
        "conv_id string, turn_idx int, text string",
    )
    idx = str(tmp_path / "stream")
    ingest_batch(
        batch, idx, 0, stem=stem, positional=True,
        docs_per_segment=_KERNEL_DPS, block_size=_KERNEL_BLOCK,
    )
    stats = fold_stats(idx)
    assert (stats["n_docs"], stats["avg_len"]) == (oracle.n_docs, oracle.avg_len)
    streamed = spark.read.parquet(f"{idx}/postings").drop("group")
    _check_kernel_rows(_kernel_rows(streamed), oracle, fixed_segments=True)
    doc_stats = {
        r["doc_id"]: r["doc_len"]
        for r in spark.read.parquet(f"{idx}/doc_stats").collect()
    }
    assert doc_stats == oracle.doc_len


def test_assign_dense_doc_ids_no_duplicates_many_partitions(spark):
    """Regression (r3): the range partitioner samples split boundaries
    with an rdd-id-derived seed, so before the internal localCheckpoint
    the per-partition count bases could disagree with the partitioning
    a later evaluation produced — duplicate doc_ids on wide inputs.
    Trigger shape: a many-partition generated input with fine-grained
    keys, scanned twice."""
    from peterman_search_engine_spark.sources.adapters import (
        assign_dense_doc_ids,
    )
    from peterman_search_engine_spark.sources.transcripts import (
        generate_topical_transcripts,
    )

    n_conv, turns = 2_000, 10
    tr = generate_topical_transcripts(spark, n_conv, turns, num_partitions=16)
    ids = assign_dense_doc_ids(tr, ["conv_id", "turn_idx"])
    # scan 1: duplicate-free and dense
    agg = ids.groupBy("doc_id").count().agg(
        F.max("count").alias("m"),
        F.countDistinct("doc_id").alias("d"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    assert (agg["m"], agg["d"], agg["lo"], agg["hi"]) == (
        1, n_conv * turns, 0, n_conv * turns - 1,
    )
    # scan 2 (an INDEPENDENT evaluation): same assignment
    h1 = ids.select(
        F.sum(F.pmod(F.xxhash64("doc_id", "conv_id", "turn_idx"), F.lit(2**31 - 1))).alias("h")
    ).collect()[0]["h"]
    h2 = ids.select(
        F.sum(F.pmod(F.xxhash64("doc_id", "conv_id", "turn_idx"), F.lit(2**31 - 1))).alias("h")
    ).collect()[0]["h"]
    assert h1 == h2


def test_topical_generator_deterministic_across_partitioning(spark):
    from peterman_search_engine_spark.sources.transcripts import (
        generate_topical_transcripts,
    )

    def fp(df):
        return df.select(
            F.sum(
                F.pmod(
                    F.xxhash64("conv_id", "turn_idx", "role", "text", "tool", "ts"),
                    F.lit(2**31 - 1),
                )
            ).alias("h")
        ).collect()[0]["h"]

    a = generate_topical_transcripts(spark, 500, num_partitions=3)
    b = generate_topical_transcripts(spark, 500, num_partitions=11)
    assert a.count() == 5_000
    assert fp(a) == fp(b)
