"""Block-max WAND top-k pruning (north-star addition).

No reference counterpart — the closest analogue is the per-segment
dictionary skip (``InvertedIndexManager.java:390, 617``). The index
stores, per (segment, term) posting row, fixed-size blocks'
first-doc_ids and BM25 upper bounds (``indexer._make_encode_udf``:
``block_starts``, ``block_ubs`` with the tf-part
``tf*(k1+1)/(tf+k1*(1-b+b*len/avglen))``; multiplying by the per-term
constant ``qtf*idf`` gives a valid block score bound).

Exact top-k as a short sequence of metadata-bounded jobs whose
results become driver-side planning state (θ, seed segments, the
MaxScore term partition) — the way production WAND engines hold these
in the query planner. Driver state is O(|query terms|) dictionary
entries (read on the driver, no job), and the collects are
O(|segments|·|query terms|) per-segment block maxima and O(k) seed
scores: scale-free relative to posting volume. (An earlier
all-lazy single-plan formulation re-evaluated the seed-scoring and
block-metadata subtrees once per broadcast branch and lost 2× wall
clock to plan overhead despite a 0.9998 prune ratio in the winning
regime — measured in BENCH/wand_regime.json.)

A. **seed**: exactly score the most promising segments (highest
   Σ-term upper bound); θ = the k-th best seed (score, doc_id).
B. **prune**: a block of term t survives iff
   ``w_t·block_ub + Σ_{t'≠t} max{w_t'·ub(b') : b' overlaps b} ≥ θ``
   — the classic block-max alignment: a doc in block b can only draw
   term t''s contribution from the t'-block whose doc range contains
   it, so the max over OVERLAPPING blocks (0 if none) bounds it.
   Docs appearing only in pruned blocks provably score < θ.
   Surviving blocks' doc_ids are recovered by decoding the
   delta+varint blob (vectorized numpy) and slicing the block's value
   range — candidates = union over surviving blocks (a superset of
   the true survivors, so exactness is preserved).
C. **rescore**: exact BM25 restricted to candidate docs, union with
   the seed top-k, global top-k with the canonical (-score, doc_id)
   tiebreak. Seed and rescore scoring are the one scoring plan,
   ``query.score_terms``, over scoped postings with the driver
   weights ``w = qtf·idf``.

Soundness under duplicate (segment, term) rows: a streaming-built
index carries one posting row per (micro-batch, segment, term), so a
(segment, term) pair is NOT unique. Every per-block doc range is
therefore derived from the row's OWN ``block_starts``/``doc_ids``
(block i's hi = block i+1's lo − 1 within the row; the last block
ends at the row's last doc_id) and every per-row computation keys on
a content-derived row id — never a window over (segment, term), which
would interleave blocks of different rows and produce inverted
ranges. Per-(segment, term) upper bounds are MAX-aggregated across
rows (a doc lives in exactly one row, so max is a valid bound; sum
would be fine too but looser).

Cost model (why the gate exists): the pruned plan pays a fixed
overhead — seed-scoring subjob, block-metadata overlap join, blob
decode — that only amortizes when the exhaustive plan would shuffle
a large posting volume. ``prune_min_entries`` gates on Σ df over the
query terms (one driver-side dictionary lookup,
``InvertedIndex.term_info``, which runs no Spark job — the same
statistic the reference reads from its dictionary slots): below the
threshold the exhaustive plan wins and is returned directly; above it
phase B touches only (segment, term, block) metadata rows
(|postings|/block_size) and phase C's shuffle carries only candidate
docs. Prune effectiveness depends on score skew: near-uniform
per-block bounds prune nothing (correctly); skewed tf / doc-length
distributions — real text — are where the block bounds separate.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.codec import delta_varint_decode
from ..plans.session import local_frame
from .indexer import InvertedIndex
from .query import _query_weights, _terms_in, bm25_tf_sql, score_terms, search_bm25, top_k_df

# Break-even posting volume for the pruned plan (Σ df over query
# terms). MEASURED, not guessed (scripts/wand_regime.py, local[32]):
# at Σdf = 1.04e7 exhaustive wins 3.4 s vs 8.3 s pruned (the pruned
# plan's fixed job overhead dominates when the exhaustive scan is
# already cheap — BENCH/wand_regime_below_gate.json); at Σdf = 1.04e8
# pruned wins in EVERY r4 pass — 1.24x to 3.6x across five clean
# passes as host phases swing the exhaustive leg 19-81 s while pruned
# stays 10-20 s typical (BENCH/wand_regime.json holds the last 7-rep
# pass; BENCH/bench_detail.json the in-bench pass). Fitting
# wall = fixed + slope·Σdf to both plans puts the crossover at
# ~2.6e7 entries; 3e7 adds margin on the exhaustive side (the cheap
# mistake). At 10^12-turn scale any non-rare term clears the gate by
# orders of magnitude. Tunable per deployment.
DEFAULT_PRUNE_MIN_ENTRIES = 30_000_000

# Second (planner-time) routing gate: once θ and the MaxScore split
# are known — both metadata-cheap — the fraction of posting volume
# held by ESSENTIAL terms predicts whether pruning can pay at all.
# Candidate generation must decode essential terms' surviving blocks
# and the rescore touches their segments, so when essential terms
# carry much of Σdf the pruned plan approaches exhaustive work PLUS
# metadata/decode overhead. MEASURED at 26M docs, quiet host,
# interleaved reps (scripts/wand_regime.py --query-shape ...):
# fraction ~0.0001 (rare shapes) pruned WINS 1.65x
# (BENCH/wand_regime_two_rare.json); fraction 0.4999 (all-common,
# MaxScore still marks 4 of 8 hot terms non-essential, prune_ratio
# 0.50) pruned LOSES 0.69x (BENCH/wand_regime_all_common.json).
# At fraction ~0 pruned/exhaustive measured 0.28-0.81 across five
# clean passes (host phases; pruned wins every pass); at fraction
# 0.4999 it measured 1.45 (the 0.69x loss). Two-point fits over that
# range put break-even between ~0.12 and ~0.35; 0.20 sits in the
# band with the mistake-side margin toward exhaustive (the cheap
# mistake — routing exhaustive when pruning would have won a little
# costs far less than the reverse).
ESSENTIAL_DF_ROUTE_FRACTION = 0.20


def rid_col() -> Column:
    """Content-derived unique row id for a posting row. Rows sharing
    (segment, term) — streaming micro-batches — hold disjoint doc_id
    ranges, so (segment, term, first doc, df) identifies a row; the
    same expression computed on postings and on block_meta joins them
    without any ordering assumption (monotonically_increasing_id is
    NOT stable across separate subplan evaluations)."""
    return F.xxhash64("segment", "term", F.element_at("doc_ids", 1), "df")


BLOCK_META_SCHEMA = (
    "rid long, segment long, term string, bi int, lo long, hi long, ub double"
)


def block_meta_df(index: InvertedIndex) -> DataFrame:
    """The narrow block-metadata relation
    ``(rid, segment, term, bi, lo, hi, ub)`` — one row per posting
    block, ranges derived per posting ROW (duplicate-(segment,term)
    safe). Uses the persisted table when the index carries one
    (``plans.checkpoint`` writes it); otherwise derives it from the
    postings, where Parquet column pruning keeps the scan narrow."""
    if index.block_meta is not None:
        return index.block_meta
    p = index.postings.select(
        rid_col().alias("rid"),
        "segment",
        "term",
        F.element_at("doc_ids", -1).alias("_last"),
        "block_starts",
        "block_ubs",
    )
    b = p.select(
        "rid", "segment", "term", "_last", "block_starts",
        F.posexplode(F.arrays_zip("block_starts", "block_ubs")).alias("bi", "_z"),
    )
    # block i's doc range ends where the row's OWN next block starts
    # (F.get is 0-based and null out of bounds); the last block ends at
    # the row's last doc_id.
    return b.select(
        "rid", "segment", "term",
        F.col("bi").cast("int").alias("bi"),
        F.col("_z.block_starts").alias("lo"),
        F.coalesce(F.get("block_starts", F.col("bi") + 1) - 1, F.col("_last"))
        .alias("hi"),
        F.col("_z.block_ubs").alias("ub"),
    )


def bm25_topk_wand(
    index: InvertedIndex,
    terms: list[str],
    k: int,
    *,
    seed_segments: int = 1,
    block_size: int | None = None,
    prune_min_entries: int = DEFAULT_PRUNE_MIN_ENTRIES,
    force_prune: bool = False,
    return_stats: bool = False,
):
    """Exact BM25 top-k, block-max-pruned when the posting volume
    justifies it. Returns the result DataFrame ``(doc_id, score)``
    ordered by (-score, doc_id), or ``(df, stats)`` when
    ``return_stats`` — stats reports blocks pruned vs decoded (or the
    gate decision) for auditability/bench.
    """
    qtf = _query_weights(index, terms)
    spark = index.postings.sparkSession

    def _empty(stats: dict):
        empty = local_frame(spark, [], "doc_id long, score double")
        return (empty, stats) if return_stats else empty

    if not qtf:
        return _empty({})
    if block_size is None:
        block_size = index.block_size

    if index.tombstones is not None:
        # stored block UBs and the θ seed may be dominated by deleted
        # docs, making the prune unsound for live docs — route to the
        # (tombstone-aware) exhaustive plan; compact_deletes restores
        # WAND by re-encoding blocks over live docs only.
        res = search_bm25(index, terms, k)
        if return_stats:
            return res, {"gated_exhaustive": True, "reason": "tombstones"}
        return res

    # One dictionary lookup serves both the cost gate and the per-term
    # weights (the reference reads the same df numbers from its
    # dictionary slots, IIM:705-715): a driver-side read, no Spark job.
    df_by_term = {t: df for t, (df, _) in index.term_info(qtf).items()}
    est = sum(df_by_term.values())
    if not force_prune and est < prune_min_entries:
        res = search_bm25(index, terms, k)
        if return_stats:
            return res, {"gated_exhaustive": True, "est_entries": est}
        return res

    # The pruned path runs as a handful of METADATA-BOUNDED jobs whose
    # results become driver-side planning state — exactly how
    # production WAND engines hold θ and the MaxScore term partition
    # in the query planner. Driver state is O(|qterms|) weights,
    # O(|segments|·|qterms|) block maxima, and O(k) seed scores —
    # scale-free relative to posting volume. (An earlier all-lazy
    # formulation re-evaluated the seed-scoring and block-metadata
    # subtrees once per broadcast branch and lost 2× wall to plan
    # overhead despite a 0.9998 prune ratio.)
    import math

    n = float(index.n_docs)
    # query terms absent from the corpus drop out here — the
    # reference's dictionary skip (IIM:617)
    w = {
        t: qtf[t] * math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for t, df in df_by_term.items()
    }
    if not w:
        return _empty({"est_entries": 0})
    qterms = sorted(w)
    wdf = F.broadcast(
        local_frame(spark, sorted(w.items()), "term string, w double")
    )

    p = index.postings.filter(_terms_in(qterms))
    meta = block_meta_df(index).filter(_terms_in(qterms))

    # JOB 1 — per-(segment, term) max w·ub: MAX across that term's
    # blocks AND across duplicate rows (a doc lives in exactly one
    # row, so max is a valid bound). One metadata aggregation,
    # collected driver-side; both the seed choice (per-segment totals)
    # and the MaxScore term maxima derive from these rows in plain
    # Python.
    tub = (
        meta.join(wdf, "term")
        .groupBy("segment", "term")
        .agg(F.max(F.col("w") * F.col("ub")).alias("t_ub"))
        .collect()
    )
    seg_tot: dict[int, float] = {}
    ms: dict[str, float] = {}
    for r in tub:
        seg_tot[r["segment"]] = seg_tot.get(r["segment"], 0.0) + r["t_ub"]
        ms[r["term"]] = max(ms.get(r["term"], 0.0), r["t_ub"])
    # seed segments: highest total UB first, deterministic tiebreak
    seeds = [
        s
        for s, _ in sorted(seg_tot.items(), key=lambda t: (-t[1], t[0]))[
            :seed_segments
        ]
    ]

    # exact BM25 over a scoped posting scan: the one scoring plan with
    # the driver weights w = qtf·idf, so θ and the block bounds rest on
    # the same w
    contrib = f"qw * {bm25_tf_sql('tf', 'doc_len', index.avg_len)}"

    def _exact(scoped: DataFrame, cand: DataFrame | None = None) -> DataFrame:
        return score_terms(
            index, {0: w}, {"score": contrib}, "score", postings=scoped, docs=cand
        ).drop("qid")

    # JOB 2 — the k best seed-segment scores in canonical
    # (-score, doc_id) order, collected (k rows). Docs live in exactly
    # one segment, so a seed-segment doc outside this top-k is
    # dominated by k better (score, doc_id) pairs and can never enter
    # the global top-k — these rows REPLACE the full seed scoring in
    # the final union. θ = the k-th seed score (0 with fewer than k
    # seeds).
    seed_rows = (
        _exact(p.filter(F.col("segment").isin(seeds)))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    theta = float(seed_rows[-1]["score"]) if len(seed_rows) >= k else 0.0

    # MaxScore essential/non-essential term split (Turtle & Flood
    # 1995; the block-max variant is today's standard pairing with
    # block-max bounds), over |qterms| numbers in plain Python. Sort
    # terms ascending by global max-score ms_t = w_t·max(ub_t); the
    # maximal prefix whose cumulative sum stays below θ is
    # NON-ESSENTIAL — a doc containing only those terms scores at
    # most that prefix sum < θ and can never enter the top-k, so
    # candidate generation decodes ESSENTIAL terms' surviving blocks
    # only (non-essential terms still contribute exactly in the
    # rescore). This is the load-bearing prune for the rare-AND-common
    # query shape: a sparse term's 128-doc blocks each span a huge
    # doc_id range, so EVERY hot-term block "overlaps" one and range
    # slack alone keeps the whole hot posting list alive — while
    # under MaxScore the hot term (w·ub ≪ θ) is non-essential and
    # none of its blocks are ever decoded.
    ess: list[str] = []
    cum = 0.0
    for t in sorted(qterms, key=lambda t: (ms[t], t)):
        cum += ms[t]
        if ess or cum >= theta:
            ess.append(t)

    # Planner-time routing on the essential-df fraction (see
    # ESSENTIAL_DF_ROUTE_FRACTION): when the essential terms carry
    # most of the posting volume, block pruning cannot win — decode +
    # rescore approach the exhaustive scan and the metadata jobs are
    # pure overhead. Route to the exhaustive plan; the planner spend
    # so far is O(metadata) + one seed segment (~1/#segments of the
    # corpus). force_prune bypasses (diagnostics / A-B evidence).
    ess_df = sum(df_by_term[t] for t in ess)
    if not force_prune and est and ess_df >= ESSENTIAL_DF_ROUTE_FRACTION * est:
        res = search_bm25(index, terms, k)
        if return_stats:
            return res, {
                "gated_exhaustive": True,
                "reason": "essential_df_fraction",
                "est_entries": est,
                "essential_df": ess_df,
                "essential_df_fraction": round(ess_df / est, 4),
                "theta": theta,
                "essential_terms": sorted(ess),
            }
        return res

    # Per-block slack for the OTHER query terms: classic block-max
    # alignment — a doc in block b of term t can only draw term t''s
    # contribution from a t'-block whose doc range OVERLAPS b's, so the
    # bound per other term is the max UB over overlapping blocks (0
    # when none overlap: the doc has no t' posting at all). This is
    # dramatically tighter than the segment-level max for multi-term
    # queries, and still a valid upper bound. The overlap join runs on
    # block METADATA only (|postings|/block_size rows per term), and
    # is BUCKETIZED: each block row is exploded to the fixed-width
    # doc_id buckets its range spans and the join runs on
    # (segment, bucket) equality plus the exact range predicate — a
    # hot term's blocks land in ~1 bucket each, so the per-segment
    # all-pairs comparison the naive segment-equi-join would do
    # (quadratic in blocks per segment, exactly when the gate opens)
    # becomes per-bucket products of near-constant size. The max/sum
    # aggregation dedupes pairs that meet in several buckets.
    wb = meta.join(wdf, "term").select(
        "rid", "segment", "term", "bi", "lo", "hi",
        (F.col("w") * F.col("ub")).alias("wub"),
    )
    bw = 8192  # bucket width in doc_ids; spans/bw buckets per block
    def _bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    (F.col("lo") / bw).cast("long"), (F.col("hi") / bw).cast("long")
                )
            ),
        )

    a = _bucketed(wb.filter(F.col("term").isin(ess))).alias("a")
    o = _bucketed(wb).alias("b")
    pair_slack = (
        a.join(
            o,
            (F.col("a.segment") == F.col("b.segment"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.term") != F.col("b.term"))
            & (F.col("b.lo") <= F.col("a.hi"))
            & (F.col("b.hi") >= F.col("a.lo")),
            "left",
        )
        .groupBy(
            F.col("a.rid").alias("rid"),
            F.col("a.segment").alias("segment"),
            F.col("a.bi").alias("bi"),
            F.col("a.wub").alias("wub"),
            F.col("b.term").alias("oterm"),
        )
        .agg(F.max(F.col("b.wub")).alias("o_max"))
        .groupBy("rid", "segment", "bi", "wub")
        .agg(F.sum(F.coalesce("o_max", F.lit(0.0))).alias("others"))
    )
    surviving = (
        pair_slack.filter(F.col("wub") + F.col("others") >= F.lit(theta))
        .filter(~F.col("segment").isin(seeds))
        .groupBy("rid", "segment")
        .agg(F.sort_array(F.collect_list("bi")).alias("bis"))
    )
    if return_stats:
        n_blocks_total = meta.filter(~F.col("segment").isin(seeds)).count()
        n_blocks_kept = surviving.select(F.explode("bis")).count()

    # decode surviving blocks' doc_ids from the blob (value-range slice;
    # blocks are fixed-size value runs — codec.block_offsets), joined
    # back to posting rows by the content-derived row id. Only
    # essential terms' non-seed rows can survive, so the blob scan is
    # pre-filtered to them.
    rows = (
        p.filter(F.col("term").isin(ess) & ~F.col("segment").isin(seeds))
        .withColumn("rid", rid_col())
        .join(surviving.select("rid", "bis"), "rid")
        .select("blob", "bis")
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids = []
            for blob, bis in zip(pdf["blob"], pdf["bis"]):
                ids = delta_varint_decode(bytes(blob))
                bs = block_size  # blocks are fixed value runs
                keep = np.concatenate(
                    [ids[b * bs:(b + 1) * bs] for b in bis]
                ) if len(bis) else np.empty(0, dtype=np.int64)
                out_ids.append(keep)
            yield pd.DataFrame({"doc_id": np.concatenate(out_ids) if out_ids else []})

    cand = rows.mapInPandas(_decode, "doc_id long").distinct()

    # Exact rescore of candidate docs. A candidate's segment has >=1
    # surviving block, so restricting to those segments is safe — but
    # within a segment ALL query-term posting rows must contribute
    # (a candidate found via term t1 still accrues t2's tf even if
    # every t2 block was pruned).
    surv_segs = surviving.select("segment").distinct()
    resc = _exact(p.join(surv_segs, "segment"), cand)
    # seed segments are excluded from surv_segs, and a doc lives in
    # exactly one segment — the seed rows and resc are disjoint, union
    # only (the seed top-k is k driver-held rows, re-injected as a
    # local relation)
    seed_df = local_frame(
        spark,
        [(r["doc_id"], r["score"]) for r in seed_rows],
        "doc_id long, score double",
    )
    final = top_k_df(seed_df.unionByName(resc), k)
    if return_stats:
        return final, {
            "theta": theta,
            "est_entries": est,
            "essential_df_fraction": round(ess_df / est, 4) if est else 0.0,
            "seed_segments": seeds,
            "essential_terms": sorted(ess),
            "blocks_total_nonseed": n_blocks_total,
            "blocks_decoded": n_blocks_kept,
            "prune_ratio": round(1 - n_blocks_kept / n_blocks_total, 4)
            if n_blocks_total
            else 0.0,
        }
    return final
