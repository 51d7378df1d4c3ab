"""A/B: block-max WAND + MaxScore vs the exhaustive BM25 plan in the
pruning regime (rare-AND-common query, gate open on real statistics).

Round-2 verdict follow-up: at sf0.1 the cost gate always routed to the
exhaustive plan (sum df over query terms << DEFAULT_PRUNE_MIN_ENTRIES)
so the pruned path had never been measured where it should win. This
script synthesises that regime deterministically
(``sources.regime``), checks the gate opens on the SHIPPED
configuration (no knob lowering — sum df over the 9 query terms is
~4*n_docs + df(rare) ~= 1.04e8 >= 3e7 at the default 26M docs), and
measures both plans interleaved (E,P,E,P,...) per the
host-interference protocol in BENCH/BASELINE.md.

The gate constant itself is grounded by TWO sizes of this study:
26M docs (pruned wins every pass, 1.24-3.6x across five clean r4
passes as host phases move the exhaustive leg 19-81 s —
BENCH/wand_regime.json) and 2.6M docs
(pruned loses 0.41x — BENCH/wand_regime_below_gate.json, gathered
with ``--n-docs 2600000 --rare-every 250 --rare-span 500000`` when
the gate default was still 1e7, so both plans ran without
``--force-prune``; reproducing it under the current 3e7 gate needs
``--force-prune`` for the pruned leg). The fitted crossover is
~2.6e7 entries (see DEFAULT_PRUNE_MIN_ENTRIES in operators/wand.py).

The 26M build needs ~20g driver heap (exhaustive explodes ~1e8
postings across 32 threads); run with ``PSE_DRIVER_MEM=32g``.

Writes BENCH/wand_regime.json and prints one JSON line.

Usage::

    python scripts/wand_regime.py [--n-docs 2600000] [--reps 3]
        [--cpus 32] [--work-dir /tmp/pse_wand_regime] [--keep]

The index is rebuilt per invocation unless --keep finds an existing
build in --work-dir (same parquet layout as plans.checkpoint).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=26_000_000)
    ap.add_argument("--suffix", default="",
                    help="suffix for the BENCH/wand_regime<suffix>.json output")
    ap.add_argument("--force-prune", action="store_true",
                    help="measure the pruned plan below the cost gate "
                         "(diagnostic: evidence for the gate constant)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--work-dir", default="/tmp/pse_wand_regime")
    ap.add_argument("--keep", action="store_true",
                    help="reuse an existing build in --work-dir")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--rare-every", type=int, default=2_000)
    ap.add_argument("--rare-span", type=int, default=4_000_000,
                    help="rare docs span several segments so the prune "
                         "phase has real non-seed blocks to keep")
    ap.add_argument("--query-shape", default="rare_common",
                    choices=["rare_common", "two_rare", "all_common"],
                    help="rare_common: [zq hot0..7] (the canonical web "
                         "shape); two_rare: adds a second rare-ish term "
                         "(a filler-vocabulary word, df ~n/5000) — shows "
                         "the MaxScore split isn't tuned to ONE rare "
                         "term; all_common: [hot0..7] only — every term "
                         "essential, the shape where pruning CANNOT pay "
                         "and the essential-df routing gate must send "
                         "the query to the exhaustive plan")
    args = ap.parse_args()

    from peterman_search_engine_spark.operators.query import search_bm25
    from peterman_search_engine_spark.operators.wand import bm25_topk_wand
    from peterman_search_engine_spark.plans.session import get_spark
    from peterman_search_engine_spark.sources.regime import (
        build_regime_index,
        regime_query,
    )

    spark = get_spark(
        "wand-regime", master=f"local[{args.cpus}]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    if args.keep and os.path.exists(f"{args.work_dir}/postings"):
        from peterman_search_engine_spark.operators.indexer import (
            DEFAULT_BLOCK_SIZE,
            InvertedIndex,
        )
        from pyspark.sql import functions as F

        doc_stats = spark.read.parquet(f"{args.work_dir}/doc_stats")
        n_docs = doc_stats.count()
        avg_len = float(doc_stats.agg(F.avg("doc_len")).collect()[0][0])
        index = InvertedIndex(
            postings=spark.read.parquet(f"{args.work_dir}/postings"),
            term_stats=spark.read.parquet(f"{args.work_dir}/term_stats"),
            doc_stats=doc_stats,
            n_docs=n_docs,
            avg_len=avg_len,
            positional=False,
            stem=False,
            block_size=DEFAULT_BLOCK_SIZE,
        )
        if os.path.exists(f"{args.work_dir}/block_meta"):
            index.block_meta = spark.read.parquet(
                f"{args.work_dir}/block_meta"
            )
    else:
        index = build_regime_index(
            spark, args.work_dir, args.n_docs,
            rare_every=args.rare_every, rare_span=args.rare_span,
        )
    build_sec = round(time.perf_counter() - t0, 2)

    if args.query_shape == "rare_common":
        q = regime_query()
    elif args.query_shape == "two_rare":
        # one filler-vocabulary word (each doc carries exactly one
        # f0x* term, so df ~ n_docs/5000 — rare-ish, ~2.5x zq's df)
        q = ["zq", "f0x123"] + [f"hot{j}" for j in range(8)]
    else:  # all_common
        q = [f"hot{j}" for j in range(8)]

    # gate + prune audit (untimed). For the rare shapes the shipped
    # config must open BOTH gates on its own statistics — a
    # gated_exhaustive means the regime is mis-sized and the A/B below
    # would compare a plan to itself. For all_common the CORRECT
    # outcome is the opposite: the essential-df routing gate must send
    # the query to the exhaustive plan (every term essential), and the
    # A/B below (exhaustive vs FORCE-pruned) measures the loss that
    # routing avoids. With --force-prune the pruned plan is measured
    # anyway (the below-gate diagnostic that grounds the gate
    # constants).
    _, stats = bm25_topk_wand(
        index, q, args.k, return_stats=True, force_prune=args.force_prune
    )
    gate_routed_exhaustive = bool(stats.get("gated_exhaustive"))
    force_prune = args.force_prune
    if args.query_shape == "all_common":
        # the interesting outcome IS the routing decision + the A/B at
        # this shape: if the essential-df gate routed exhaustive,
        # force-prune the measured leg to record the loss the routing
        # avoided; if MaxScore found enough non-essential mass to stay
        # under the route threshold, measure the pruned path naturally
        # and let the speedup ground the threshold constant.
        if gate_routed_exhaustive:
            if stats.get("reason") != "essential_df_fraction":
                raise SystemExit(f"unexpected gate reason: {stats}")
            force_prune = True  # measure the loss the routing avoids
            _, stats = bm25_topk_wand(
                index, q, args.k, return_stats=True, force_prune=True
            )
    elif gate_routed_exhaustive:
        raise SystemExit(f"gate did not open: {stats}")

    # correctness: pruned == exhaustive on this corpus. Mathematically
    # tied scores (structurally identical rare docs) evaluate with
    # ~1e-15 float noise that differs between the two plans' summation
    # orders, so compare under the driver-oracle convention: fetch a
    # superset, round scores to 1e-6, re-sort by (-score, doc_id),
    # then take the top k.
    k_fetch = max(50, 5 * args.k)

    def canon(rows):
        return sorted(
            ((round(r.score, 6), r.doc_id) for r in rows),
            key=lambda t: (-t[0], t[1]),
        )[: args.k]

    ex = canon(search_bm25(index, q, k_fetch).collect())
    pr = canon(
        bm25_topk_wand(
            index, q, k_fetch, force_prune=force_prune
        ).collect()
    )
    assert ex == pr, (ex, pr)

    # one untimed warmup pair at the measured k (JIT + page cache),
    # then interleaved timed reps (host-interference protocol)
    search_bm25(index, q, args.k).collect()
    bm25_topk_wand(index, q, args.k, force_prune=force_prune).collect()
    e_secs, p_secs = [], []
    for _ in range(args.reps):
        t = time.perf_counter()
        search_bm25(index, q, args.k).collect()
        e_secs.append(round(time.perf_counter() - t, 3))
        t = time.perf_counter()
        bm25_topk_wand(
            index, q, args.k, force_prune=force_prune
        ).collect()
        p_secs.append(round(time.perf_counter() - t, 3))

    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
        capture_output=True, text=True,
    ).stdout.strip()
    out = {
        "n_docs": index.n_docs,
        "query_shape": args.query_shape,
        "force_prune": force_prune,
        "gate_routed_exhaustive": gate_routed_exhaustive,
        "query": q,
        "k": args.k,
        "cpus": args.cpus,
        "build_sec": build_sec,
        "gate": {k: v for k, v in stats.items() if k != "seed_segments"},
        "exhaustive_secs": e_secs,
        "pruned_secs": p_secs,
        "exhaustive_median_sec": med(e_secs),
        "pruned_median_sec": med(p_secs),
        "speedup_median": round(med(e_secs) / med(p_secs), 3),
        "results_match": True,
        "commit": commit,
    }
    suffix = args.suffix
    if not suffix and args.query_shape != "rare_common":
        suffix = f"_{args.query_shape}"
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(
        os.path.join(REPO, "BENCH", f"wand_regime{suffix}.json"), "w"
    ) as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
