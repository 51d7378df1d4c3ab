"""Hot-term skew: measured evidence that the segment-salted posting
aggregation bounds the straggler a naive global groupBy(term) creates.

The north rule calls for "merge segment postings via salted
repartition-by-term to defuse hot-term skew". The shipped design
(indexer.postings_from_corpus) shuffles the corpus text by segment
alone and builds each segment's posting rows in one Arrow kernel call —
the doc-range segment id IS the salt (there is no term bucket), so a
term planted in 50% of all docs still lands in rows of at most
docs_per_segment entries, and no reducer task ever holds a whole hot
posting list. The naive design every first Spark port writes —
``groupBy(term).agg(sort_array(collect_list(...)))`` straight off the
token stream — concentrates each hot term's full posting list (~n/2
entries here) in ONE reducer task.

Three legs, interleaved, on the SAME corpus (8 hot terms in ~50% of
``--n-docs`` docs each — ``sources.regime``, the WAND-study corpus;
naive and salted read its checkpointed tokens, shipped its text):

* ``naive``   — groupBy(term, doc_id) → groupBy(term) collect_list:
  the strawman; each hot term's full list funnels through one task;
* ``salted``  — the IDENTICAL declarative plan with the segment id
  added to both keys: the only changed variable is the salt, so the
  straggler delta is attributable to it;
* ``shipped`` — the production ``postings_from_corpus`` path over the
  corpus text (one text shuffle by segment + the Arrow posting-build
  kernel, including tokenizing and blob encode — more total work per
  row, but the same bounded-key property).

For each leg: wall seconds per rep (median headline), and per-task
executorRunTime / GC / peak-memory quantiles from Spark's own REST
taskSummary for the straggler's stage — the new shuffle-READING stage
with the largest (peak-mem, max-task) key; picking by total stage
runtime grabs the map-side explode stage instead, which is why an
earlier emit of this artifact showed a bogus 1.1 ratio for the naive
leg. The per-task numbers are reported from the SAME rep as the wall
median, never mixed across reps.

Two headlines:

* ``wall_ratio_naive_over_salted`` — the measured cost of the skew at
  this corpus size (GC-bound giant-array assembly);
* ``max_row_entries_ratio_naive_over_salted`` — the boundedness
  argument, deterministic and data-side: the largest single array ONE
  reduce task must materialize is the whole hot posting list (~n/2
  entries, linear in corpus size — an executor OOM at 10^12 turns)
  for the naive key, but capped at docs_per_segment forever for the
  salted keys. Map-side partial collect_list does not change this:
  partials pre-concatenate chunks, the final merge still holds the
  whole array in one task.

Writes BENCH/skew.json and prints one JSON line. Needs PSE_UI=true
(set by this script) so the REST metrics API exists.

Usage::

    python scripts/skew_study.py [--n-docs 4000000] [--reps 3]
        [--cpus 32] [--docs-per-segment 100000]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("PSE_UI", "true")


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.load(r)


def _stage_ids(base: str, app: str) -> set[int]:
    return {
        s["stageId"]
        for s in _rest(base, f"/api/v1/applications/{app}/stages")
    }


def _task_summary(base: str, app: str, sid: int, att: int) -> dict | None:
    try:
        q = _rest(
            base,
            f"/api/v1/applications/{app}/stages/{sid}/{att}/taskSummary"
            "?quantiles=0.5,0.95,1.0",
        )
    except Exception:
        return None  # stage with no completed tasks
    med, p95, mx = (round(v / 1000.0, 3) for v in q["executorRunTime"])
    out = {
        "task_sec_median": med,
        "task_sec_p95": p95,
        "task_sec_max": mx,
        "straggler_ratio": round(mx / med, 2) if med else None,
    }
    # peakExecutionMemory is the boundedness headline: a naive
    # by-term reduce task must hold a hot term's ENTIRE posting list
    # (map-side partial collect_list merely pre-concatenates chunks —
    # the final merge still materializes the whole array in one
    # task), so its peak grows linearly with corpus size while the
    # salted keys cap it at docs_per_segment. At 10^12 turns that is
    # the difference between a working job and an executor OOM.
    pem = q.get("peakExecutionMemory")
    if pem:
        out["task_peak_mem_mb_median"] = round(pem[0] / 2**20, 1)
        out["task_peak_mem_mb_max"] = round(pem[2] / 2**20, 1)
    gc = q.get("jvmGcTime")
    if gc:
        out["task_gc_sec_max"] = round(gc[2] / 1000.0, 3)
    rr = (q.get("shuffleReadMetrics") or {}).get("readRecords")
    if rr:
        out["shuffle_read_records_median"] = int(rr[0])
        out["shuffle_read_records_max"] = int(rr[2])
    return out


def _straggler_stage_summary(base: str, app: str, new_stages: set[int]) -> dict:
    """Task-duration distribution of the REDUCE stage whose MAX task
    is largest — the stage the straggler lives in. Only stages that
    read a shuffle qualify: map stages (scan+explode) have their own
    slow first task (JIT) and are identical across legs, and picking
    by total stage runtime selects exactly those — which is how an
    earlier emit recorded a bogus 1.1 naive ratio."""
    best: dict = {}
    for sid in new_stages:
        for st in _rest(base, f"/api/v1/applications/{app}/stages/{sid}"):
            if st.get("status") != "COMPLETE":
                continue
            s = _task_summary(base, app, sid, st["attemptId"])
            if s is None or not s.get("shuffle_read_records_max"):
                continue
            key = (s.get("task_peak_mem_mb_max", 0.0), s["task_sec_max"])
            if not best or key > (
                best.get("task_peak_mem_mb_max", 0.0), best["task_sec_max"]
            ):
                best = {
                    "stage_id": sid,
                    "num_tasks": st["numCompleteTasks"],
                    **s,
                }
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=4_000_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--docs-per-segment", type=int, default=100_000)
    # Sized like a real cluster job (several × cores), NOT down to the
    # local core count: skew is per-REDUCER — a hot key lands whole in
    # one task no matter how many partitions there are, while the
    # balanced baseline thins out with the partition count, exactly as
    # it does on a 1000-executor cluster. AQE coalescing stays on (the
    # shipped config): it merges the thin balanced partitions but can
    # never split the hot key's.
    ap.add_argument("--shuffle-partitions", type=int, default=256)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from peterman_search_engine_spark.operators.indexer import (
        postings_from_corpus,
        tokenize_corpus,
    )
    from peterman_search_engine_spark.plans.session import get_spark
    from peterman_search_engine_spark.sources.regime import (
        generate_rare_common_corpus,
    )

    spark = get_spark(
        "skew-study", master=f"local[{args.cpus}]",
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    corpus = generate_rare_common_corpus(spark, args.n_docs)
    toks = tokenize_corpus(corpus, stem=False).localCheckpoint(eager=True)
    avg_len = float(
        toks.agg(F.avg(F.size("tokens"))).collect()[0][0]
    )
    seg = (
        (F.col("doc_id") / F.lit(args.docs_per_segment)).cast("long")
        .alias("segment")
    )

    def _two_phase(keys1, keys2):
        # groupBy(keys1 + doc) tf, then groupBy(keys2) collect_list —
        # byte-identical plan shape for naive and salted; only the
        # grouping keys differ.
        ex = toks.select(
            "doc_id", seg, F.explode("tokens").alias("term")
        ).groupBy(*keys1, "doc_id").agg(F.count("*").alias("tf"))
        p = ex.groupBy(*keys2).agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "tf"))
            ).alias("postings")
        )
        return p.agg(
            F.count("*").alias("rows"),
            F.sum(F.size("postings")).alias("entries"),
            # the boundedness headline: the largest single array one
            # reduce task must materialize — grows with the corpus for
            # the naive key, capped at docs_per_segment for the salted
            F.max(F.size("postings")).alias("max_row_entries"),
        ).collect()[0]

    def naive():
        return _two_phase(["term"], ["term"])

    def salted():
        return _two_phase(["segment", "term"], ["segment", "term"])

    def shipped():
        sp = postings_from_corpus(
            corpus, avg_len=avg_len, stem=False, positional=False,
            docs_per_segment=args.docs_per_segment,
        )
        return sp.agg(
            F.count("*").alias("rows"), F.sum("df").alias("entries"),
            F.max("df").alias("max_row_entries"),
        ).collect()[0]

    legs = {"naive": naive, "salted": salted, "shipped": shipped}
    walls: dict[str, list[float]] = {k: [] for k in legs}
    reps: dict[str, list[dict]] = {k: [] for k in legs}
    rows: dict[str, dict] = {}
    for rep in range(args.reps):
        for name, fn in legs.items():  # interleaved N,S,P protocol
            before = _stage_ids(base, app)
            t0 = time.perf_counter()
            row = fn()
            wall = round(time.perf_counter() - t0, 2)
            walls[name].append(wall)
            new = _stage_ids(base, app) - before
            reps[name].append(
                {"wall_sec": wall,
                 **_straggler_stage_summary(base, app, new)}
            )
            rows[name] = {
                "rows": int(row["rows"]),
                "entries": int(row["entries"]),
                "max_row_entries": int(row["max_row_entries"]),
            }
    # headline stage summary = the rep at the wall median, so the
    # per-task numbers and the wall they explain come from the SAME
    # run (an earlier emit kept the last rep's stages against a
    # cross-rep median wall — incoherent under host-phase variance)
    stages = {
        name: sorted(rs, key=lambda r: r["wall_sec"])[len(rs) // 2]
        for name, rs in reps.items()
    }

    # data-side explanation: per-key weights
    ex = toks.select("doc_id", F.explode("tokens").alias("term"))
    kw = ex.groupBy("term").count()
    hot = kw.agg(F.max("count").alias("mx"), F.sum("count").alias("tot")) \
        .collect()[0]

    def med(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else round((s[n // 2 - 1] + s[n // 2]) / 2, 2)

    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
        capture_output=True, text=True,
    ).stdout.strip()
    out = {
        "n_docs": args.n_docs,
        "cpus": args.cpus,
        "docs_per_segment": args.docs_per_segment,
        "shuffle_partitions": args.shuffle_partitions,
        "planted": "8 hot terms, each in ~50% of docs (sources.regime)",
        "max_key_entries": int(hot["mx"]),
        "total_entries": int(hot["tot"]),
        "max_key_fraction": round(hot["mx"] / hot["tot"], 4),
        **{
            name: {
                "wall_secs": walls[name],
                "wall_median_sec": med(walls[name]),
                "median_rep": stages[name],
                "all_reps": reps[name],
                **rows[name],
            }
            for name in legs
        },
        "wall_ratio_naive_over_salted": round(
            med(walls["naive"]) / med(walls["salted"]), 2
        ),
        "max_row_entries_ratio_naive_over_salted": round(
            rows["naive"]["max_row_entries"]
            / max(rows["salted"]["max_row_entries"], 1), 2
        ),
        "commit": commit,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "skew.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
