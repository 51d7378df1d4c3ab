"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default: the
process's CPU-affinity count, as ``plans.session.get_spark`` uses;
the WAND-regime subprocess gets the same count). The LAST
stdout line is ONE compact JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

plus supplementary keys: ``turns_per_sec`` (index-build throughput on
the synthetic transcript tier, the north-rule headline metric, median
of 3 builds) and ``p95_query_sec`` (p95 over interleaved per-query
medians — NOTE this definition changed in round 4: through BENCH_r03
the key was p95 over the 24 raw one-shot samples, which mixed
host-interference phases into the tail; from round 4 it is p95 over
the 6 per-query interleaved medians, i.e. with 6 values effectively
the max per-query median. Cross-round deltas r3→r4 therefore compare
different statistics; see BENCH/BASELINE.md "p95 definition"). The
first stdout line and a detail file carry the full-fidelity record
(per-rep samples, wand-regime gate stats); the last line is
size-capped so the driver's tail capture always parses it (BENCH_r03
lesson).

Artifact hygiene: an ordinary run (the driver's per-round pass) writes
``BENCH/bench_detail_last.json`` / ``BENCH/wand_regime_last.json`` —
both gitignored — so it never dirties the COMMITTED evidence
(``bench_detail.json`` / ``wand_regime.json``, which earlier rounds'
driver passes kept overwriting at round end). Set ``PSE_BENCH_COMMIT=1``
to write the canonical tracked names (the builder's quiet-pass mode).

Usage: ``python bench.py`` (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
PSE_BENCH_TIER to override the transcript tier, PSE_BENCH_COMMIT=1 to
refresh the committed artifacts).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    tier = os.environ.get("PSE_BENCH_TIER", "bench")

    from peterman_search_engine_spark.plans.session import get_spark
    from peterman_search_engine_spark.sources.transcripts import generate_transcripts
    from peterman_search_engine_spark.sources.adapters import corpus_from_transcripts

    import __spark_entry__ as entry

    spark = get_spark("pse-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 4)
        return out

    # --- north-rule headline: turns indexed / sec on the transcript corpus
    transcripts = generate_transcripts(spark, tier)
    transcripts = transcripts.localCheckpoint(eager=True)  # exclude generation cost
    n_turns = transcripts.count()

    def _build():
        from pyspark.sql import functions as F

        from peterman_search_engine_spark.functions.analysis import tokens_expr
        from peterman_search_engine_spark.operators.indexer import (
            postings_from_aligned_corpus,
        )

        # docmap output is range-partitioned in doc_id order (the
        # aligned-build invariant); checkpoint so the two passes below
        # don't re-run the docmap exchange
        corpus = corpus_from_transcripts(transcripts).localCheckpoint(eager=True)
        doc_stats = corpus.select(
            "doc_id", F.size(tokens_expr("text")).alias("doc_len")
        )
        doc_stats.write.mode("overwrite").parquet("/tmp/pse_bench_docstats")
        ds = spark.read.parquet("/tmp/pse_bench_docstats")
        avg = float(ds.agg(F.avg("doc_len")).collect()[0][0] or 0.0)
        # zero-shuffle: segment = input partition (doc_id range);
        # positions go to disk compressed-only (persisted contract)
        postings_from_aligned_corpus(
            corpus, avg_len=avg, stem=True, positional=True,
            raw_positions=False,
        ).write.mode("overwrite").parquet("/tmp/pse_bench_postings")
        spark.read.parquet("/tmp/pse_bench_postings").groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        ).write.mode("overwrite").parquet("/tmp/pse_bench_termstats")

    # turns/sec is the cross-round headline — a one-shot build is not
    # comparable across host-interference phases (BENCH_r03 recorded a
    # spurious 1.4x "regression" this way), so report the MEDIAN of
    # repeated builds and keep the per-rep times in the detail file.
    build_secs: list[float] = []
    for rep in range(3):
        timed(f"index_build_rep{rep}", _build)
        build_secs.append(timings.pop(f"index_build_rep{rep}"))
    timings["index_build"] = sorted(build_secs)[len(build_secs) // 2]
    turns_per_sec = round(n_turns / timings["index_build"], 2)

    # --- driver query surface at sf_dir
    qmap = entry.queries()
    bench_queries = [
        "and_search", "or_search", "phrase_search", "proximity_search",
        "not_search", "prefix_search", "snippets", "facet_counts",
        "bm25_topk", "bm25_topk_filtered", "delete_bm25_topk",
        "compact_bm25_topk",
        "bm25_topk_stemmed", "bm25_wand_topk", "bm25_wand_forced", "tfidf_topk",
        "term_stats", "postings_dump", "dedup_exact", "dedup_minhash",
        "dedup_lsh_pairs", "dedup_clusters", "dedup_simhash", "dedup_embedding",
        "ann_cosine_topk", "ann_lsh_topk", "ann_lsh_multiprobe",
        "ann_lsh_enumerated", "ann_ivf_topk",
        "sample_stratified", "decontaminate",
        "text_token_counts", "text_quality", "text_lang_id",
        "text_fingerprint", "events_hourly", "streaming_events_hourly",
        "streaming_bm25_topk", "pagerank",
        "fuzzy_search", "wildcard_search", "suggest_terms",
        "bm25f_topk", "grouped_rank", "more_like_this",
        "bigram_pmi", "text_redact", "boolean_query", "streaming_sessionize",
        "lm_dirichlet_topk", "hybrid_rrf_topk", "regex_search",
        "text_repetition", "curation_pipeline", "bm25_page2", "rank_eval",
        "span_near_search", "spell_correct", "prf_bm25_topk",
        "upsert_bm25_topk",
    ]
    # index-build for the driver tables happens inside the first query;
    # time it separately so per-query numbers reflect query cost.
    timed("driver_index_build", lambda: entry._index(spark, sf_dir))
    for name in bench_queries:
        if name not in qmap:
            continue
        fn = qmap[name]
        timed(name, lambda f=fn: f(spark, sf_dir).collect())

    # PageRank at the reference's full 100-iteration budget
    # (IcsSearchEngineTest.java:33-54 runs index + PageRank(100) + 3
    # queries in <=900 s; this row tracks the analogous wall time)
    def _pr100():
        from peterman_search_engine_spark.operators.pagerank import pagerank
        from peterman_search_engine_spark.sources.graph import generate_edges
        from pyspark.sql import functions as F

        n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        pagerank(generate_edges(spark, n), 100).agg(F.max("pr")).collect()

    timed("pagerank_100iter", _pr100)

    # --- p95 TOP-K QUERY latency (the north-rule metric): repeated
    # runs of the ranked/boolean retrieval queries against the warm
    # index — NOT the analytics suite above.
    topk_queries = [
        "bm25_topk", "bm25_wand_topk", "tfidf_topk",
        "and_search", "or_search", "phrase_search",
    ]
    per_query: dict[str, list[float]] = {n: [] for n in topk_queries}
    for _ in range(5):
        for name in topk_queries:
            t0 = time.perf_counter()
            qmap[name](spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            per_query[name].append(dt)
    # interleaved per-query medians: one-shot samples through a
    # host-interference phase are not comparable across rounds
    # (BENCH/BASELINE.md measurement protocol) — regressions are only
    # believable from these medians, and p95 is taken over the per-
    # query MEDIANS (an interference spike inflates one rep, not the
    # median of five interleaved reps)
    topk_median = {
        n: round(sorted(v)[len(v) // 2], 4) for n, v in per_query.items()
    }
    med_sorted = sorted(topk_median.values())
    p95 = round(med_sorted[min(len(med_sorted) - 1, int(0.95 * len(med_sorted)))], 4)

    # --- cold-start persisted-layout query latency: the warm numbers
    # above serve a localCheckpoint index; at 100 TB every query hits
    # storage (the reference re-opens segment files per query,
    # SegmentInDiskManager.java:259-341). Two subprocesses: one builds
    # + persists via plans/checkpoint, a FRESH process load_index()es
    # and times the SAME six queries purely from parquet. See
    # scripts/cold_query.py and BENCH/BASELINE.md "p95 definition".
    def _cold_query():
        import shutil
        import subprocess

        work = "/tmp/pse_bench_cold_index"
        shutil.rmtree(work, ignore_errors=True)  # always rebuild: honest
        script = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "scripts", "cold_query.py",
        )
        base = [sys.executable, script, "--work-dir", work, "--cpus", cpus]
        b = subprocess.run(
            base + ["--build", "--sf-dir", sf_dir],
            capture_output=True, text=True, timeout=1800,
        )
        if b.returncode != 0:
            return {"error": "build: " + b.stderr[-400:]}
        m = subprocess.run(
            base + ["--measure", "--reps", "5"],
            capture_output=True, text=True, timeout=1800,
        )
        if m.returncode != 0:
            return {"error": "measure: " + m.stderr[-400:]}
        out = json.loads(m.stdout.strip().splitlines()[-1])
        out["build"] = json.loads(b.stdout.strip().splitlines()[-1])
        timings["cold_index_build"] = out["build"].get("build_sec", 0.0)
        timings["cold_query_suite"] = round(
            out["load_index_sec"]
            + sum(out["first_run_sec"].values())
            + sum(out["topk_median_cold_sec"].values()) * out["reps"],
            4,
        )
        return out

    cold_query = _cold_query()

    # --- batch query throughput: a 500-query log ranked in ONE plan
    # (shared posting scan + broadcast fan-out + per-qid window top-k)
    # vs ~1 s/query for the one-at-a-time path — the amortization
    # story a single-node engine cannot tell.
    def _batch_log():
        import itertools

        from peterman_search_engine_spark.operators.batch import batch_bm25_topk

        idx = entry._index(spark, sf_dir)
        vocab = sorted(r["term"] for r in idx.term_stats.select("term").collect())
        pairs = list(itertools.product(vocab, vocab))
        queries = {i: list(p) for i, p in enumerate(pairs[:500])}
        batch_bm25_topk(idx, queries, 10).count()
        return len(queries)

    n_batch = timed("batch_bm25_500", _batch_log)
    batch_qps = round(n_batch / timings["batch_bm25_500"], 1)

    # --- ANN quality: recall@k of the bucketed/IVF paths vs the exact
    # brute-force cosine top-k (same query vector, same exclusions)
    exact_ids = {r.vec_id for r in qmap["ann_cosine_topk"](spark, sf_dir).collect()}
    ann_recall = {}
    for name in (
        "ann_lsh_topk", "ann_lsh_multiprobe", "ann_lsh_enumerated",
        "ann_ivf_topk",
    ):
        approx_ids = {r.vec_id for r in qmap[name](spark, sf_dir).collect()}
        ann_recall[name] = round(len(exact_ids & approx_ids) / len(exact_ids), 3)

    # --- ANN quality, planted-cluster geometry: the testdata embeddings
    # are near-isotropic (where LSH theory predicts failure — SCALE.md
    # §8); this fixture plants tight clusters, the regime where the
    # bucketed paths shine. recall@10 averaged over 3 query clusters,
    # plus the single-bucket scanned fraction.
    def _clustered_recall():
        from pyspark.sql import functions as F

        from peterman_search_engine_spark.operators import similarity as SIM
        from peterman_search_engine_spark.sources.clustered import (
            clustered_embeddings,
        )

        C, M = 16, 64
        emb = clustered_embeddings(
            spark, n_clusters=C, per_cluster=M, n_noise=1024
        ).localCheckpoint(eager=True)
        n = emb.count()
        withb = emb.withColumn(
            "_b", SIM.bucket_expr(F.col("embedding"), 64)
        ).localCheckpoint(eager=True)
        rec = {"lsh_single": 0.0, "lsh_multiprobe_r1": 0.0, "ivf_p1": 0.0}
        frac = 0.0
        qcs = (0, 7, 12)
        for c in qcs:
            qid = C + c * M
            qv = [
                float(x)
                for x in emb.filter(F.col("vec_id") == qid).collect()[0]["embedding"]
            ]
            exact = {
                r.vec_id
                for r in SIM.cosine_topk(emb, qv, k=10, exclude_ids=[qid]).collect()
            }
            got = {
                "lsh_single": SIM.lsh_bucketed_topk(emb, qv, k=10, exclude_ids=[qid]),
                "lsh_multiprobe_r1": SIM.lsh_multiprobe_enumerated_topk(
                    emb, qv, k=10, radius=1, exclude_ids=[qid]
                ),
                "ivf_p1": SIM.ivf_topk(
                    emb, qv, k=10, n_cells=C, n_probe=1, exclude_ids=[qid]
                ),
            }
            for name, df in got.items():
                ids = {r.vec_id for r in df.collect()}
                rec[name] += len(ids & exact) / len(exact)
            qb = SIM.query_bucket(qv)
            frac += withb.filter(F.col("_b") == qb).count() / n
        out = {k: round(v / len(qcs), 3) for k, v in rec.items()}
        out["single_bucket_scanned_fraction"] = round(frac / len(qcs), 4)
        return out

    t0 = time.perf_counter()
    ann_recall_clustered = _clustered_recall()
    timings["ann_clustered_recall"] = round(time.perf_counter() - t0, 4)

    # --- block-max WAND in its winning regime: rare-AND-common corpus
    # sized so the cost gate opens on SHIPPED statistics (sum df over
    # the query terms ~= 1.04e8 >= DEFAULT_PRUNE_MIN_ENTRIES = 3e7 at
    # 26M docs); pruned and exhaustive plans measured interleaved on
    # the same warm index. Runs as a SUBPROCESS with its own 32g
    # driver (the exhaustive leg explodes ~1e8 postings — too big for
    # this session's 8g heap, and an honest demonstration needs the
    # size where pruning pays; see BENCH/wand_regime_below_gate.json
    # for why a heap-sized corpus would measure the wrong regime).
    def _wand_regime():
        import subprocess

        n_docs = os.environ.get("PSE_WAND_REGIME_DOCS", "26000000")
        env = dict(os.environ, PSE_DRIVER_MEM="32g")
        work_dir = os.environ.get(
            "PSE_WAND_REGIME_DIR", "/tmp/pse_bench_wand_regime"
        )
        cmd = [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "scripts", "wand_regime.py"),
            "--n-docs", n_docs, "--reps", "3", "--cpus", cpus,
            "--work-dir", work_dir,
            # ordinary (driver) passes write the gitignored *_last
            # artifact; PSE_BENCH_COMMIT=1 refreshes the tracked one
            "--suffix",
            "" if os.environ.get("PSE_BENCH_COMMIT") == "1" else "_last",
            # reuse a prior build when present: the 26M build is ~9 min
            # and identical across runs (deterministic generator), and
            # skipping it shrinks the window where this 32g subprocess
            # and the bench session compete for host memory
            "--keep",
        ]
        proc = subprocess.run(
            cmd, env=env, capture_output=True, text=True, timeout=3600,
        )
        if proc.returncode != 0:
            # one retry: the co-resident bench session + the 32g
            # subprocess can transiently kill an executor at the 26M
            # exhaustive peak; the rebuilt/kept index makes the retry
            # cheap and the measurement protocol is unchanged
            proc = subprocess.run(
                cmd, env=env, capture_output=True, text=True, timeout=3600,
            )
        if proc.returncode != 0:
            return {"error": proc.stderr[-500:]}
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        timings["wand_regime_build"] = out["build_sec"]
        timings["wand_regime_exhaustive"] = out["exhaustive_median_sec"]
        timings["wand_regime_pruned"] = out["pruned_median_sec"]
        assert out["results_match"]
        return {
            "n_docs": out["n_docs"],
            "prune_ratio": out["gate"]["prune_ratio"],
            "essential_terms": out["gate"]["essential_terms"],
            "blocks_decoded": out["gate"]["blocks_decoded"],
            "blocks_total_nonseed": out["gate"]["blocks_total_nonseed"],
            "speedup": out["speedup_median"],
        }

    wand_regime = _wand_regime()
    total = round(sum(timings.values()), 4)

    detail = {
        "metric": "index_build+query_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: v for k, v in timings.items()},
        "sf": sf_dir,
        "turns_indexed": n_turns,
        "index_build_reps_sec": [round(s, 4) for s in build_secs],
        "turns_per_sec": turns_per_sec,
        "p95_query_sec": p95,
        "p95_query_sec_cold": cold_query.get("p95_query_sec_cold"),
        "cold_query": cold_query,
        "topk_median_sec": topk_median,
        "topk_reps_sec": {
            n: [round(s, 4) for s in v] for n, v in per_query.items()
        },
        "batch_query_qps": batch_qps,
        "ann_recall_at_10": ann_recall,
        "ann_recall_clustered": ann_recall_clustered,
        "wand_regime": wand_regime,
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "transcript_tier": tier,
    }
    # full-fidelity record: to disk and as the FIRST stdout line
    detail_name = (
        "bench_detail.json"
        if os.environ.get("PSE_BENCH_COMMIT") == "1"
        else "bench_detail_last.json"  # gitignored; driver passes land here
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", detail_name
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        detail_path = None
    print(json.dumps(detail))

    # the driver tail-captures stdout and parses the LAST line —
    # BENCH_r03's line outgrew that window ("parsed": null), so the
    # final line is a compact headline (2-dp timings, sub-dicts kept
    # short) hard-capped at 1400 chars by trimming "queries" to the
    # slowest entries; the full dict is the first line + detail file.
    compact = {
        "metric": "index_build+query_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf_dir,
        "turns_per_sec": turns_per_sec,
        "p95_query_sec": p95,
        "p95_query_sec_cold": cold_query.get("p95_query_sec_cold"),
        "topk_median_sec": {k: round(v, 2) for k, v in topk_median.items()},
        "batch_query_qps": batch_qps,
        "ann_recall_at_10": ann_recall,
        "ann_recall_clustered": ann_recall_clustered,
        "wand_speedup": wand_regime.get("speedup"),
        "cpus": detail["cpus"],
        "detail_file": detail_path,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1400:
        slowest = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:24]
        )
        compact["queries"] = {k: round(v, 2) for k, v in slowest.items()}
        compact["queries_trimmed_to_slowest"] = len(slowest)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
