"""Search-engine benchmark: one command, seeded workloads, checked answers.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer counters with
``--trace 1``. A human-readable report goes to standard error, and a
result file (plus a span file when traced) to ``perfbench/results/``.
See ``perfbench/README.md`` for workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "peterman_search_engine_spark"
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import COUNTERS, Tracer  # noqa: E402

K = 10
# serve: one persisted index over SERVE_CONVS conversations
SERVE_CONVS = 300
SERVE_ROUNDS = 60
BATCH_QUERIES = 200  # ranked once, after the interactive rounds of a traced run
TRACED_SERVE_ROUNDS = 4  # a traced run does fixed work, so its counts repeat
# an untraced run starts rounds until --seconds have passed, but runs at
# least this many, so a slow spell on the host still leaves 18 samples
MIN_SERVE_ROUNDS = 3
# upsert: set-up ingests a base and one warm-up micro-batch, so the
# tombstone paths of ingest and read are warm before timing. Then
# UPSERT_BATCHES timed micro-batches, FRESH_READS reads after each; one
# compaction follows the first, so a run ends on uncompacted, tombstoned
# data. The work is fixed, so a faster engine shows as better numbers,
# not as a different workload.
UPSERT_BASE_CONVS = 100
CONVS_PER_BATCH = 30
# a minority of each batch re-sends known conversations: enough that
# every batch tombstones turns, while most of it is new, as in an
# append-mostly transcript log
RESEND_SHARE = 0.3
WARMUP_BATCHES = 1
UPSERT_BATCHES = 2
FRESH_READS = 3
DOCS_PER_SEGMENT = 1000

# counters per span; COUNTERS[:-1] leaves out spill_bytes, which queries
# and loads never have
SPANS = {
    "plans.session.get_spark": ["wall_s"],
    "plans.checkpoint.build_index_checkpointed": COUNTERS,
    "plans.checkpoint.load_index": COUNTERS[:-1],
    **{f"operators.query.{op}": COUNTERS[:-1] for op in
       ("search_bm25", "search_tfidf", "search_and", "search_or", "search_phrase")},
    "operators.wand.bm25_topk_wand": COUNTERS[:-1],
    "operators.batch.batch_bm25_topk": COUNTERS[:-1],
    "streaming.incremental.ingest_batch": COUNTERS + ["superseded_turns"],
    "streaming.incremental.load_streaming_index": COUNTERS[:-1],
    "streaming.incremental.reencode_blocks": COUNTERS,
}
LAYER_METRICS = [f"{s}.{c}" for s, cs in SPANS.items() for c in cs] + ["failed_tasks"]
E2E = {"setup_s": "s", "query_p50_s": "s", "query_p90_s": "s",
       "write_turns_per_s": "turns/s", "index_bytes_per_text_byte": "ratio"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU ticks (user, nice, system, idle, iowait,
    irq, softirq, steal), or [] where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Run:
    """One benchmark run: its session, tracer, op accounting and files."""

    def __init__(self, args):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.checks: list[tuple] = []  # (oracle key, op, args, result)
        self.spark = None
        self.ticks0 = cpu_ticks()

    def start_session(self):
        from peterman_search_engine_spark.plans.session import get_spark

        with self.tracer.span("plans.session.get_spark", phase="setup") as rec:
            self.spark = get_spark("perfbench")
        rec["wall_s"] = rec["end"] - rec["start"]
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)

    def call(self, name: str, fn, *, traced: bool, phase: str, op_id=None):
        """Times ``fn()`` (which must materialize its result); when
        ``traced``, inside a span that carries Spark counters. Untimed,
        after the call, the listener bus drains (a traced span does that
        to read its counters), so no op's events are still being handled
        while the next op runs, traced or not."""
        if not traced:
            t = time.perf_counter()
            try:
                out = fn()
            finally:
                dt = time.perf_counter() - t
                self.settle()
            return out, dt, None
        with self.tracer.span(name, spark_counters=True, phase=phase, op_id=op_id) as rec:
            t = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t
        return out, dt, rec

    def settle(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def op(self, oracle_key, name, args, fn, *, traced, phase, op_id=None):
        """A checked op: an exception counts as a failed op, never lost."""
        self.attempted += 1
        try:
            out, dt, rec = self.call(name, fn, traced=traced, phase=phase, op_id=op_id)
        except Exception:  # noqa: BLE001 - the op fails, the run goes on
            self.failed += 1
            log(f"op {op_id} {name}{args!r} raised:\n{traceback.format_exc()}")
            return None, None, None
        self.checks.append((oracle_key, name.rsplit(".", 1)[-1], args, out, op_id))
        return out, dt, rec

    def verify(self, oracles: dict) -> None:
        from check import check_op

        for key, op, args, out, op_id in self.checks:
            # an ingest's check is its superseded-turn count
            ok = out == args if op == "ingest_batch" else check_op(oracles[key], op, args, out, K)
            if not ok:
                self.failed += 1
                log(f"op {op_id} {op}{args!r} returned a wrong answer")

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


# -- serve --------------------------------------------------------------------


def _ranked(rows) -> list[tuple[int, float]]:
    return [(int(r[0]), float(r[1])) for r in rows]


def serve_round(run: Run, idx, ops, r: int, *, traced: bool, phase: str) -> list[float]:
    """The interactive ``ops`` in order; returns their latencies."""
    from peterman_search_engine_spark.operators import query as Q
    from peterman_search_engine_spark.operators.wand import bm25_topk_wand

    calls = {
        "bm25_topk_wand": lambda t: _ranked(bm25_topk_wand(idx, t, K).collect()),
        "search_bm25": lambda t: _ranked(Q.search_bm25(idx, t, K).collect()),
        "search_tfidf": lambda t: _ranked(Q.search_tfidf(idx, t, K).collect()),
        "search_and": lambda t: [int(x[0]) for x in Q.search_and(idx, t).collect()],
        "search_or": lambda t: [int(x[0]) for x in Q.search_or(idx, t).collect()],
        "search_phrase": lambda t: [int(x[0]) for x in Q.search_phrase(idx, t).collect()],
    }
    lat = []
    for i, (op, terms) in enumerate(ops):
        mod = "operators.wand" if op == "bm25_topk_wand" else "operators.query"
        _, dt, _ = run.op("serve", f"{mod}.{op}", terms, lambda t=terms, f=calls[op]: f(t),
                          traced=traced, phase=phase, op_id=f"r{r}.{i}")
        if dt is not None:
            lat.append(dt)
    return lat


def serve(run: Run) -> tuple[dict, dict, dict]:
    from peterman_search_engine_spark.operators.batch import batch_bm25_topk
    from peterman_search_engine_spark.plans.checkpoint import build_index_checkpointed, load_index

    t0 = time.perf_counter()
    run.start_session()
    corpus = gen.make_corpus(run.seed, SERVE_CONVS)
    path = os.path.join(run.work, "corpus.parquet")
    gen.write_corpus(corpus.turns, path)
    rounds = gen.query_stream(run.seed, corpus.turns, SERVE_ROUNDS)
    qlog = gen.term_lists(run.seed, corpus.turns, BATCH_QUERIES, "batch")
    idx_dir = os.path.join(run.work, "index")
    df = run.spark.read.parquet(path)
    _, build_s, _ = run.call(
        "plans.checkpoint.build_index_checkpointed",
        lambda: build_index_checkpointed(df, idx_dir, docs_per_segment=DOCS_PER_SEGMENT),
        traced=run.trace, phase="setup")
    idx, load_s, _ = run.call("plans.checkpoint.load_index",
                              lambda: load_index(run.spark, idx_dir), traced=run.trace, phase="setup")
    # warm-up: one op of each type, so no timed op pays a first-use cost
    serve_round(run, idx, rounds[0], 0, traced=run.trace, phase="setup")
    setup_s = time.perf_counter() - t0

    # timed: closed loop, one client; in a traced run odd rounds are
    # traced and even rounds are not, which measures the overhead
    lat = {True: [], False: []}
    t_end = time.perf_counter() + run.seconds
    r = 1
    while (r <= TRACED_SERVE_ROUNDS if run.trace
           else r <= MIN_SERVE_ROUNDS or time.perf_counter() < t_end) and r < len(rounds):
        traced = run.trace and r % 2 == 1
        lat[traced] += serve_round(run, idx, rounds[r], r, traced=traced, phase="timed")
        r += 1
    # the batch log comes after the rounds, so it takes no time from them;
    # only a traced run ranks it, since no end-to-end metric uses its time
    batch_s = None
    if run.trace:
        _, batch_s, _ = run.op(
            "serve", "operators.batch.batch_bm25_topk", qlog,
            lambda: [(int(q), int(d), float(s)) for q, d, s in batch_bm25_topk(idx, qlog, K).collect()],
            traced=True, phase="timed", op_id="batch",
        )

    text = gen.text_bytes(corpus.turns)
    base = {
        "setup_s": setup_s,
        "write_turns_per_s": len(corpus.turns) / (build_s + load_s),
        "index_bytes_per_text_byte": dir_bytes(idx_dir) / text,
    }
    from peterman_search_engine_spark.oracle.pyoracle import OracleIndex

    ordered = sorted(corpus.turns, key=lambda t: (t.conv_id, t.turn_idx))
    run.verify({"serve": OracleIndex([(i, t.text) for i, t in enumerate(ordered)])})
    extra = {"batch_qps": BATCH_QUERIES / batch_s if batch_s else None, "rounds": r - 1}
    sizes = {"turns": len(corpus.turns), "text_bytes": text,
             "interactive_queries": sum(map(len, lat.values())),
             "batch_log_queries": BATCH_QUERIES if run.trace else 0}
    return _split(base, lat, None), extra, sizes


def _split(base: dict, lat: dict, write: dict | None) -> dict:
    """End-to-end metrics from the untraced samples (and, in a traced
    run, from the traced ones under ``traced``)."""
    out = {}
    for traced in (False, True):
        if not lat[traced]:
            continue
        m = dict(base, query_p50_s=statistics.median(lat[traced]), query_p90_s=p90(lat[traced]))
        if write is not None:
            turns, secs = write[traced]
            m["write_turns_per_s"] = turns / secs
        out["traced" if traced else "untraced"] = m
    return out


# -- upsert -------------------------------------------------------------------


class LiveState:
    """What the streaming index should hold: every doc it physically
    stores, which of them are live, and each conversation's live docs."""

    def __init__(self):
        self.text: dict[int, str] = {}
        self.live: set[int] = set()
        self.conv: dict[str, list[int]] = {}
        self.next_id = 0

    def ingest(self, turns) -> int:
        gone = [d for c in {t.conv_id for t in turns} for d in self.conv.get(c, [])]
        self.live.difference_update(gone)
        new: dict[str, list[int]] = {}
        for t in sorted(turns, key=lambda t: (t.conv_id, t.turn_idx)):
            self.text[self.next_id] = t.text
            self.live.add(self.next_id)
            new.setdefault(t.conv_id, []).append(self.next_id)
            self.next_id += 1
        self.conv.update(new)
        return len(gone)

    def compact(self) -> None:
        self.text = {d: self.text[d] for d in self.live}

    def snapshot(self):
        return sorted(self.text.items()), set(self.live)


def upsert(run: Run) -> tuple[dict, dict, dict]:
    from peterman_search_engine_spark.operators import query as Q
    from peterman_search_engine_spark.streaming.incremental import (
        ingest_batch,
        load_streaming_index,
        reencode_blocks,
    )

    t0 = time.perf_counter()
    run.start_session()
    spark = run.spark
    corpus = gen.make_corpus(run.seed, UPSERT_BASE_CONVS)
    batches = gen.upsert_batches(corpus, WARMUP_BATCHES + UPSERT_BATCHES, CONVS_PER_BATCH,
                                 RESEND_SHARE)
    # one warm-up read, then FRESH_READS after each timed batch
    reads = iter(gen.term_lists(run.seed, corpus.turns, 1 + FRESH_READS * UPSERT_BATCHES,
                                "reads").values())
    paths = []
    for b, turns in enumerate([corpus.turns] + batches):
        paths.append(os.path.join(run.work, "in", f"batch{b}.parquet"))
        os.makedirs(os.path.dirname(paths[-1]), exist_ok=True)
        gen.write_transcripts(turns, paths[-1])
    idx_dir = os.path.join(run.work, "index")
    state = LiveState()
    snaps: dict[str, tuple] = {}
    opts = dict(docs_per_segment=DOCS_PER_SEGMENT)

    def ingest(b: int, traced: bool, phase: str):
        df = spark.read.parquet(paths[b])
        turns = corpus.turns if b == 0 else batches[b - 1]
        want = state.ingest(turns)
        manifest = os.path.join(idx_dir, "_manifest", f"batch_{b}.json")

        def go():
            ingest_batch(df, idx_dir, b, **opts)
            with open(manifest) as f:
                return json.load(f)["n_superseded"]

        got, dt, rec = run.op(None, "streaming.incremental.ingest_batch", want, go,
                              traced=traced, phase=phase, op_id=f"b{b}")
        if rec is not None:
            rec["superseded_turns"] = got
        return len(turns), dt

    def fresh_reads(key: str, traced: bool, phase: str, n: int = FRESH_READS) -> list[float]:
        snaps[key] = state.snapshot()
        lat = []
        for i in range(n):
            terms = next(reads)
            t = time.perf_counter()
            idx, _, _ = run.call("streaming.incremental.load_streaming_index",
                                 lambda: load_streaming_index(spark, idx_dir),
                                 traced=traced, phase=phase)
            out, _, _ = run.op(key, "operators.query.search_bm25", terms,
                               lambda: _ranked(Q.search_bm25(idx, terms, K).collect()),
                               traced=traced, phase=phase, op_id=f"{key}.{i}")
            if out is not None:
                lat.append(time.perf_counter() - t)
        return lat

    for b in range(WARMUP_BATCHES + 1):
        ingest(b, run.trace, "setup")
    fresh_reads(f"b{WARMUP_BATCHES}", run.trace, "setup", 1)  # warm-up
    setup_s = time.perf_counter() - t0

    lat = {True: [], False: []}
    write = {True: [0, 0.0], False: [0, 0.0]}  # turns, ingest seconds
    compact_s = 0.0
    first = WARMUP_BATCHES + 1
    for b in range(first, first + UPSERT_BATCHES):
        traced = run.trace and b % 2 == 1
        n, dt = ingest(b, traced, "timed")
        if dt is not None:
            write[traced][0] += n
            write[traced][1] += dt
        lat[traced] += fresh_reads(f"b{b}", traced, "timed")
        if b == first:
            _, compact_s, _ = run.call("streaming.incremental.reencode_blocks",
                                       lambda: reencode_blocks(spark, idx_dir),
                                       traced=run.trace, phase="timed")
            state.compact()

    text = sum(gen.text_bytes(turns) for turns in [corpus.turns] + batches)
    ingest_s = write[True][1] + write[False][1]
    base = {
        "setup_s": setup_s,
        # compaction time is charged to the turns it compacts
        "write_turns_per_s": (write[True][0] + write[False][0]) / (ingest_s + compact_s),
        "index_bytes_per_text_byte": dir_bytes(idx_dir) / text,
    }
    from check import LiveOracle

    run.verify({k: LiveOracle(*s) for k, s in snaps.items()})
    # a traced/untraced split of write rates leaves compaction out
    split = {t: tuple(write[t]) for t in (True, False)} if run.trace else None
    metrics = _split(base, lat, split)
    extra = {"batches": UPSERT_BATCHES, "warmup_batches": WARMUP_BATCHES,
             "compact_s": compact_s, "ingest_s": ingest_s, "fresh_read_s": lat[False]}
    sizes = {"turns": len(corpus.turns), "text_bytes": text,
             "batch_turns": CONVS_PER_BATCH * gen.TURNS_PER_CONV,
             "fresh_queries": sum(map(len, lat.values()))}
    return metrics, extra, sizes


# -- report -------------------------------------------------------------------


def layer_summary(tracer: Tracer) -> dict[str, float]:
    """Median of each counter over the spans of one name, from the timed
    phase when the name occurs there, else from set-up. A span the
    workload never calls reports 0."""
    out = {}
    for name, counters in SPANS.items():
        spans = [s for s in tracer.spans if s["name"] == name]
        spans = [s for s in spans if s.get("phase") == "timed"] or spans
        for c in counters:
            vals = [s[c] for s in spans if c in s]
            # a count takes the low median, so it stays a count that some
            # call made; times take the median
            avg = statistics.median if c.endswith("_s") else statistics.median_low
            out[f"{name}.{c}"] = avg(vals) if vals else 0
    out["failed_tasks"] = sum(s.get("failed_tasks", 0) for s in tracer.spans)
    return out


def layer_unit(metric: str) -> str:
    for suffix, unit in (("_s", "s"), ("_bytes", "bytes")):
        if metric.endswith(suffix):
            return unit
    return "count"


def fingerprint(run: Run, workload: str, sizes: dict) -> dict:
    sc = run.spark.sparkContext
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                                cwd=ROOT, timeout=10).stdout.strip() or None
    ticks = [b - a for a, b in zip(run.ticks0, cpu_ticks())]
    return {
        "workload": workload, "seed": run.seed, "seconds": run.seconds, "trace": run.trace,
        # CPU time other guests took from this host's cores during the run:
        # a run with a high share was measured on a contended host
        "host_steal_frac": ticks[7] / sum(ticks) if ticks and sum(ticks) else None,
        "nproc": len(os.sched_getaffinity(0)), "master": sc.master,
        "spark": sc.version, "python": platform.python_version(),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "git_commit": commit, "package_sha256": h.hexdigest()[:16], "sizes": sizes,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE}/ under {ROOT}: run from the repository root")
        return 2

    run = Run(args)
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": cpus,
        "PSE_SHUFFLE_PARTITIONS": cpus,
        "PSE_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run.work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--conf spark.ui.showConsoleProgress=false "
                               f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })
    sys.path.insert(0, ROOT)
    try:
        metrics, extra, sizes = (serve if args.workload == "serve" else upsert)(run)
        fp = fingerprint(run, args.workload, sizes)
    finally:
        run.close()

    res_dir = os.path.join(HERE, "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    e2e = metrics["untraced"]
    result = {"fingerprint": fp, "end_to_end": e2e, "extra": extra,
              "attempted": run.attempted, "failed": run.failed}
    if run.trace:
        run.tracer.self_times()
        with open(stem + "-spans.jsonl", "w") as f:
            for s in run.tracer.spans:
                f.write(json.dumps(s) + "\n")
        layers = layer_summary(run.tracer)
        result["per_layer"] = layers
        split = ["query_p50_s", "query_p90_s"] + (["write_turns_per_s"] if args.workload == "upsert" else [])
        result["tracing_overhead"] = {m: metrics["traced"][m] - e2e[m] for m in split}
        out = {m: {"value": layers[m], "unit": layer_unit(m)} for m in LAYER_METRICS}
    else:
        out = {m: {"value": e2e[m], "unit": u} for m, u in E2E.items()}
    with open(stem + ".json", "w") as f:
        json.dump(result, f, indent=1)
    log(json.dumps({k: v for k, v in result.items() if k != "per_layer"}, indent=1))
    print(json.dumps(fp))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
