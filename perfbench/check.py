"""Answer checks against the package's pure-Python oracle.

Ranked results must match the oracle's top-k on e6-rounded scores with
the (score desc, doc_id asc) order; boolean and phrase results must
match its doc sets exactly. Scores that tie after rounding may be
ordered either way by the last bits of a float sum, so docs tied at
e6 may come in any order, and a tie that straddles the k-th place may
keep any of the tied docs.
"""

from __future__ import annotations

from peterman_search_engine_spark.oracle.pyoracle import OracleIndex


def e6(x: float) -> int:
    return int(round(x * 1_000_000))


def ranked_ok(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> bool:
    want = sorted(((-e6(s), d) for d, s in scores.items()))[:k]
    if len(got) != len(want):
        return False
    got_e6 = [(e6(s), d) for d, s in got]
    if [-w for w, _ in want] != [s for s, _ in got_e6]:
        return False  # score sequence (and so the order) differs
    if len({d for _, d in got_e6}) != len(got_e6):
        return False
    if any(d not in scores or e6(scores[d]) != s for s, d in got_e6):
        return False  # a doc carries the wrong score
    if not want:
        return True
    edge = -want[-1][0]
    return {d for s, d in got_e6 if s > edge} == {d for w, d in want if -w > edge}


class LiveOracle(OracleIndex):
    """Oracle for an index that still holds superseded (tombstoned)
    docs. Term statistics count every doc the index physically holds,
    as the engine's do until compaction; doc count and average length
    count only live docs; tombstoned docs never appear in a result."""

    def __init__(self, present: list[tuple[int, str]], live: set[int]):
        super().__init__(present)
        self.live = live
        self.n_docs = len(live)
        self.avg_len = sum(self.doc_len[d] for d in live) / len(live)

    def bm25_scores(self, terms):
        return {d: s for d, s in super().bm25_scores(terms).items() if d in self.live}


def check_op(oracle: OracleIndex, op: str, args, got, k: int) -> bool:
    if op in ("search_bm25", "bm25_topk_wand"):
        return ranked_ok(got, oracle.bm25_scores(args), k)
    if op == "search_tfidf":
        return ranked_ok(got, oracle.tfidf_scores(args), k)
    if op == "batch_bm25_topk":
        per_q: dict[int, list[tuple[int, float]]] = {q: [] for q in args}
        for q, d, s in got:
            if q not in per_q:
                return False
            per_q[q].append((d, s))
        return all(
            ranked_ok(sorted(per_q[q], key=lambda t: (-t[1], t[0])),
                      oracle.bm25_scores(terms), k)
            for q, terms in args.items()
        )
    if op == "search_and":
        return sorted(got) == oracle.search_and(args)
    if op == "search_or":
        return sorted(got) == oracle.search_or(args)
    if op == "search_phrase":
        return sorted(got) == oracle.search_phrase(args)
    raise ValueError(f"unknown op {op}")
