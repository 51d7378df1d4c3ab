"""Deletion-neighborhood dictionary index for fuzzy / spelling queries
(the SymSpell construction; Lucene reaches the same goal with an FST).

``query.search_fuzzy`` / ``query.suggest_spelling`` scan the FULL
term dictionary with a JVM ``levenshtein`` per query — one narrow
metadata-sized job, fine at tested scales, but linear per query at a
10^8-term dictionary. This module trades one-time index expansion for
per-query pruning:

* **Build** (once): every dictionary term emits its ≤ ``max_dist``
  deletion variants (pure JVM array exprs — no Python). Soundness:
  if ``lev(a, b) <= d`` then the aligned common subsequence is
  reachable from BOTH by at most ``d`` deletions, so
  ``dels_d(a) ∩ dels_d(b) != ∅`` — the variant join yields a strict
  SUPERSET of the edit ball, and an exact ``levenshtein`` verify on
  the (tiny) candidate set restores the precise contract. Results are
  therefore identical to the full-scan operators — same oracle SQL.
* **Query**: the misspelling's own deletion variants are generated
  driver-side (O(len^max_dist) strings, ~500 for len 12 / d 2), and
  the candidate fetch is ``variant IN (...)`` — parquet predicate
  pushdown instead of a full dictionary scan. When the index is
  PERSISTED it is partitioned by a driver-computable md5 bucket of
  the variant, so the scan also partition-prunes to the query
  variants' buckets (the same pattern as the persisted multiprobe
  LSH, ``similarity.py``): a query touches |query-variant buckets| /
  n_buckets of the expansion bytes.

Scale: the expansion is the classic SymSpell trade — ~Σ_t C(|t|,≤d)
rows (two orders of magnitude over the dictionary, still metadata
next to postings), built in one map-only pass, no shuffle until the
final optional re-partition by bucket.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.session import local_frame
from ..plans.storage import read_table
from .indexer import InvertedIndex
from .query import (
    DEFAULT_MAX_EXPANSIONS,
    _docs_for_terms,
    _live,
)

DEFAULT_SPELL_BUCKETS = 64


def deletion_variants_expr(col: Column, max_dist: int) -> Column:
    """``array<string>`` of every string reachable from ``col`` by at
    most ``max_dist`` single-character deletions (the term itself
    included), distinct. Pure JVM array lambdas — runs inside
    whole-stage codegen boundaries, no Python in the build path."""

    def _dels(v: Column) -> Column:
        idxs = F.when(
            F.length(v) >= 1, F.sequence(F.lit(1), F.length(v))
        ).otherwise(F.expr("array()"))
        return F.transform(
            idxs,
            lambda i: F.concat(
                v.substr(F.lit(1), i - F.lit(1)),
                v.substr(i + F.lit(1), F.length(v)),
            ),
        )

    out = F.array(col)
    frontier = F.array(col)
    for _ in range(max_dist):
        frontier = F.array_distinct(F.flatten(F.transform(frontier, _dels)))
        out = F.concat(out, frontier)
    return F.array_distinct(out)


def query_deletion_variants(q: str, max_dist: int) -> list[str]:
    """Driver-side mirror of :func:`deletion_variants_expr` for the
    (single, short) query term."""
    out = {q}
    frontier = {q}
    for _ in range(max_dist):
        frontier = {
            v[:i] + v[i + 1:] for v in frontier for i in range(len(v))
        }
        out |= frontier
    return sorted(out)


def _py_bucket(variant: str, n_buckets: int) -> int:
    return int(hashlib.md5(variant.encode()).hexdigest()[:4], 16) % n_buckets


def _bucket_expr(col: Column, n_buckets: int) -> Column:
    # md5 is computable identically driver-side (hashlib) and JVM-side
    # — xxhash64 is not, and the partition-pruning filter must be
    # derivable on the driver without a Spark job
    return (
        F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).cast("int")


@dataclass
class SpellIndex:
    """Handle to a deletion-neighborhood dictionary expansion:
    ``df`` = (variant, term, df [, bucket])."""

    df: DataFrame
    max_dist: int
    n_buckets: int | None = None  # set iff persisted bucket-partitioned


def build_spell_index(
    index: InvertedIndex,
    *,
    max_dist: int = 2,
    out_dir: str | None = None,
    n_buckets: int = DEFAULT_SPELL_BUCKETS,
) -> SpellIndex:
    """Derive the deletion-neighborhood expansion of the dictionary.

    In-memory form (``out_dir=None``): a derived DataFrame — one
    map-only pass over the metadata-sized term_stats, no shuffle.
    Persisted form: written partitioned by the md5 variant bucket so
    query reads partition-prune (`PartitionFilters`), the layout a
    10^8-term dictionary needs."""
    spell = index.term_stats.select(
        "term",
        "df",
        F.explode(
            deletion_variants_expr(F.col("term"), max_dist)
        ).alias("variant"),
    ).select("variant", "term", "df")
    if out_dir is None:
        return SpellIndex(df=spell, max_dist=max_dist)
    spark = index.term_stats.sparkSession
    spell.withColumn("bucket", _bucket_expr(F.col("variant"), n_buckets)) \
        .write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
    with open(os.path.join(out_dir, "_spell_meta.json"), "w") as f:
        json.dump({"max_dist": max_dist, "n_buckets": n_buckets}, f)
    return load_spell_index(spark, out_dir)


def load_spell_index(spark: SparkSession, out_dir: str) -> SpellIndex:
    with open(os.path.join(out_dir, "_spell_meta.json")) as f:
        meta = json.load(f)
    return SpellIndex(
        df=read_table(spark, out_dir),
        max_dist=meta["max_dist"],
        n_buckets=meta["n_buckets"],
    )


def spell_candidates(spell: SpellIndex, term: str) -> DataFrame:
    """(term, df, dist) for dictionary terms sharing a deletion variant
    with ``term`` — a SUPERSET of the lev<=max_dist ball, each row
    carrying the exact distance for the caller's filter. The scan is
    pruned: ``bucket IN`` (persisted partition pruning) +
    ``variant IN`` (parquet predicate pushdown / hash lookup)."""
    q = term.strip().lower()
    qv = query_deletion_variants(q, spell.max_dist)
    d = spell.df
    if spell.n_buckets:
        bks = sorted({_py_bucket(v, spell.n_buckets) for v in qv})
        d = d.filter(F.col("bucket").isin(bks))
    return (
        d.filter(F.col("variant").isin(qv))
        .select("term", "df")
        .distinct()
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
    )


def suggest_spelling_indexed(
    spell: SpellIndex, term: str, *, max_dist: int = 2, top_k: int = 5
) -> DataFrame:
    """Exactly :func:`query.suggest_spelling` — (term, df, dist),
    (dist asc, df desc, term asc), self excluded — served from the
    deletion-neighborhood index instead of a full dictionary scan.
    Same oracle SQL (sqlgen.sql_spell_correct)."""
    if max_dist > spell.max_dist:
        raise ValueError(
            f"index built for max_dist={spell.max_dist}, asked {max_dist}"
        )
    q = term.strip().lower()
    spark = spell.df.sparkSession
    if not q:
        return local_frame(spark, [], "term string, df long, dist int")
    return (
        spell_candidates(spell, q)
        .filter((F.col("dist") <= max_dist) & (F.col("term") != q))
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(top_k)
    )


def search_fuzzy_indexed(
    index: InvertedIndex,
    spell: SpellIndex,
    term: str,
    max_dist: int = 1,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> DataFrame:
    """Exactly :func:`query.search_fuzzy` — docs containing ANY term
    within ``max_dist`` (query term itself included) — with the
    dictionary expansion served from the pruned neighborhood index.
    Falls back to the fully-distributed posting-scan predicate past
    ``max_expansions`` (same guarantee as the full-scan operator)."""
    if max_dist > spell.max_dist:
        raise ValueError(
            f"index built for max_dist={spell.max_dist}, asked {max_dist}"
        )
    q = term.strip().lower()
    spark = index.postings.sparkSession
    if not q:
        return local_frame(spark, [], "doc_id long")
    cand = spell_candidates(spell, q).filter(F.col("dist") <= max_dist)
    terms = [
        r["term"] for r in cand.select("term").limit(max_expansions + 1).collect()
    ]
    if len(terms) <= max_expansions:
        return _docs_for_terms(index, sorted(terms))
    # edit ball wider than the cap: keep the driver bounded — the
    # levenshtein predicate moves onto the posting scan (distributed)
    p = index.postings.filter(
        F.levenshtein(F.col("term"), F.lit(q)) <= max_dist
    )
    return _live(index, p.select(F.explode("doc_ids").alias("doc_id")).distinct())
