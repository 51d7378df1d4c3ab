"""Deterministic rare-AND-common corpus for the WAND winning regime.

Block-max WAND + MaxScore pays off on queries mixing high-df low-idf
terms with a rare high-scoring term — the canonical web-query shape
("the best zeolite supplier"). The reference never exercises this
regime (its JUnit corpora are tiny); this generator synthesises it at
a size where the pruned plan's cost gate opens on REAL statistics
(sum of df over the query terms >= ``DEFAULT_PRUNE_MIN_ENTRIES``),
so the bench A/B measures the shipped configuration, not a tweaked
knob.

Shape (all pseudo-randomness is ``xxhash64`` over the doc id — fully
deterministic, partitioning-invariant, no RNG):

- ``n_hot`` common terms ``hot0..hot{n-1}``; term j appears in doc d
  iff ``xxhash64(d, j) % 2 == 0`` (df ~= n_docs/2 each, idf ~= ln 2)
  with tf 2 on a 1/8 subsample, else 1.
- one rare term ``zq`` with tf 8 in docs ``d % rare_every == 0`` for
  ``d < rare_span`` — df = rare_span/rare_every, clustered in the low
  doc_id range the way crawl ordering clusters topical sites. Its
  idf*tf score dominates, so the top-k threshold theta exceeds the
  sum of every common term's max-score: MaxScore classifies all the
  hot terms non-essential and candidate generation decodes only the
  rare term's few blocks.
- three filler terms per doc from a 5000-word tail vocabulary, so
  doc lengths and the dictionary are non-degenerate.

The exhaustive plan must explode ~n_hot * n_docs/2 postings and
aggregate scores for every doc; the pruned plan touches block
metadata plus ~df(zq) candidates. That asymmetry IS the regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.storage import read_table

RARE_TERM = "zq"


def regime_query(n_hot: int = 8) -> list[str]:
    """The rare-AND-common benchmark query."""
    return [RARE_TERM] + [f"hot{j}" for j in range(n_hot)]


def generate_rare_common_corpus(
    spark: SparkSession,
    n_docs: int = 2_600_000,
    *,
    n_hot: int = 8,
    rare_every: int = 250,
    rare_span: int = 500_000,
    partitions: int = 32,
) -> DataFrame:
    """(doc_id, text) rare-AND-common corpus; see module docstring.

    Pure Column expressions over ``spark.range`` — generation is
    embarrassingly parallel and identical under any partitioning.
    """
    df = spark.range(0, n_docs, 1, partitions).select(
        F.col("id").alias("doc_id")
    )
    parts: list = []
    for j in range(n_hot):
        h = F.xxhash64(F.col("doc_id"), F.lit(j))
        parts.append(
            F.when(
                h % 2 == 0,
                F.when(
                    h % 16 == 0, F.lit(f"hot{j} hot{j}")
                ).otherwise(F.lit(f"hot{j}")),
            )
        )
    parts.append(
        F.when(
            (F.col("doc_id") % rare_every == 0)
            & (F.col("doc_id") < rare_span),
            F.lit(" ".join([RARE_TERM] * 8)),
        )
    )
    for i in range(3):
        parts.append(
            F.concat(
                F.lit(f"f{i}x"),
                F.pmod(
                    F.xxhash64(F.col("doc_id"), F.lit(100 + i)), F.lit(5000)
                ).cast("string"),
            )
        )
    return df.select(
        "doc_id", F.concat_ws(" ", *parts).alias("text")
    )


def build_regime_index(
    spark: SparkSession,
    work_dir: str,
    n_docs: int = 2_600_000,
    *,
    n_hot: int = 8,
    partitions: int = 32,
    rare_every: int = 250,
    rare_span: int = 500_000,
) -> "InvertedIndex":
    """Build the regime index via the zero-shuffle aligned path.

    ``spark.range`` output is already the aligned-build invariant
    (contiguous doc_ids, range-partitioned), so segment = input
    partition and the build needs no exchange at any scale. Postings,
    doc_stats and term_stats land as parquet under ``work_dir`` (the
    same shape ``plans.checkpoint`` persists), and the returned
    :class:`InvertedIndex` reads them back so query plans get real
    scan pushdown rather than recomputing lineage.
    """
    from ..functions.analysis import tokens_expr
    from ..operators.indexer import (
        DEFAULT_BLOCK_SIZE,
        InvertedIndex,
        postings_from_aligned_corpus,
    )

    # disk-back the generated corpus (it is scanned twice below);
    # localCheckpoint would pin tens of millions of rows on the heap
    # at study sizes, parquet costs one cheap columnar write
    generate_rare_common_corpus(
        spark, n_docs, n_hot=n_hot, partitions=partitions,
        rare_every=rare_every, rare_span=rare_span,
    ).write.mode("overwrite").parquet(f"{work_dir}/corpus")
    corpus = read_table(spark, f"{work_dir}/corpus")
    corpus.select(
        "doc_id", F.size(tokens_expr("text")).alias("doc_len")
    ).write.mode("overwrite").parquet(f"{work_dir}/doc_stats")
    doc_stats = read_table(spark, f"{work_dir}/doc_stats")
    avg_len = float(doc_stats.agg(F.avg("doc_len")).collect()[0][0] or 0.0)
    postings_from_aligned_corpus(
        corpus, avg_len=avg_len, stem=False, positional=False
    ).write.mode("overwrite").parquet(f"{work_dir}/postings")
    postings = read_table(spark, f"{work_dir}/postings")
    postings.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    ).write.mode("overwrite").parquet(f"{work_dir}/term_stats")
    index = InvertedIndex(
        postings=postings,
        term_stats=read_table(spark, f"{work_dir}/term_stats"),
        doc_stats=doc_stats,
        n_docs=n_docs,
        avg_len=avg_len,
        positional=False,
        stem=False,
        block_size=DEFAULT_BLOCK_SIZE,
    )
    # persist the narrow block-metadata relation like plans.checkpoint
    # does: WAND's metadata jobs then scan |postings|/block_size tiny
    # rows instead of re-deriving block ranges from the wide posting
    # arrays on every evaluation
    from ..operators.wand import block_meta_df

    block_meta_df(index).write.mode("overwrite").parquet(
        f"{work_dir}/block_meta"
    )
    index.block_meta = read_table(spark, f"{work_dir}/block_meta")
    return index
