"""Deterministic synthetic link graph over doc_ids (FIXTURES.md §4).

Shape of the reference's ``id-graph.tsv`` (``IcsSearchEngine.java:67``):
``edges(src int, dst int)``. Generated arithmetically (no RNG needed —
pure column expressions, fully distributed, reproducible at any scale)
with a designated high-in-degree hub at node 0, the analogue of the
reference corpus's wics.ics.uci.edu hub
(``IcsSearchEnginePageRankTest.java:70-77``).

Every node d emits edges: d -> (d*7+1) % n, d -> (d*13+3) % n, and
d -> 0 when d % 5 == 0 (the hub). Self-loops are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def generate_edges(spark: SparkSession, n_nodes: int) -> DataFrame:
    ids = spark.range(n_nodes).select(F.col("id").cast("int").alias("src"))
    e1 = ids.select("src", ((F.col("src") * 7 + 1) % n_nodes).cast("int").alias("dst"))
    e2 = ids.select("src", ((F.col("src") * 13 + 3) % n_nodes).cast("int").alias("dst"))
    e3 = ids.filter(F.col("src") % 5 == 0).select("src", F.lit(0).cast("int").alias("dst"))
    return e1.unionAll(e2).unionAll(e3).filter(F.col("src") != F.col("dst")).distinct()


def read_id_graph(spark: SparkSession, path: str) -> DataFrame:
    """Q14 input parity: read the reference's ``id-graph.tsv`` format —
    whitespace-separated ``src dst`` int pairs, one edge per line
    (``IcsSearchEngine.java:67-82``). Malformed/blank lines are
    dropped, matching the reference's silent skip of short lines."""
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return (
        lines.filter(F.size(parts) >= 2)
        .select(
            F.element_at(parts, 1).cast("int").alias("src"),
            F.element_at(parts, 2).cast("int").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
