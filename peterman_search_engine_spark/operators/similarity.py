"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force scan: one pass, no shuffle
  before the final TakeOrderedAndProject. The 100 TB baseline: a
  full-scan top-k is embarrassingly parallel and often the right
  answer for one-off queries.
* ``lsh_bucketed_topk`` — the scale path for repeated queries:
  random-hyperplane LSH signatures (deterministic integer planes so
  engine and SQL oracle agree bit-for-bit) bucket the corpus; a query
  probes only its own bucket. Bucket assignment is a pure projection
  (no shuffle); the probe prunes the scan to ~1/2^P of the data.

Dot products/norms use ``zip_with`` + ``aggregate`` — JVM higher-order
functions, no UDF, vectorized by codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.storage import read_table

NUM_PLANES = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.
    Returns (vec_id, cos double) ordered by (-cos, vec_id)."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    df = embeddings
    if exclude_ids:
        df = df.filter(~F.col(id_col).isin(exclude_ids))
    return (
        df.select(
            F.col(id_col).alias("vec_id"),
            cosine(F.col(vec_col), q).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def plane_component(p: int, i: int) -> int:
    """Deterministic integer hyperplane component in {-2..2}: plane p,
    dimension i. Shared with the SQL oracle — both engines compute the
    identical planes with integer arithmetic (no RNG, no floats)."""
    return ((p * 37 + i * 11) % 5) - 2


def _bucket_expr(vec_col: Column, dim: int, num_planes: int) -> Column:
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = F.array(
            *[F.lit(float(plane_component(p, i))) for i in range(dim)]
        )
        # sign test on the e6-rounded dot so the SQL oracle (whose SUM
        # order differs at ~1e-15) lands on the identical bucket
        bucket = bucket + F.when(
            F.round(_dot(vec_col, plane) * 1_000_000) > 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    return bucket


def embedding_neardup_pairs(
    embeddings: DataFrame,
    *,
    dim: int,
    threshold_e6: int = 300_000,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: the fifth dedup
    modality (after exact / MinHash-LSH / SimHash / n-gram Jaccard).

    Scale path: random-hyperplane LSH buckets (fewer planes than ANN —
    recall over precision for dedup) restrict the self-join to
    same-bucket pairs, keeping the candidate set ~|n|²/2^P instead of
    the full cross join; exact cosine then verifies each candidate.
    At 100 TB the bucket column is the repartition key, so the
    self-join is per-bucket-local. Returns (vec_a, vec_b, cos_e6) for
    candidate pairs with round(cos*1e6) >= threshold_e6, vec_a < vec_b.
    """
    # bucket rows CARRY their vector and its precomputed norm, so the
    # same-bucket self-join directly yields everything the exact
    # cosine needs: no join back to the embeddings table (at scale:
    # one bucket-keyed shuffle instead of three), norms computed once
    # per VECTOR instead of twice per PAIR, and only the pair dot
    # product is evaluated per candidate. Repartition spreads the
    # pair generation across tasks (a small parquet would otherwise
    # run the whole quadratic-per-bucket join in one task).
    nparts = embeddings.sparkSession.sparkContext.defaultParallelism
    buckets = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
        _bucket_expr(F.col(vec_col), dim, num_planes).alias("bucket"),
    ).repartition(nparts, "vec_id")
    a = buckets.alias("a")
    b = buckets.alias("b")
    scored = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(
            _dot(F.col("a.vec"), F.col("b.vec"))
            / (F.col("a.nrm") * F.col("b.nrm"))
            * 1_000_000
        )
        .cast("long")
        .alias("cos_e6"),
    )
    return scored.filter(F.col("cos_e6") >= threshold_e6).select(
        "vec_a", "vec_b", "cos_e6"
    )


def query_bucket(query_vec: list[float], num_planes: int = NUM_PLANES) -> int:
    """The LSH bucket of a literal query vector, computed driver-side
    from the deterministic integer planes — no Spark job."""
    qbucket = 0
    for p in range(num_planes):
        dot = sum(plane_component(p, i) * float(v) for i, v in enumerate(query_vec))
        if round(dot * 1_000_000) > 0:
            qbucket |= 1 << p
    return qbucket


def bucket_expr(vec_col: Column, dim: int, num_planes: int = NUM_PLANES) -> Column:
    """Public form of the signature expression (for fused probe scans
    and bucketed table writes)."""
    return _bucket_expr(vec_col, dim, num_planes)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    num_planes: int = NUM_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """ANN: restrict the exact scan to the query's LSH bucket.
    Returns (vec_id, cos double) ordered by (-cos, vec_id)."""
    dim = len(query_vec)
    qbucket = query_bucket(query_vec, num_planes)
    with_b = embeddings.withColumn(
        "_bucket", _bucket_expr(F.col(vec_col), dim, num_planes)
    ).filter(F.col("_bucket") == qbucket)
    return cosine_topk(
        with_b, query_vec, k=k, id_col=id_col, vec_col=vec_col, exclude_ids=exclude_ids
    )


def ivf_cells(
    embeddings: DataFrame,
    *,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer with a deterministic codebook: centroid c
    is the corpus vector with id c (c < n_cells) — no RNG, so engine
    and SQL oracle agree exactly. Cell = argmax e6-rounded cosine to a
    centroid, ties to the LOWEST centroid id. Returns (vec_id, cell).

    At 100 TB the cell id is the partition key of the vector table
    (write bucketed by cell); assignment is one broadcast join of the
    K-row codebook — embarrassingly parallel, no shuffle of vectors.
    """
    cents = F.broadcast(
        embeddings.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).cast("long").alias("cid"),
            F.col(vec_col).alias("cvec"),
            _norm(F.col(vec_col)).alias("cnorm"),
        )
    )
    scored = (
        embeddings.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("nrm"),
        )
        .crossJoin(cents)
        .select(
            "vec_id",
            "cid",
            F.round(
                _dot(F.col("vec"), F.col("cvec"))
                / (F.col("nrm") * F.col("cnorm"))
                * 1_000_000
            )
            .cast("long")
            .alias("cos_e6"),
        )
    )
    # argmax with lowest-cid tiebreak: max(struct(cos, -cid))
    return scored.groupBy("vec_id").agg(
        (-F.max(F.struct(F.col("cos_e6"), (-F.col("cid")).alias("ncid"))).getField(
            "ncid"
        )).alias("cell")
    )


def rank_cells(cent_rows, query_vec: list[float], *, vec_col: str = "cvec") -> list[tuple[int, int]]:
    """Driver-side centroid ranking shared by the recompute and
    persisted IVF probes: (-cos_e6, cid) ascending, i.e. best first.
    cent_rows is the collected K-row codebook (cid, <vec_col>)."""
    import math

    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    def _round_half_away(x: float) -> int:
        # match Spark F.round / SQL ROUND (half away from zero), NOT
        # Python's banker's rounding
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    return sorted(
        (
            (
                -_round_half_away(
                    1_000_000
                    * float(np.dot(np.asarray(r[vec_col], dtype=np.float64), q))
                    / (
                        float(np.linalg.norm(np.asarray(r[vec_col], dtype=np.float64)))
                        * qn
                    )
                ),
                r["cid"],
            )
            for r in cent_rows
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF probe: rank cells by centroid-to-query cosine (driver-side
    over the K-row codebook), scan the best ``n_probe`` cells only,
    exact cosine top-k within them. Returns (vec_id, cos double)
    ordered by (-cos, vec_id).

    Pass ``cells`` (a persisted (vec_id, cell) table from
    :func:`build_ivf`) to skip recomputing the assignment crossJoin per
    query — the build-once path; see :func:`ivf_topk_persisted` for the
    fully partition-pruned form over cell-partitioned storage."""
    cent_rows = (
        embeddings.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col).cast("long").alias("cid"), F.col(vec_col).alias("cvec"))
        .collect()
    )
    ranked = rank_cells(cent_rows, query_vec)
    probed = [cid for _, cid in ranked[:n_probe]]
    if cells is None:
        cells = ivf_cells(embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    cand = cells.filter(F.col("cell").isin(probed)).select("vec_id")
    if exclude_ids:
        cand = cand.filter(~F.col("vec_id").isin(exclude_ids))
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    # join FIRST (vec_id + vector only), score the survivors: cosine is
    # evaluated on the probed cells' rows, not the whole corpus
    return (
        embeddings.select(
            F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("_v")
        )
        .join(cand, "vec_id")
        .select("vec_id", cosine(F.col("_v"), qcol).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def build_ivf(
    embeddings: DataFrame,
    path: str,
    *,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF structure once per corpus (the ANN analogue
    of the index build — mirrors how WAND's block_meta is persisted):

    * ``{path}/vectors`` — (vec_id, embedding) PARTITIONED BY cell, so
      a probe reads only the ``n_probe`` matching directories
      (PartitionFilters in the scan, nothing else touched);
    * ``{path}/centroids`` — the K-row codebook the driver ranks.

    At 100 TB this is the bucketed-write path the ivf_cells docstring
    describes: assignment cost is paid ONCE at build (broadcast K-row
    codebook, no vector shuffle beyond the partitioned write), and
    every query is a partition-pruned scan."""
    cells = ivf_cells(embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    (
        embeddings.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        )
        .join(cells, "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )
    (
        embeddings.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col).cast("long").alias("cid"), F.col(vec_col).alias("cvec"))
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )


def ivf_topk_persisted(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    n_probe: int = 2,
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """IVF probe over a :func:`build_ivf` structure: centroid ranking
    driver-side (K rows), then ONE scan of the ``n_probe`` matching
    cell partitions (``cell IN (...)`` prunes directories — verify
    with PartitionFilters in .explain). Returns (vec_id, cos double)
    ordered by (-cos, vec_id)."""
    cent_rows = read_table(spark, f"{path}/centroids").collect()
    ranked = rank_cells(cent_rows, query_vec)
    probed = [cid for _, cid in ranked[:n_probe]]
    vecs = read_table(spark, f"{path}/vectors").filter(
        F.col("cell").isin(probed)
    )
    if exclude_ids:
        vecs = vecs.filter(~F.col("vec_id").isin(exclude_ids))
    return cosine_topk(vecs, query_vec, k=k)


def lsh_multiprobe_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    num_planes: int = NUM_PLANES,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Multi-probe LSH ANN (the probing idea of Lv et al., VLDB 2007,
    on hyperplane signatures): scan every bucket within Hamming
    distance <= ``radius`` of the query's signature instead of the
    single exact bucket. A true neighbor lands in the probe set iff it
    disagrees with the query on at most ``radius`` hyperplanes, so
    recall rises steeply with radius while the scanned fraction stays
    ~ sum_{j<=radius} C(num_planes, j) / 2^num_planes.

    The probe is ONE scan filter — ``bit_count(bucket XOR q) <=
    radius`` — so the plan stays a single pruned pass + cosine top-k;
    on bucket-partitioned storage a small radius instead enumerates
    the C(planes, <=radius) bucket ids for partition pruning — see
    :func:`lsh_multiprobe_enumerated_topk` (same results, IN-list
    probe) and :func:`build_lsh` + :func:`lsh_multiprobe_persisted`
    (the partition-pruned executable form).
    Returns (vec_id, cos double) ordered by (-cos, vec_id).

    radius=0 is exactly :func:`lsh_bucketed_topk`;
    radius=num_planes degenerates to the brute-force scan.
    """
    dim = len(query_vec)
    qbucket = query_bucket(query_vec, num_planes)
    with_b = embeddings.withColumn(
        "_bucket", _bucket_expr(F.col(vec_col), dim, num_planes)
    ).filter(
        F.bit_count(F.col("_bucket").bitwiseXOR(F.lit(qbucket)))
        <= F.lit(int(radius))
    )
    return cosine_topk(
        with_b, query_vec, k=k, id_col=id_col, vec_col=vec_col,
        exclude_ids=exclude_ids,
    )


def enumerate_probe_buckets(
    qbucket: int, num_planes: int = NUM_PLANES, radius: int = 1
) -> list[int]:
    """All bucket ids within Hamming distance <= radius of the query
    signature — C(planes, <=radius) ids, enumerated driver-side (pure
    integer arithmetic, no Spark job). This turns the multi-probe
    filter into ``bucket IN (...)``: on bucket-partitioned storage
    that's directory-level partition pruning instead of a full-column
    scan filter."""
    from itertools import combinations

    out: list[int] = []
    for r in range(radius + 1):
        for flips in combinations(range(num_planes), r):
            mask = 0
            for p in flips:
                mask |= 1 << p
            out.append(qbucket ^ mask)
    return sorted(out)


def lsh_multiprobe_enumerated_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    num_planes: int = NUM_PLANES,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Multi-probe LSH via explicit bucket-id enumeration: identical
    result set to :func:`lsh_multiprobe_topk` at the same radius, but
    the probe is an IN-list over the enumerated C(planes, <=radius)
    bucket ids — the form that partition-prunes on bucket-partitioned
    storage (:func:`build_lsh` + :func:`lsh_multiprobe_persisted`).
    Returns (vec_id, cos double) ordered by (-cos, vec_id)."""
    dim = len(query_vec)
    probe = enumerate_probe_buckets(
        query_bucket(query_vec, num_planes), num_planes, radius
    )
    with_b = embeddings.withColumn(
        "_bucket", _bucket_expr(F.col(vec_col), dim, num_planes)
    ).filter(F.col("_bucket").isin(probe))
    return cosine_topk(
        with_b, query_vec, k=k, id_col=id_col, vec_col=vec_col,
        exclude_ids=exclude_ids,
    )


def build_lsh(
    embeddings: DataFrame,
    path: str,
    *,
    dim: int,
    num_planes: int = NUM_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH structure once per corpus: (vec_id,
    embedding) PARTITIONED BY bucket. A radius-r probe then reads only
    the C(planes, <=r) matching directories — at 8 planes and r=1
    that's 9/256 of the partitions instead of a 42%-selectivity scan
    filter (the geometry SCALE.md §8 documents)."""
    (
        embeddings.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            _bucket_expr(F.col(vec_col), dim, num_planes).alias("bucket"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/vectors")
    )


def lsh_multiprobe_persisted(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    num_planes: int = NUM_PLANES,
    radius: int = 1,
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Multi-probe LSH over a :func:`build_lsh` structure: enumerate
    the probe bucket ids driver-side, scan ONLY those partitions
    (PartitionFilters in the scan), exact cosine top-k within.
    Returns (vec_id, cos double) ordered by (-cos, vec_id)."""
    probe = enumerate_probe_buckets(
        query_bucket(query_vec, num_planes), num_planes, radius
    )
    vecs = read_table(spark, f"{path}/vectors").filter(
        F.col("bucket").isin(probe)
    )
    if exclude_ids:
        vecs = vecs.filter(~F.col("vec_id").isin(exclude_ids))
    return cosine_topk(vecs, query_vec, k=k)
