"""Deterministic fixed-point k-means (Lloyd's) as DataFrame iterations.

Why this exists next to pyspark.ml's KMeans (which IVF training uses):
float k-means is irreproducible across engines - and across RUNS -
because centroid means sum doubles in shuffle order and seeding is RNG
state. This variant makes every quantity an integer:

  * vectors fixed-pointed per element: floor(x * 1e6) (element-wise
    IEEE op, identical everywhere);
  * distances are integer folds (max |x_e6| ~ 5e6 over 64 dims keeps
    the squared-distance sum < 2^53, far inside BIGINT);
  * centroid update is exact integer floor-division of per-dim sums
    (Spark ``(s - pmod(s, n)) div n`` == DuckDB ``s // n`` - truncating
    ``div`` alone would disagree with floor on negative sums);
  * seeding is the ``n_cells`` vectors with the smallest
    (md5(id), id) - a deterministic hash rank, no RNG.

Every iteration is therefore a pure function of the input - retries,
partitioning, and engine cannot change a single centroid coordinate,
which is what lets the registry ORACLE-CHECK an iterative ML training
loop value-for-value (the one thing the pyspark.ml path can never do).

Scale: each iteration is one explode-free assignment pass (centroids
are literal arrays - n_cells x dim ints, metadata-sized) plus one
(cell, dim) aggregation. The only driver crossings are the seed rows
and the per-iteration centroid table (n_cells rows) - the same
centroid-sized crossing pyspark.ml's driver makes. Iterations are
sequential by definition; cost is iters x one-pass-over-corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_data_engineering_assignment_spark.functions.guards import valid_vector

SCALE = 1_000_000


def _fixpoint(vec_col):
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * SCALE).cast("long")
    )


def _sqdist(v, c):
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def kmeans_fixedpoint(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Run ``iters`` Lloyd rounds; return one row per cell:
    (cell, n_vectors, centroid) where centroid is the final
    array<bigint> of e6 fixed-point coordinates and n_vectors counts
    the final assignment against those centroids."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    # NULL vectors train nothing (NULL distance to every centroid),
    # and a NaN element would quantize to fixed-point 0 via the
    # non-ANSI integral cast - a corrupt vector silently pulling every
    # centroid toward the origin. A NULL ELEMENT is corrupt too, and
    # needs its own arm: F.exists IGNORES null elements (returns false,
    # measured round 9), so the vector would survive the isnan filter,
    # quantize to a NULL-holed array, take NULL distance to every
    # centroid (sorting FIRST under Spark's nulls-first asc vs LAST in
    # DuckDB) and poison centroid dimension sums. Same exclusion as
    # _det_base.
    # A NULL id is excluded with the corrupt vectors: the deterministic
    # seed order is (md5(vid), vid), and md5(NULL) sorts FIRST in Spark
    # but LAST in DuckDB - a NULL-id row would be a SEED in one engine
    # and not the other, diverging every centroid (round-10 NULL-PK
    # probe in test_clustering).
    v = df.filter(
        valid_vector(vec_col) & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("vid"), _fixpoint(F.col(vec_col)).alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seeds = (
            v.withColumn("_h", F.md5(F.col("vid").cast("string")))
            .orderBy("_h", "vid")
            .limit(n_cells)
            .collect()
        )
        centroids = [list(r["v"]) for r in seeds]
        if not centroids:
            # An empty centroid table silently served by a probe would
            # answer every query "no neighbors" - indistinguishable from
            # a correct miss. Fail the build loudly instead.
            raise ValueError(
                "kmeans_fixedpoint: empty input - cannot train on 0 "
                "vectors (did an upstream filter drop everything?)"
            )
        if len(centroids) < n_cells:
            # k-means with k > n points degenerates to one cell per
            # point; clamping (instead of indexing past the seed list)
            # keeps tiny slices - a dev sample, a sparse partition -
            # trainable with the same code path.
            n_cells = len(centroids)

        def assign(cents: list[list[int]]):
            # centroids ride a broadcast TABLE, not literals: the
            # assignment plan is byte-identical every round, so codegen
            # compiles it once (literal centroids re-compiled a large
            # expression tree per round - measured 4x the cost here).
            # Round-14: the per-vid argmin is min_by over the exact
            # (distance, cell) struct - lexicographic struct ordering
            # is the row_number orderBy (d asc, cell asc) it replaces,
            # so the chosen cell is identical. The plan is a
            # SortAggregate (the array grouping key and struct buffer
            # rule out hash aggregation) partial/final pair replacing
            # Sort+WindowGroupLimit x2+Window+Filter. Shuffle VOLUME was
            # already bounded before the change: the old plan's partial
            # WindowGroupLimit sat below the exchange and cut each vid
            # to ~1 row per map partition (see the committed
            # plans/r14/kmeans_assign_before.txt, node 9) - the win is
            # the removed SECOND sort/window pass above the exchange and
            # the simpler aggregate, measured -5.5% interleaved at
            # sf0.1 (OPTIMIZATION_r14.md; claim corrected per the
            # round-14 verdict).
            cent_df = spark.createDataFrame(
                [(ci, cents[ci]) for ci in range(len(cents))],
                "cell long, c array<bigint>",
            )
            pairs = v.crossJoin(F.broadcast(cent_df))
            return (
                pairs.select(
                    "vid",
                    "v",
                    _sqdist(F.col("v"), F.col("c")).alias("_d"),
                    "cell",
                )
                .groupBy("vid", "v")
                .agg(
                    F.min_by(
                        F.col("cell"), F.struct(F.col("_d"), F.col("cell"))
                    ).alias("cell")
                )
            )

        for _ in range(iters):
            sums = (
                assign(centroids)
                .select("cell", F.posexplode("v").alias("d", "val"))
                .groupBy("cell", "d")
                .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
                .select(
                    "cell",
                    "d",
                    # exact floor-div (truncating div alone would
                    # disagree with floor on negative sums)
                    F.expr("(s - pmod(s, n)) div n").alias("m"),
                )
            )
            rows = (
                sums.groupBy("cell")
                .agg(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("d", "m"))),
                        lambda s: s["m"],
                    ).alias("c")
                )
                .collect()
            )
            got = {int(r["cell"]): list(r["c"]) for r in rows}
            # empty cells keep their previous centroid
            centroids = [got.get(ci, centroids[ci]) for ci in range(n_cells)]

        final = assign(centroids)
        counts = final.groupBy("cell").agg(F.count("*").alias("n_vectors"))
        cent_df = spark.createDataFrame(
            [(ci, centroids[ci]) for ci in range(n_cells)],
            "cell long, centroid array<bigint>",
        )
        return (
            cent_df.join(counts, on="cell", how="left")
            .select(
                "cell",
                F.coalesce("n_vectors", F.lit(0)).cast("long").alias("n_vectors"),
                "centroid",
            )
        )
    finally:
        v.unpersist()


def _nearest_cells(frame: DataFrame, cells: DataFrame, n: int, out: str) -> DataFrame:
    """Rank the (tiny, broadcast) centroid table by exact integer
    squared distance for every row of ``frame`` (vid, v) and keep the
    ``n`` nearest: (out, cell). The centroid broadcast is a legitimate
    forced hint - n_cells rows, metadata-sized at any corpus."""
    from pyspark.sql import Window

    pairs = frame.crossJoin(F.broadcast(cells))
    w = Window.partitionBy("vid").orderBy(
        _sqdist(F.col("v"), F.col("c")).asc(), F.col("cell").asc()
    )
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .select("vid", "cell")
        .withColumnRenamed("vid", out)
    )


def _det_base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # NULL vectors cannot be trained on or assigned to a cell (their
    # distance to every centroid is NULL), a NaN element would
    # quantize to fixed-point 0 (non-ANSI cast) - a silently wrong
    # vector, not a filterable one - and a NULL element slips past the
    # isnan arm entirely (F.exists ignores null elements, measured) to
    # take NULL distances with engine-divergent NULL ordering. Exclude
    # all three up front rather than letting them ride the window with
    # arbitrary rank.
    # NULL ids are excluded like corrupt vectors: the seed order and
    # every ranked probe tie-break on vid, where engine NULL ordering
    # diverges (see kmeans_fixedpoint).
    return df.filter(
        valid_vector(vec_col) & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _fixpoint(F.col(vec_col)).alias("v"),
    )


def build_ivf_det_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Build the DETERMINISTIC IVF index - the expensive, run-once half
    of the fixed-point retrieval path. Returns ``(cells, corpus)``:
    cells is (cell, c array<bigint> e6 centroid) - n_cells rows,
    metadata-sized; corpus is (neighbor_id, cvec, _cn, cell) - every
    vector in its nearest deterministic cell with its L2 norm
    precomputed. Unlike ``similarity.build_ivf_index`` (pyspark.ml
    sampled k-means - RNG seeds, float shuffle-order sums), every
    quantity here is a pure function of the input, so a probe over the
    persisted index is value-hash reproducible cross-engine."""
    from pyspark_data_engineering_assignment_spark.functions.vectors import l2_norm

    cells = kmeans_fixedpoint(
        df, id_col=id_col, vec_col=vec_col, n_cells=n_cells, iters=iters
    ).select("cell", F.col("centroid").alias("c"))
    base = _det_base(df, id_col, vec_col)
    corpus = (
        _nearest_cells(base, cells, 1, "neighbor_id")
        .join(
            base.select(
                F.col("vid").alias("neighbor_id"),
                F.col("vec").alias("cvec"),
            ),
            on="neighbor_id",
        )
        .withColumn("_cn", l2_norm("cvec"))
    )
    return cells, corpus


def persist_ivf_det_index(df: DataFrame, path: str, **build_kwargs) -> None:
    """Materialize the deterministic IVF index as parquet under
    ``path``, idempotently (same marker discipline as
    ``similarity.persist_ivf_index``). The corpus is cell-partitioned
    so a probe's n_probe cells prune at the scan."""
    import os

    if os.path.exists(f"{path}/_SUCCESS_INDEX"):
        return
    cells, corpus = build_ivf_det_index(df, **build_kwargs)
    cells.write.mode("overwrite").parquet(f"{path}/centroids")
    corpus.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/corpus")
    with open(f"{path}/_SUCCESS_INDEX", "w") as fh:
        fh.write("ok\n")


def load_ivf_det_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Read a persisted deterministic IVF index: (cells, corpus)."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/corpus"),
    )


def probe_ivf_det(
    cells: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a deterministic IVF index - the cheap, run-per-request
    half: each query ranks the broadcast centroids by exact integer
    distance, probes its ``n_probe`` nearest cells (a hash join that
    dynamically prunes the cell-partitioned corpus scan), and ranks
    candidates by exact-fold cosine. No broadcast hint on the query
    side: per-request batches are tiny and AQE broadcasts them from
    size, but a forced hint would OOM if a backlog drains into one
    huge batch (same reasoning as similarity.probe_ivf, round 8)."""
    from pyspark.sql import Window

    from pyspark_data_engineering_assignment_spark.functions.vectors import (
        dot,
        l2_norm,
    )

    qbase = _det_base(queries, id_col, vec_col)
    probes = (
        _nearest_cells(qbase, cells, n_probe, "query_id")
        .join(
            qbase.select(F.col("vid").alias("query_id"), F.col("vec").alias("qvec")),
            on="query_id",
        )
        .withColumn("_qn", l2_norm("qvec"))
    )
    pairs = probes.join(corpus, on="cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot("qvec", "cvec") / (F.col("_qn") * F.col("_cn"))).alias(
            "cos"
        ),
    ).distinct()  # a neighbor reachable via two probed cells ranks once
    # ragged (dimension-mismatched) vectors dot to NULL even after the
    # _det_base null filter - same no-slot-for-corrupt-rows exclusion
    # as the float top-k operators
    scored = scored.filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_det_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """Deterministic IVF top-k: ``build_ivf_det_index`` +
    ``probe_ivf_det`` fused. Unlike the pyspark.ml-trained IVF (sampled
    k-means, RNG seeds), every stage - training, assignment, probing,
    ranking - is a pure function of the input, so the whole retrieval
    path is cross-engine reproducible (verified against DuckDB in
    tests/test_clustering.py). Same scale shape as the float IVF: the
    scan becomes a bucket-sized hash join on cell id."""
    cells, corpus = build_ivf_det_index(
        df, id_col=id_col, vec_col=vec_col, n_cells=n_cells, iters=iters
    )
    return probe_ivf_det(
        cells,
        corpus,
        queries,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
    )
