"""Approximate-nearest-neighbor search over an ``array<float>`` column.

Three strategies:

  * **Brute-force top-k** - broadcast the (small) query set, crossJoin,
    cosine in codegen, window top-k. Exact; at 100 TB this is the
    per-query-O(corpus) baseline you run for recall evaluation. The
    corpus side stays partitioned; nothing crosses the driver.
  * **LSH-bucketed top-k** - random-hyperplane signatures (sign of dot
    with deterministic pseudo-random planes) bucket the corpus; each
    query probes only its own bucket(s). Recall < 1, cost ~ bucket size.
    Data-independent (no training pass); planes are generated from a
    fixed seed so results are reproducible.
  * **IVF top-k** - coarse quantization: k-means cells learned from the
    corpus (``pyspark.ml`` KMeans), corpus partitioned by nearest cell,
    queries probe their ``n_probe`` nearest cells. Data-adaptive: on
    clustered embeddings (the realistic case) cells follow the density
    and recall beats data-independent LSH at equal probe cost. Needs the
    training pass LSH doesn't. The fit is a function of the rows and
    the seed alone: it does not depend on the host's core count or on
    the input's partition layout.

Embedding-cosine near-dup (corpus self-join) reuses the LSH buckets.
"""

from __future__ import annotations

import json
import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_data_engineering_assignment_spark.functions.guards import valid_vector

from pyspark_data_engineering_assignment_spark.functions.vectors import (
    dot,
    dot_sql,
    l2_norm,
)
from pyspark_data_engineering_assignment_spark.operators.sampling import hash_bucket


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos) with
    deterministic tie-break on neighbor id.

    Each side's L2 norm is hoisted to a per-row projection BELOW the
    join: per-pair work is then one dot product, not three array folds.
    O(pairs) -> O(rows) for the norm cost, and the per-value IEEE op
    sequence (dot / (sqrt_a * sqrt_b)) is unchanged, so the value-hash
    oracle stays exact."""
    # NULL ids are excluded on BOTH sides: a NULL query_id would merge
    # every id-less query into ONE rank partition (window null-grouping)
    # and a NULL neighbor_id is an unactionable result whose rank
    # placement at a cosine tie depends on engine NULL ordering. The
    # registered queries were already safe via their <> / < predicates;
    # this hardens the operator for exclude_self=False callers too.
    q = queries.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).withColumn("_qn", l2_norm("qvec"))
    c = corpus.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    ).withColumn("_cn", l2_norm("cvec"))
    pairs = F.broadcast(q).crossJoin(c)
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot("qvec", "cvec") / (F.col("_qn") * F.col("_cn"))).alias("cos"),
    )
    # A NULL or dimension-mismatched vector yields cos NULL (zip_with
    # pads the short side with NULLs); such a candidate must not occupy
    # a top-k slot - filter BEFORE ranking so real neighbors fill k.
    scored = scored.filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Quantized exact-scan top-k: both sides symmetric-int8 quantized
    (functions.vectors), scored by quantized cosine. The 4x-smaller
    corpus representation is the memory-bandwidth play of large-scale
    retrieval (a 100 TB float corpus becomes 25 TB of int8 codes; the
    scan is bandwidth-bound, so that IS the speedup) at a small,
    *measured* recall cost vs the float baseline (pinned in
    tests/test_quantization.py).

    Unlike every float ANN variant, the score is cross-engine
    EXACTLY reproducible, so this query carries a full value-hash
    oracle: quantized codes are integers, integer dot products and
    squared norms are <= 64*127^2 (exact in doubles in ANY summation
    order), per-vector scales cancel out of the quantized cosine, and
    the one division+sqrt per pair is elementwise IEEE math both
    engines perform identically.
    """
    from pyspark_data_engineering_assignment_spark.functions.vectors import (
        int8_scale,
        quantize_int8,
    )

    def _codes(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        # Materialize the scale, then the code array, at projection
        # boundaries: referenced inside per-element lambdas they would
        # re-derive the array_max / whole-code subtree per element.
        return (
            df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("_v"))
            .withColumn("_s", int8_scale(F.col("_v")))
            .select(
                out_id, quantize_int8(F.col("_v"), F.col("_s")).alias(out_vec)
            )
        )

    # NULL vectors (corrupt/missing rows) must not fall into the
    # otherwise(0.0) branch - a score of 0.0 would outrank every real
    # negative-cosine neighbor. Zero-NORM vectors legitimately score
    # 0.0; NULL vectors are excluded from candidacy entirely - BEFORE
    # quantization and BEFORE the join: an O(pairs)-level filter on the
    # code arrays re-inlines the quantization transform per pair
    # (CollapseProject), measured ~2x on this query's bench time.
    # NaN elements must be excluded HERE, not at the cos stage like the
    # float paths: the non-ANSI integral cast quantizes NaN to code 0,
    # so a corrupt vector would silently score as a legitimate-looking
    # neighbor instead of propagating a filterable NaN.
    # NULL elements get the same pre-join exclusion: F.exists ignores
    # them (measured), and a NULL-holed vector quantizes to NULL-holed
    # codes whose NULL dot would ride to the rank window as a NULL cos.
    # NULL ids excluded with the corrupt vectors on both sides (same
    # rank-partition / tie-placement hazard as brute_force_topk).
    _clean = lambda v: valid_vector(v) & F.col(id_col).isNotNull()  # noqa: E731
    q = _codes(
        queries.filter(_clean(vec_col)), "query_id", "qv"
    ).withColumn("qq2", dot("qv", "qv"))
    c = _codes(
        corpus.filter(_clean(vec_col)), "neighbor_id", "cv"
    ).withColumn("cc2", dot("cv", "cv"))
    pairs = F.broadcast(q).crossJoin(c)
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.when(
            (F.col("qq2") > 0) & (F.col("cc2") > 0),
            dot("qv", "cv")
            / F.sqrt(F.col("qq2") * F.col("cc2")),
        )
        .otherwise(F.lit(0.0))
        .alias("cos_int8"),
    )
    # dimension-mismatched codes dot to NULL (zip_with pads) - same
    # exclusion as the float path: no top-k slot for corrupt rows
    scored = scored.filter(F.col("cos_int8").isNotNull())
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_int8").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_int8", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _rh_signature(vec_col: str, planes: list[list[float]]):
    """Random-hyperplane LSH signature as one packed long per vector:
    bit i is set when the sequential-fold dot with plane i is > 0.

    One SQL expression over ONE ``array<array<double>>`` literal of the
    planes (``from_json`` of the JSON-dumped floats, which round-trip
    exactly; the optimizer folds it to a Literal), so the expression
    tree the analyzer walks does not grow with planes x dim. A NULL dot
    (NULL or ragged vector, NULL element) leaves its bit clear; a NaN
    dot sets it (NaN > 0 under Spark's NaN-is-greatest ordering)."""
    planes_lit = f"from_json('{json.dumps(planes)}', 'array<array<double>>')"
    bit = f"IF({dot_sql(f'`{vec_col}`', '_plane')} > 0, shiftleft(1L, _i), 0L)"
    return F.expr(
        f"aggregate(transform({planes_lit}, (_plane, _i) -> {bit}), "
        "0L, (_sig, _b) -> _sig + _b)"
    )


def _probe_buckets(sig, n_planes: int, probe_bits: int):
    """Multi-probe bucket list: the signature's own bucket plus every
    bucket within Hamming distance <= probe_bits (bit flips). Single-probe
    LSH has a recall cliff when a true neighbor sits just across one
    hyperplane; probing the 1-flip neighborhood recovers most of it for
    (n_planes + 1)x the bucket lookups - still nowhere near a scan."""
    buckets = [sig]
    if probe_bits >= 1:
        buckets += [
            sig.bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_planes)
        ]
    if probe_bits >= 2:
        buckets += [
            sig.bitwiseXOR(F.lit((1 << i) | (1 << j)).cast("long"))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return F.array(*buckets)


def recommended_n_planes(
    corpus_rows: int, target_occupancy: int = 8
) -> int:
    """Occupancy-scaled hyperplane count: 2^n_planes buckets sized so the
    expected bucket holds ~``target_occupancy`` vectors. Within-bucket
    work grows ~occupancy^2, so n_planes must grow ~log2(corpus) - the
    round-7 sf10 sweep measured the cliff directly: 200k vectors at the
    8-plane default (occupancy ~780) cost 1008s; 16 planes (occupancy
    ~3) cost 15.9s with ~98% of true near-dup pairs retained. Clamped to
    [4, 24]: fewer than 4 planes can't band, more than 2^24 buckets
    stops paying below ~10^9 vectors. The registered bench queries pin
    their plane count for oracle reproducibility; production callers
    pass ``n_planes=recommended_n_planes(corpus.count())``."""
    import math

    if corpus_rows <= 0:
        return 4
    return max(4, min(24, math.ceil(math.log2(max(corpus_rows / target_occupancy, 2)))))


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: compare only within the query's hyperplane
    bucket(s). 2^n_planes buckets; expected bucket size = corpus/2^n.
    Shuffle is a hash join on the bucket key, not a crossJoin. With
    ``probe_bits=1`` (default) each query also probes the n_planes
    buckets one bit-flip away - each corpus vector lives in exactly one
    bucket, so probes never duplicate a (query, neighbor) pair."""
    planes = _hyperplanes(dim, n_planes, seed)
    # NULL ids excluded on both sides (same rank-partition /
    # tie-placement hazard as brute_force_topk)
    corpus = corpus.filter(F.col(id_col).isNotNull())
    queries = queries.filter(F.col(id_col).isNotNull())
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _rh_signature(vec_col, planes).alias("bucket"),
    ).withColumn("_cn", l2_norm("cvec"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(
            _probe_buckets(_rh_signature(vec_col, planes), n_planes, probe_bits)
        ).alias("bucket"),
    ).withColumn("_qn", l2_norm("qvec"))
    pairs = F.broadcast(q).join(c, on="bucket")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    # norms hoisted below the join: one dot per candidate pair
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot("qvec", "cvec") / (F.col("_qn") * F.col("_cn"))).alias("cos"),
    )
    # A NULL or dimension-mismatched vector yields cos NULL (zip_with
    # pads the short side with NULLs); such a candidate must not occupy
    # a top-k slot - filter BEFORE ranking so real neighbors fill k.
    scored = scored.filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    train_fraction: float | None = None,
    max_iter: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Train the IVF coarse quantizer and assign the corpus - the
    EXPENSIVE, run-once half of IVF retrieval.

    1. train k-means centroids on the corpus (optionally a sample -
       at 100 TB you train on ~1e6 sampled vectors, never the full set;
       ``max_iter=5`` because coarse quantization needs approximate
       density-following cells, not converged clusters - measured at
       sf0.1: 3.6x faster fit for +0.6% training cost, same recall),
    2. assign every corpus vector to its nearest cell (one ml transform,
       distributed).

    The fit is independent of core count and partition layout. The
    sample keeps a row when a hash of its id and ``seed`` falls under
    ``train_fraction`` (``DataFrame.sample`` draws one RNG per
    partition); rows with a NULL id are not sampled. The training rows
    then go to ONE partition in ``(id_col, vec_col)`` order, because
    k-means|| initialisation seeds one RNG per partition and reads rows
    in partition order. So the fit runs in a single task, and
    ``train_fraction`` is what bounds its cost at scale.

    Returns ``(centroids, assigned)``: centroids is (cell, centroid
    array<double>) - n_cells rows, metadata-sized; assigned is
    (neighbor_id, cvec, cell, _cn) - the cell-partitioned corpus with
    per-row L2 norms precomputed. Both are plain DataFrames: persist
    them once (``persist_ivf_index``) and serve MANY query batches via
    ``probe_ivf`` without ever re-running the fit - the real 100 TB
    shape, where the index is built by a scheduled job and probed by
    every retrieval request thereafter.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    to_vec = array_to_vector(F.col(vec_col).cast("array<double>"))
    train = corpus.select(id_col, vec_col)
    if train_fraction:
        # Bernoulli keep keyed on the row's id: the same rows are kept
        # whatever the layout (DataFrame.sample draws per partition).
        buckets = 1 << 20
        bucket = hash_bucket(F.col(id_col), buckets, salt=f"ivf-train-{seed}")
        train = train.filter(bucket < train_fraction * buckets)
    # k-means|| seeds one RNG per partition and reads rows in partition
    # order, so the fit sees one partition in a fixed row order.
    train = (
        train.repartition(1)
        .sortWithinPartitions(id_col, vec_col)
        .select(to_vec.alias("features"))
    )
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="features", maxIter=max_iter
    ).fit(train)

    assigned = (
        model.transform(corpus.withColumn("features", to_vec))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            F.col("prediction").alias("cell"),
        )
        .withColumn("_cn", l2_norm("cvec"))
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        ["cell", "centroid"],
    )
    return centroids, assigned


def persist_ivf_index(
    corpus: DataFrame,
    path: str,
    **build_kwargs,
) -> None:
    """Materialize the IVF index (centroids + cell-assigned corpus) as
    parquet under ``path``, idempotently: if the index already exists
    the k-means fit is NOT re-run. ``load_ivf_index`` reads it back."""
    import os

    if os.path.exists(f"{path}/_SUCCESS_INDEX"):
        return
    centroids, assigned = build_ivf_index(corpus, **build_kwargs)
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    # cell-partitioned layout: a probe of n_probe cells scans only those
    # directories (partition pruning), the on-disk analog of the hash
    # join's bucket locality
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/assigned"
    )
    with open(f"{path}/_SUCCESS_INDEX", "w") as fh:
        fh.write("ok\n")


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Read a persisted IVF index: (centroids, assigned)."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/assigned"),
    )


def republish_ivf_index(
    corpus: DataFrame,
    base_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    audit_sample: int = 20,
    min_recall: float = 0.5,
    k: int = 5,
    n_probe: int = 4,
    **build_kwargs,
) -> str:
    """Write-audit-publish for the served index (same protocol as the
    batch WAP writer in sources/writers.py): BUILD a new index version
    under ``base_path/v=N``, AUDIT it (recall@k of the new index's probe
    vs exact brute force over ``audit_sample`` corpus queries - a bad
    quantizer fit must never reach readers), then PUBLISH by atomically
    rewriting the ``LATEST`` pointer (write-temp + os.replace). Readers
    (``resolve_ivf_index`` -> ``load_ivf_index``) always see either the
    old complete index or the new complete index, never a partial one;
    a failed audit raises and leaves ``LATEST`` untouched.

    Returns the published version path."""
    import os
    import tempfile

    spark = corpus.sparkSession
    versions = [
        int(d[2:])
        for d in (os.listdir(base_path) if os.path.isdir(base_path) else [])
        if d.startswith("v=") and d[2:].isdigit()
    ]
    new_path = f"{base_path}/v={max(versions, default=0) + 1}"
    persist_ivf_index(
        corpus, new_path, id_col=id_col, vec_col=vec_col, **build_kwargs
    )

    centroids, assigned = load_ivf_index(spark, new_path)
    audit_q = corpus.orderBy(id_col).limit(audit_sample)
    approx = probe_ivf(
        centroids, assigned, audit_q, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )
    exact = brute_force_topk(corpus, audit_q, k=k, id_col=id_col, vec_col=vec_col)

    def _topk(df):
        out: dict = {}
        for r in df.select("query_id", "neighbor_id").collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    ex, ap = _topk(exact), _topk(approx)
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    total = sum(len(v) for v in ex.values())
    recall = hits / max(total, 1)
    if recall < min_recall:
        raise ValueError(
            f"IVF index audit failed: recall@{k} = {recall:.3f} < "
            f"{min_recall} - NOT publishing {new_path}; LATEST unchanged"
        )

    fd, tmp = tempfile.mkstemp(dir=base_path, prefix=".latest_")
    with os.fdopen(fd, "w") as fh:
        fh.write(new_path + "\n")
    os.replace(tmp, f"{base_path}/LATEST")
    return new_path


def resolve_ivf_index(base_path: str) -> str:
    """Follow the ``LATEST`` pointer written by ``republish_ivf_index``."""
    with open(f"{base_path}/LATEST") as fh:
        return fh.read().strip()


def probe_ivf(
    centroids: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a prebuilt IVF index - the CHEAP, run-per-request half.

    3. each query ranks the (tiny, broadcast) centroid table by L2 and
       probes its ``n_probe`` nearest cells,
    4. hash-join queries x corpus on the cell id, cosine, window top-k.

    Pure DataFrame composition over the index frames: NO pyspark.ml
    import, no fit jobs (pinned in tests/test_similarity.py) - probing
    never pays the training cost again. Shuffle cost ~ corpus/n_cells x
    n_probe per query against a hash join."""
    l2sq = F.aggregate(
        F.zip_with(
            F.col("qvec").cast("array<double>"),
            F.col("centroid"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.col("_d2"), F.col("cell"))
    probed = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("_d2", l2sq)
        .withColumn("_pr", F.row_number().over(w_probe))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "qvec", "cell")
        .withColumn("_qn", l2_norm("qvec"))
    )
    # no broadcast hint on the probed side: per-request batches are
    # usually tiny and AQE broadcasts them from SIZE, but probe_ivf is
    # also fed by probe_ivf_stream's micro-batches, which are unbounded
    # (availableNow drains any backlog into one batch) - a forced
    # broadcast there is the same OOM-at-scale hazard round 7 removed
    # from nine registry queries. Un-hinted, a huge batch degrades
    # gracefully to a shuffled join; DPP on the cell-partitioned index
    # scan still fires (pinned in test_ivf_probe_scan_is_dynamically_
    # pruned).
    pairs = probed.join(assigned, on="cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    # norms hoisted below the join: one dot per candidate pair
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot("qvec", "cvec") / (F.col("_qn") * F.col("_cn"))).alias("cos"),
    )
    # same corrupt-candidate exclusion as brute_force_topk: NULL cos
    # (null/ragged vector on either side) never occupies a top-k slot
    scored = scored.filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    train_fraction: float | None = None,
    max_iter: int = 5,
) -> DataFrame:
    """One-shot IVF top-k: ``build_ivf_index`` + ``probe_ivf`` fused
    (kept for ad-hoc/bench use; a served index persists the build half
    once instead - see ``persist_ivf_index``)."""
    centroids, assigned = build_ivf_index(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        seed=seed,
        train_fraction=train_fraction,
        max_iter=max_iter,
    )
    return probe_ivf(
        centroids,
        assigned,
        queries,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    min_cosine: float = 0.95,
    probe_bits: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within LSH buckets (id_a < id_b).

    With ``probe_bits=1`` the left side of the self-join probes every
    bucket one bit-flip away, so a near-dup pair straddling a single
    hyperplane is still found. Each pair matches exactly once (the right
    side keeps its unique home bucket). Per-row L2 norms are hoisted
    below the join (r6): the ``cos >= min_cosine`` predicate lands
    inside the join, where an inlined cosine would re-fold BOTH norms
    per candidate pair - with the hoist each pair costs one dot."""
    planes = _hyperplanes(dim, n_planes, seed)
    d = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _rh_signature(vec_col, planes).alias("bucket"),
    ).withColumn("_n", l2_norm("vec"))
    a = d.select(
        "vid",
        "vec",
        "_n",
        F.explode(_probe_buckets(F.col("bucket"), n_planes, probe_bits)).alias("bucket"),
    ).alias("a")
    # shuffle_hash (not broadcast): a broadcast self-join materializes the
    # build side separately, recomputing every row's hyperplane signature;
    # shuffled, the two sides share one exchange - and the corpus side
    # could never broadcast at real scale anyway (same reasoning as the
    # MinHash band join, operators/dedup.py).
    b = d.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.vid") < F.col("b.vid"),
            ],
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            (
                dot("a.vec", "b.vec")
                / (F.col("a._n") * F.col("b._n"))
            ).alias("cos"),
        )
        # NaN >= min_cosine is TRUE under Spark's NaN-is-greatest
        # comparison semantics (and a NaN vector gets a valid LSH
        # bucket, since NaN dot > 0 is also true) - unguarded, one
        # corrupt vector emitted a "near-duplicate" pair with every
        # bucket-mate, and a dedup pipeline would then DELETE the real
        # documents it touched. NULL cos (null/ragged vectors) already
        # fails >= by three-valued logic; NaN needs the explicit arm.
        .filter((F.col("cos") >= min_cosine) & ~F.isnan("cos"))
    )
