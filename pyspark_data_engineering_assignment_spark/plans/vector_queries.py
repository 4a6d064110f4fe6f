"""Registry entries: similarity search over ``embeddings``.

The cosine determinism contract (see functions/vectors.py): double-cast
before multiply, sequential left fold - bit-identical to the DuckDB
``list_reduce(list_transform(...))`` oracle (0 mismatches / 1500 pairs
verified), so even the FP similarity column hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_data_engineering_assignment_spark.functions.guards import valid_vector

from pyspark_data_engineering_assignment_spark.functions.vectors import dot, l2_norm
from pyspark_data_engineering_assignment_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_bucketed_topk,
)
from pyspark_data_engineering_assignment_spark.plans.registry import register, _t, _ts

# DuckDB double-domain cosine, bit-identical to functions.vectors.cosine
_DUCK_COS = """
     list_reduce(list_transform(list_zip({a}, {b}),
        l -> CAST(l[1] AS DOUBLE) * CAST(l[2] AS DOUBLE)), (x, y) -> x + y)
     / (sqrt(list_reduce(list_transform({a},
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
        * sqrt(list_reduce(list_transform({b},
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))
"""


@register(
    "ann_cosine_topk",
    f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_DUCK_COS.format(a="a.embedding", b="b.embedding")} AS cos
        FROM embeddings a, embeddings b
        WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored WHERE cos IS NOT NULL AND NOT isnan(cos))
    WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 for 10 query vectors: broadcast "
    "queries x corpus, codegen cosine, window top-k. The exact-recall "
    "baseline for the LSH variant.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _ts(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "ann_int8_topk",
    None,
    doc="Quantized retrieval (operators/similarity.int8_topk): corpus "
    "and queries symmetric-int8 quantized (4x smaller codes - at 100 TB "
    "the scan is memory-bandwidth-bound, so the compression IS the "
    "speedup), scored by quantized cosine with recall vs the float "
    "baseline pinned in tests/test_quantization.py. The first ANN "
    "variant that carried a full value-hash oracle: integer codes make every "
    "dot product and squared norm exact in any summation order, scales "
    "cancel out of the quantized cosine, and the single division+sqrt "
    "per pair is elementwise IEEE math both engines perform "
    "identically. Driver-window neutral (local_oracle).",
    local_oracle="""
    WITH v AS (
        -- mirrors int8_topk's pre-join _clean filter: NULL vectors,
        -- NaN-bearing and NULL-holed vectors are excluded from
        -- candidacy BEFORE quantization (a NaN would otherwise ride
        -- NaN-is-greatest through scale/codes/cos to rank 1)
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND NOT list_contains(list_transform(embedding,
                  x -> isnan(CAST(x AS DOUBLE))), true)
          AND NOT list_contains(list_transform(embedding,
                  x -> x IS NULL), true)
    ),
    s AS (
        SELECT vec_id, xs,
               CASE WHEN list_aggregate(list_transform(xs, x -> abs(x)), 'max')
                         > 0.0
                    THEN 127.0 / list_aggregate(list_transform(xs, x -> abs(x)),
                                                'max')
                    ELSE 0.0 END AS scale
        FROM v
    ),
    codes AS (
        SELECT vec_id,
               list_transform(xs, x -> greatest(-127.0, least(127.0,
                   floor(x * scale + 0.5)))) AS cv
        FROM s
    ),
    normed AS (
        SELECT vec_id, cv,
               list_reduce(list_transform(cv, x -> x * x), (x, y) -> x + y)
                   AS n2
        FROM codes
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CASE WHEN q.n2 > 0 AND c.n2 > 0 THEN
                    list_reduce(list_transform(list_zip(q.cv, c.cv),
                                               l -> l[1] * l[2]),
                                (x, y) -> x + y)
                    / sqrt(q.n2 * c.n2)
               ELSE 0.0 END AS cos_int8
        FROM normed q, normed c
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos_int8, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_int8 DESC, neighbor_id)
                        AS rank
          FROM scored WHERE cos_int8 IS NOT NULL)
    WHERE rank <= 5
    """,
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.similarity import int8_topk

    emb = _ts(spark, sf_dir, "embeddings")
    return int8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "embedding_norms",
    None,
    doc="Vector column hygiene: per-row L2 norm + dimension check, "
    "pure map work. Driver slot ceded round 5 (vector-math evidence "
    "redundant with label_centroid_dims); strict parity via "
    "local_oracle.",
    local_oracle="""
    SELECT vec_id, label,
           sqrt(list_reduce(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
             AS l2_norm,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        l2_norm("embedding").alias("l2_norm"),
        F.size("embedding").alias("dim"),
    )


@register(
    "label_centroid_dims",
    None,
    doc="Per-label centroid ingredients - the aggregation shape of "
    "k-means/IVF coarse quantization. Components are fixed-pointed "
    "(floor(x*1e8), exact element-wise IEEE ops) so the sum is integer "
    "arithmetic, order-independent across engines. Corrupt vectors "
    "(NULL, NaN element, NULL element) are excluded on BOTH sides: a "
    "NaN dim would fix-point to 0 in Spark (measured, even under ANSI) "
    "but crash DuckDB's NaN->BIGINT cast, and either way a corrupt row "
    "must not count toward a label's centroid.",
    local_oracle="""
    SELECT label, count(*) AS n_vectors,
           CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 100000000) AS BIGINT))
                AS BIGINT) AS sum_dim1_e8,
           CAST(sum(CAST(floor(CAST(embedding[2] AS DOUBLE) * 100000000) AS BIGINT))
                AS BIGINT) AS sum_dim2_e8
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND NOT list_contains(list_transform(embedding,
              x -> isnan(CAST(x AS DOUBLE))), true)
      AND NOT list_contains(list_transform(embedding,
              x -> x IS NULL), true)
    GROUP BY 1
    """,
)
def label_centroid_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(valid_vector("embedding"))

    def fixpoint(i: int):
        return F.floor(F.col("embedding")[i].cast("double") * 100000000).cast("long")

    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum(fixpoint(0)).cast("long").alias("sum_dim1_e8"),
        F.sum(fixpoint(1)).cast("long").alias("sum_dim2_e8"),
    )

def _duck_plane_dot(plane: list[float], vec: str = "embedding") -> str:
    """DuckDB fold of vec . plane with the plane embedded as exact
    round-trip double literals - bit-identical to functions.vectors.dot
    against F.lit(plane) (same element order, same left fold)."""
    lits = ", ".join(f"{x:.17e}" for x in plane)
    return (
        f"list_reduce(list_transform(list_zip({vec}, [{lits}]), "
        "l -> CAST(l[1] AS DOUBLE) * CAST(l[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def _lsh_topk_oracle(n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(dim, n_planes, seed)
    sig_expr = "\n             + ".join(
        f"CASE WHEN {_duck_plane_dot(p)} > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    masks = ", ".join(str(m) for m in [0] + [1 << i for i in range(n_planes)])
    nrm = (
        "sqrt(list_reduce(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    )
    return f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               CAST({sig_expr} AS BIGINT) AS bucket,
               {nrm} AS nrm
        FROM embeddings
    ),
    q AS (
        SELECT s.vec_id AS query_id, s.embedding AS qvec, s.nrm AS qn,
               xor(s.bucket, CAST(m.mask AS BIGINT)) AS bucket
        FROM sig s, unnest([{masks}]) AS m(mask)
        WHERE s.vec_id < 10
    ),
    pairs AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_reduce(list_transform(list_zip(q.qvec, c.embedding),
                   l -> CAST(l[1] AS DOUBLE) * CAST(l[2] AS DOUBLE)),
                   (x, y) -> x + y)
               / (q.qn * c.nrm) AS cos
        FROM q JOIN sig c ON q.bucket = c.bucket
        WHERE q.query_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM pairs)
    WHERE rank <= 5
    """


@register(
    "ann_lsh_topk",
    None,
    doc="LSH-bucketed approximate top-k (random hyperplanes, seed=42, "
    "1-bit multi-probe): the scale path - each query probes n_planes+1 "
    "buckets instead of the corpus. Value-hash oracle-checked "
    "(upgraded from rows-only): the hyperplanes are deterministic "
    "Python-generated literals embedded in BOTH the Spark plan and the "
    "generated DuckDB SQL (17-sig-digit round-trip floats), and every "
    "float op is a sequential left fold, so signatures, probed "
    "buckets, cosines and ranks are all bit-identical cross-engine. "
    "Recall@5 vs brute force additionally measured in "
    "tests/test_similarity.py (0.18 single-probe -> 0.64 with 1-bit "
    "probing -> 0.94 with 2-bit on random gaussians). Driver-window "
    "neutral (local_oracle).",
    local_oracle=_lsh_topk_oracle(),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)




def _embedding_neardup_oracle(
    n_planes: int = 8, dim: int = 64, seed: int = 42, min_cosine: float = 0.9
) -> str:
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(dim, n_planes, seed)
    sig_expr = "\n             + ".join(
        f"CASE WHEN {_duck_plane_dot(p)} > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    masks = ", ".join(str(m) for m in [0] + [1 << i for i in range(n_planes)])
    nrm = (
        "sqrt(list_reduce(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    )
    return f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               CAST({sig_expr} AS BIGINT) AS bucket,
               {nrm} AS nrm
        FROM embeddings
    ),
    a AS (
        SELECT s.vec_id AS id_a, s.embedding AS va, s.nrm AS na,
               xor(s.bucket, CAST(m.mask AS BIGINT)) AS bucket
        FROM sig s, unnest([{masks}]) AS m(mask)
    )
    SELECT a.id_a, b.vec_id AS id_b,
           list_reduce(list_transform(list_zip(a.va, b.embedding),
               l -> CAST(l[1] AS DOUBLE) * CAST(l[2] AS DOUBLE)),
               (x, y) -> x + y)
           / (a.na * b.nrm) AS cos
    FROM a
    JOIN sig b ON a.bucket = b.bucket AND a.id_a < b.vec_id
    WHERE list_reduce(list_transform(list_zip(a.va, b.embedding),
              l -> CAST(l[1] AS DOUBLE) * CAST(l[2] AS DOUBLE)),
              (x, y) -> x + y)
          / (a.na * b.nrm) >= {min_cosine}
      AND NOT isnan(list_reduce(list_transform(list_zip(a.va, b.embedding),
              l -> CAST(l[1] AS DOUBLE) * CAST(l[2] AS DOUBLE)),
              (x, y) -> x + y)
          / (a.na * b.nrm))
    """


def _embedding_neardup_scaled_oracle(
    max_planes: int = 24,
    dim: int = 64,
    seed: int = 42,
    min_cosine: float = 0.9,
    target_occupancy: int = 8,
) -> str:
    """Oracle for the OCCUPANCY-SCALED twin: n_planes is derived from
    count(*) INSIDE the SQL (same clamp/ceil/log2 law as
    similarity.recommended_n_planes - both sides are IEEE doubles, so
    the derived width matches bit-for-bit at any sf). The signature is
    computed once over the full ``max_planes`` hyperplane family and
    masked to the derived width - valid because _hyperplanes(dim, n)
    is a PREFIX of _hyperplanes(dim, max_planes) (one sequential RNG),
    so plane i's bit is identical at every width."""
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(dim, max_planes, seed)
    sig_expr = "\n             + ".join(
        f"CASE WHEN {_duck_plane_dot(p)} > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    nrm = (
        "sqrt(list_reduce(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
    )
    cos = (
        "list_reduce(list_transform(list_zip(a.va, b.embedding), "
        "l -> CAST(l[1] AS DOUBLE) * CAST(l[2] AS DOUBLE)), "
        "(x, y) -> x + y) / (a.na * b.nrm)"
    )
    return f"""
    WITH np AS (
        SELECT GREATEST(4, LEAST({max_planes},
               CAST(ceil(log2(GREATEST(count(*) / {float(target_occupancy)!r},
                                        2.0))) AS BIGINT))) AS n
        FROM embeddings
    ),
    sig AS (
        SELECT vec_id, embedding,
               CAST({sig_expr} AS BIGINT)
                 & ((CAST(1 AS BIGINT) << CAST((SELECT n FROM np) AS INT)) - 1)
                 AS bucket,
               {nrm} AS nrm
        FROM embeddings
    ),
    a AS (
        SELECT s.vec_id AS id_a, s.embedding AS va, s.nrm AS na,
               xor(s.bucket,
                   CASE WHEN m.i = 0 THEN CAST(0 AS BIGINT)
                        ELSE (CAST(1 AS BIGINT) << CAST(m.i - 1 AS INT))
                   END) AS bucket
        FROM sig s, unnest(range(0, {max_planes + 1})) AS m(i)
        WHERE m.i <= (SELECT n FROM np)
    )
    SELECT a.id_a, b.vec_id AS id_b, {cos} AS cos
    FROM a
    JOIN sig b ON a.bucket = b.bucket AND a.id_a < b.vec_id
    WHERE {cos} >= {min_cosine} AND NOT isnan({cos})
    """


@register(
    "embedding_neardup",
    None,
    doc="Embedding-cosine near-duplicate pairs (cos >= 0.9) within LSH "
    "buckets, 1-bit multi-probe on the self-join's left side - "
    "OCCUPANCY-SCALED by default (round 12): n_planes = "
    "recommended_n_planes(corpus.count()) (operators/similarity.py), "
    "so bucket occupancy stays ~8 and within-bucket pair work stays "
    "~linear in the corpus. The previous fixed-8-plane default was the "
    "registry's ONE measured superlinear plan (EXPONENTS_r11_close: "
    "e=1.565/decade, 917s at sf10; occupancy-scaled twin e=0.78, 22x "
    "faster at sf10 with ~98% pair retention per the round-7 sweep) - "
    "it is demoted to the test-only bit-exactness/recall baseline "
    "embedding_neardup_fixedplane below, the same pattern as the "
    "uncapped ngram_jaccard_neardup. The oracle derives the SAME width "
    "from count(*) in SQL and masks a 24-plane signature family "
    "(prefix property of the sequential RNG), so the query stays "
    "value-hash checked at EVERY sf. The corpus count is one "
    "metadata-sized driver crossing, same class as pyspark.ml's. "
    "Planted-near-dup detection additionally tested in "
    "tests/test_similarity.py (distinguishes '0 rows because no "
    "near-dups exist' from broken). Driver-window neutral "
    "(local_oracle).",
    local_oracle=_embedding_neardup_scaled_oracle(),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        recommended_n_planes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    n_planes = recommended_n_planes(emb.count())
    return embedding_near_duplicates(emb, n_planes=n_planes, min_cosine=0.9)


def embedding_neardup_fixedplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-8-plane near-dup baseline - UNREGISTERED since round 12.

    This was the registered ``embedding_neardup`` plan through round
    11: 8 pinned hyperplanes = 256 buckets, so occupancy grows linearly
    with the corpus and in-bucket pair work ~occupancy^2 - the
    registry's one measured superlinear plan (e=1.565/decade, 916.7s at
    sf10, EXPONENTS_r11_close.json). Kept ONLY as the test-time
    bit-exactness/recall baseline for the occupancy-scaled registered
    query (tests/test_similarity.py proves the scaled plan retains its
    pairs at bench sf; tests/test_oracle_parity.py keeps it value-hash
    checked vs _embedding_neardup_oracle at sf0.001/0.01), mirroring
    how the uncapped ngram_jaccard_neardup is retained."""
    return embedding_near_duplicates(
        _t(spark, sf_dir, "embeddings"), min_cosine=0.9
    )


@register(
    "ann_ivf_topk",
    None,
    doc="IVF approximate top-k: k-means coarse quantization "
    "(pyspark.ml, seed=42), corpus partitioned by nearest cell, queries "
    "probe their 4 nearest of 16 cells. Data-adaptive counterpart to "
    "ann_lsh_topk. Rows-only check; recall@5 vs brute force measured in "
    "tests/test_similarity.py. The shipped plan SAMPLE-trains the "
    "centroids (train_fraction=0.2 at bench SF): coarse quantization "
    "needs density-following cells, not a converged fit, so the k-means "
    "pass must never scan the full corpus - at 100 TB you'd set the "
    "fraction to yield ~1e6 training vectors. The fit is independent of "
    "core count and partition layout: the sample is a hash of the vector "
    "id, and the fit reads one id-ordered partition in a single task, so "
    "train_fraction is what bounds its cost at scale.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.similarity import ivf_topk

    emb = _ts(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, train_fraction=0.2)


def _ivf_index_path(
    sf_dir: str, params: str = "", scratch_root: str | None = None
) -> str:
    """Per-corpus cache location for the persisted IVF index.

    Keyed by a CONTENT fingerprint of the embeddings parquet (every
    file's name, size and mtime), not by the sf_dir string: a
    path-keyed cache silently serves a stale index if the embeddings
    at that path are ever regenerated (persist_ivf_index skips rebuild
    whenever _SUCCESS_INDEX exists). The fingerprint also folds in the
    caller's build ``params`` string AND the source of the quantizer
    code itself (kmeans_fixedpoint / build_ivf_det_index) — changing
    n_cells/iters or any training logic must miss the cache, otherwise
    the query serves results from the OLD quantizer while the SQL
    oracle recomputes with the new one and the gate reds on correct
    code. Lives under the repo's own ``.scratch`` dir, not the
    world-shared tempdir, so another local user can't pre-plant or
    tamper with a predictable /tmp path. Stale fingerprints (older
    data/params/code) are pruned keep-last-4 by mtime so the cache
    can't grow one full corpus copy per regeneration.

    ``scratch_root`` overrides the cache parent dir (tests use a
    tmpdir so exercising the pruning can't touch the real cache)."""
    import hashlib
    import inspect
    import os
    import shutil

    from pyspark_data_engineering_assignment_spark.operators import clustering

    src = os.path.join(sf_dir, "embeddings.parquet")
    h = hashlib.md5(os.path.abspath(src).encode())
    h.update(params.encode())
    code = hashlib.md5(
        inspect.getsource(clustering.kmeans_fixedpoint).encode()
        + inspect.getsource(clustering.build_ivf_det_index).encode()
    ).hexdigest()
    h.update(inspect.getsource(clustering.kmeans_fixedpoint).encode())
    h.update(inspect.getsource(clustering.build_ivf_det_index).encode())
    file_stats = []
    if os.path.isdir(src):
        for name in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, name))
            h.update(f"|{name}:{st.st_size}:{st.st_mtime_ns}".encode())
            file_stats.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        h.update(f"|{st.st_size}:{st.st_mtime_ns}".encode())
        file_stats.append(f"{st.st_size}:{st.st_mtime_ns}")
    if scratch_root is None:
        repo_root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        scratch_root = os.path.join(repo_root, ".scratch", "ivf_cache")
    scratch = scratch_root
    os.makedirs(scratch, exist_ok=True)
    fp = h.hexdigest()[:16]
    current = os.path.join(scratch, f"ivf_index_{fp}")

    # Diagnosability sidecar (round-13 verdict task #3: the committed
    # bench re-paid the build with clustering.py untouched, and nobody
    # could tell WHY from artifacts). Record the fingerprint's inputs so
    # a future miss is attributable by diffing two sidecars: in the r13
    # case, file_stats (the driver regenerates /root/testdata each
    # round, bumping mtime_ns) - the stat-based key is DELIBERATELY
    # conservative (a false miss re-pays the build; a false hit would
    # serve a stale index against a fresh oracle and red the gate), so
    # one rebuild per driver round is the designed cost, not a bug.
    import json as _json

    try:
        with open(
            os.path.join(scratch, f"fp_inputs_{fp}.json"), "w"
        ) as fh:
            _json.dump(
                {
                    "abspath": os.path.abspath(src),
                    "params": params,
                    "quantizer_code_md5": code,
                    "file_stats": file_stats,
                },
                fh,
            )
    except OSError:
        pass  # sidecar is best-effort; the cache itself is unaffected

    # Prune stale fingerprints - concurrency-safe (round-8 ADVICE low):
    #  * the fingerprint token is matched EXACTLY (``ivf_index_<fp>`` or
    #    ``ivf_index_<fp>_<variant>``), not by string prefix, so the
    #    current query's own variant dirs (e.g. the ``_det`` suffix the
    #    probe query appends) are protected by construction;
    #  * mtime is read through a missing-path-tolerant key - a dir
    #    deleted by a CONCURRENT pruner between listdir and stat must
    #    not turn this one's sort into FileNotFoundError;
    #  * only dirs untouched for > 1h are eligible: keep-last-N alone
    #    could delete an index another live session is actively probing
    #    the moment a 4th fingerprint appears.
    def _token(name: str) -> str:
        rest = name[len("ivf_index_"):]
        return rest.split("_", 1)[0]

    def _mtime(path: str) -> float:
        try:
            return os.path.getmtime(path)
        except OSError:
            return 0.0

    import time as _time

    cutoff = _time.time() - 3600.0
    stale = sorted(
        (
            os.path.join(scratch, d)
            for d in os.listdir(scratch)
            if d.startswith("ivf_index_") and _token(d) != fp
        ),
        key=_mtime,
    )
    for old in stale[:-3]:  # keep the 3 most recent besides current
        if _mtime(old) < cutoff:
            shutil.rmtree(old, ignore_errors=True)
            # the pruned fingerprint's diagnostic sidecar goes with it
            try:
                os.remove(
                    os.path.join(
                        scratch,
                        f"fp_inputs_{_token(os.path.basename(old))}.json",
                    )
                )
            except OSError:
                pass
    # Refresh the grace window on every cache HIT: a session probing a
    # >1h-old index never bumps its mtime by reading, so without the
    # touch a 4th fingerprint in ANOTHER session could prune the index
    # mid-probe (round-9 ADVICE low). Touch every dir carrying the live
    # token - the ``_det`` variant sibling is the dir the probe query
    # actually reads. os.utime is missing-path-tolerant like the rest
    # of the prune machinery.
    for d in os.listdir(scratch):
        if d.startswith("ivf_index_") and _token(d) == fp:
            try:
                os.utime(os.path.join(scratch, d))
            except OSError:
                pass
    return current


_KMEANS_DIST = (
    "list_reduce(list_transform(list_zip(v.v, c.c), "
    "l -> (l[1]-l[2])*(l[1]-l[2])), (x, y) -> x + y)"
)


def _kmeans_train_ctes(
    n_cells: int, iters: int, dim: int, scale: int
) -> tuple[str, str]:
    """Shared DuckDB CTE chain for the deterministic fixed-point
    k-means (mirrors operators/clustering.kmeans_fixedpoint): returns
    ``(cte_sql, final_centroid_table)``. Used by both the training
    oracle (_kmeans_oracle) and the det-IVF probe oracle."""
    dist = _KMEANS_DIST
    parts = [
        f"""
    WITH v AS (
        -- mirrors the Spark-side corrupt-vector exclusion
        -- (clustering._det_base / kmeans_fixedpoint): NULL vectors,
        -- vectors with a NaN element, and vectors with a NULL element
        -- train nothing and get no cell. The NULL-element arm is
        -- separate ON BOTH SIDES: Spark's exists(vec, isnan) IGNORES
        -- null elements (measured round 9), so the isnan arm alone
        -- would let a NULL-holed vector through
        SELECT vec_id AS vid, embedding,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
                   AS v
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND NOT list_contains(list_transform(embedding,
                  x -> isnan(CAST(x AS DOUBLE))), true)
          AND NOT list_contains(list_transform(embedding,
                  x -> x IS NULL), true)
          -- NULL ids excluded like corrupt vectors: the seed order
          -- (md5(vid), vid) diverges on engine NULL placement
          -- (mirrors clustering.kmeans_fixedpoint / _det_base)
          AND vec_id IS NOT NULL
    ),
    c0 AS (
        SELECT CAST(rn - 1 AS BIGINT) AS cell, v AS c FROM (
            SELECT vid, v, row_number() OVER (
                ORDER BY md5(CAST(vid AS VARCHAR)), vid) AS rn
            FROM v) AS seeded
        WHERE rn <= {n_cells}
    )"""
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(
            f""",
    a{t} AS (
        SELECT vid, v, cell FROM (
            SELECT v.vid, v.v, c.cell,
                   row_number() OVER (PARTITION BY v.vid
                                      ORDER BY {dist}, c.cell) AS rk
            FROM v, {prev} c) AS ranked
        WHERE rk = 1
    ),
    s{t} AS (
        SELECT cell, i, CAST(sum(v[i]) AS BIGINT) AS s, count(*) AS n
        FROM a{t}, unnest(range(1, {dim + 1})) d(i)
        GROUP BY 1, 2
    ),
    m{t} AS (
        -- exact FLOOR division (DuckDB // truncates HUGEINT toward
        -- zero): subtract the positive mod, then the division is exact
        SELECT cell,
               list(CAST((s - (((s % n) + n) % n)) // n AS BIGINT)
                    ORDER BY i) AS c
        FROM s{t} GROUP BY 1
    ),
    c{t} AS (
        SELECT p.cell, COALESCE(m{t}.c, p.c) AS c
        FROM {prev} p LEFT JOIN m{t} ON p.cell = m{t}.cell
    )"""
        )
        prev = f"c{t}"
    return "".join(parts), prev


def _kmeans_oracle(
    n_cells: int = 8, iters: int = 3, dim: int = 64, scale: int = 1_000_000
) -> str:
    """Unrolled DuckDB Lloyd iterations mirroring
    operators/clustering.kmeans_fixedpoint: every quantity an integer,
    so three rounds of training hash-match value-for-value."""
    ctes, prev = _kmeans_train_ctes(n_cells, iters, dim, scale)
    dist = _KMEANS_DIST
    return (
        ctes
        + f""",
    fin AS (
        SELECT vid, cell FROM (
            SELECT v.vid, c.cell,
                   row_number() OVER (PARTITION BY v.vid
                                      ORDER BY {dist}, c.cell) AS rk
            FROM v, {prev} c) AS ranked
        WHERE rk = 1
    )
    SELECT c.cell, CAST(COALESCE(n.n, 0) AS BIGINT) AS n_vectors,
           array_to_string(c.c, ',') AS centroid_e6_csv
    FROM {prev} c
    LEFT JOIN (SELECT cell, count(*) AS n FROM fin GROUP BY 1) n
      ON c.cell = n.cell"""
    )


def _ivf_det_probe_oracle(
    n_cells: int = 8,
    iters: int = 3,
    n_probe: int = 2,
    k: int = 5,
    dim: int = 64,
    scale: int = 1_000_000,
    max_query_id: int = 10,
) -> str:
    """Full deterministic-IVF retrieval oracle: training (shared CTEs),
    corpus assignment, query probing and cosine ranking are ALL
    reproduced in DuckDB - possible because every stage of
    clustering.build_ivf_det_index/probe_ivf_det is a pure function of
    the input (the pyspark.ml float IVF can never be checked this way:
    RNG seeds + shuffle-order float sums). Same construction as
    tests/test_clustering.py's end-to-end oracle."""
    ctes, prev = _kmeans_train_ctes(n_cells, iters, dim, scale)
    dist = _KMEANS_DIST
    cos = (
        "list_reduce(list_transform(list_zip(q.qvec, t.cvec), "
        "l -> CAST(l[1] AS DOUBLE) * CAST(l[2] AS DOUBLE)), (x, y) -> x + y)"
        " / (q.qn * t.cn)"
    )
    return (
        ctes
        + f""",
    nrm AS (
        SELECT vid, embedding, v,
               sqrt(list_reduce(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   (x, y) -> x + y)) AS n2
        FROM v
    ),
    corpus AS (
        SELECT vid AS neighbor_id, embedding AS cvec, n2 AS cn, cell FROM (
            SELECT v.vid, v.embedding, v.n2, c.cell,
                   row_number() OVER (PARTITION BY v.vid
                                      ORDER BY {dist}, c.cell) AS rk
            FROM nrm v, {prev} c) AS ranked
        WHERE rk = 1
    ),
    probes AS (
        SELECT vid AS query_id, embedding AS qvec, n2 AS qn, cell FROM (
            SELECT v.vid, v.embedding, v.n2, c.cell,
                   row_number() OVER (PARTITION BY v.vid
                                      ORDER BY {dist}, c.cell) AS rk
            FROM nrm v, {prev} c
            WHERE v.vid < {max_query_id}) AS ranked
        WHERE rk <= {n_probe}
    ),
    scored AS (
        -- the NULL/NaN-cos arm mirrors probe_ivf_det's post-dot filter
        -- (ragged vectors dot to NULL; NaN inputs are excluded in v)
        SELECT DISTINCT q.query_id, t.neighbor_id, {cos} AS cos
        FROM probes q JOIN corpus t ON q.cell = t.cell
        WHERE q.query_id <> t.neighbor_id
          AND {cos} IS NOT NULL AND NOT isnan({cos})
    )
    SELECT query_id, neighbor_id, cos, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) AS r
    WHERE rank <= {k}"""
    )


@register(
    "ann_ivf_probe_topk",
    None,
    doc="IVF probe over a PREBUILT, persisted index - the served-"
    "retrieval shape. ann_ivf_topk retrains its quantizer inside every "
    "invocation, which is the right cost model for an ad-hoc query but "
    "the wrong one for a reused index: at 100 TB the index is built by "
    "ONE scheduled job and probed by every retrieval batch thereafter. "
    "This entry materializes the DETERMINISTIC index once per corpus "
    "fingerprint (clustering.persist_ivf_det_index: idempotent, "
    "cell-partitioned parquet so a probe's n_probe cells prune at the "
    "scan - DPP pinned in test_plan_hygiene) and serves queries via "
    "probe_ivf_det - pure DataFrame composition, zero fit jobs on the "
    "probe path. Upgraded round 8 from rows-only to a FULL value-hash "
    "local oracle: the fixed-point quantizer makes training, "
    "assignment, probing and ranking exactly reproducible in SQL "
    "(_ivf_det_probe_oracle), something the float pyspark.ml index "
    "(ann_ivf_topk, still rows-only) can never offer. The float WAP "
    "lifecycle (persist/load/probe/republish + KMeans.fit-raises pin) "
    "remains fully covered in tests/test_similarity.py and the "
    "streaming twin. Driver-window neutral (local_oracle).",
    local_oracle=_ivf_det_probe_oracle(),
)
def ann_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.clustering import (
        load_ivf_det_index,
        persist_ivf_det_index,
        probe_ivf_det,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = _ivf_index_path(sf_dir, params="det:n_cells=8,iters=3") + "_det"
    persist_ivf_det_index(emb, path, n_cells=8, iters=3)
    cells, corpus = load_ivf_det_index(spark, path)
    return probe_ivf_det(
        cells, corpus, emb.filter(F.col("vec_id") < 10), k=5, n_probe=2
    )


@register(
    "label_standardized_embeddings",
    None,
    doc="Per-label z-score whitening of embeddings via applyInPandas "
    "(grouped-map: the normalization needs each label's full "
    "distribution, inexpressible per-row). Rows-only at the DRIVER "
    "gate only because DuckDB cannot replay float32 z-scores "
    "bit-exactly (parallel double summation is order-unstable); "
    "locally the check is STRONGER than the SQL gate: since the "
    "round-9 in-UDF sort made the output a pure function of group "
    "content, tests/test_grouped.py pins BIT-exact equality against "
    "a pure-numpy replay on the real sf0.01 table, plus zero-mean/"
    "unit-variance moments and partitioning invariance. Output is "
    "posexploded to one scalar row per (vec_id, dim) - driver "
    "harnesses sort-canonicalize cells and cannot sort array cells, "
    "so no registered query emits arrays.",
)
def label_standardized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.grouped import (
        standardize_embeddings_by_label,
    )

    return standardize_embeddings_by_label(
        _t(spark, sf_dir, "embeddings")
    ).select(
        "vec_id",
        "label",
        F.posexplode("embedding_std").alias("dim", "value_std"),
    )


@register(
    "conversion_lag_stats",
    """
    WITH p AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT DISTINCT user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id,
           count(*) AS n_purchases,
           count(c.click_ts) AS n_attributed,
           quantile_cont(epoch_us(p.ts) - epoch_us(c.click_ts), 0.5) / 1000000.0
               AS median_lag_seconds
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
    GROUP BY 1
    """,
    doc="Per-user purchase-to-latest-prior-click lag statistics, "
    "re-expressed on the JVM as-of path: as_of_join (union-tag-window, "
    "ONE shuffle - proven against DuckDB's ASOF JOIN by "
    "purchase_asof_click) aligns each purchase with the user's latest "
    "click at-or-before it, then a plain groupBy computes the stats. "
    "Replaces the round-3 cogrouped-applyInPandas plan (6.3s at sf0.1, "
    "an Arrow/Python boundary where a JVM composition fits); the "
    "cogroup variant survives as the tested API demo "
    "(operators/grouped.py conversion_lag_stats, tests/test_grouped.py). "
    "The median is hash-exact across engines: lags are INTEGER "
    "microseconds, and interpolated median over integers is "
    "(a+b)/2 with both halves < 2^53 - exact IEEE in Spark's "
    "percentile and DuckDB's quantile_cont - before a single shared "
    "division by 1e6.",
)
def conversion_lag_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.temporal import as_of_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .distinct()
    )
    aligned = as_of_join(
        purchases, clicks, ["user_id"], "ts", "click_ts", ["click_ts"]
    )
    lag_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts"))
    return aligned.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.count("click_ts").alias("n_attributed"),
        (F.percentile(lag_us, F.lit(0.5)) / F.lit(1000000.0)).alias(
            "median_lag_seconds"
        ),
    )


@register(
    "embedding_quantization_error",
    None,
    doc="Symmetric int8 scalar quantization quality report per label "
    "(functions.vectors.int8_scale/int8_recon_err2_e12): the compression "
    "step an embedding store runs before ANN serving, with its "
    "reconstruction error surfaced as fixed-point integers. Every "
    "lossy step is elementwise IEEE double math (floor(x*scale+0.5) "
    "round-half-up in both engines - round() itself disagrees on "
    "half-even vs half-up), so the per-element floor(err^2 * 1e12) "
    "BIGINTs aggregate order-independently and the oracle matches by "
    "hash, not tolerance. Pure map work + one hash-agg; no shuffle "
    "before the final label aggregate.",
    local_oracle="""
    WITH v AS (
        -- corrupt vectors (NULL / NaN element / NULL element) are
        -- excluded on BOTH sides: in Spark a NaN error term would
        -- fix-point to 0 (silently understating the error), in DuckDB
        -- the NaN->BIGINT cast crashes outright
        SELECT label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND NOT list_contains(list_transform(embedding,
                  x -> isnan(CAST(x AS DOUBLE))), true)
          AND NOT list_contains(list_transform(embedding,
                  x -> x IS NULL), true)
    ),
    s AS (
        SELECT label, xs,
               CASE WHEN list_aggregate(list_transform(xs, x -> abs(x)), 'max')
                         > 0.0
                    THEN 127.0 / list_aggregate(list_transform(xs, x -> abs(x)),
                                                'max')
                    ELSE 0.0 END AS scale
        FROM v
    ),
    e AS (
        SELECT label,
               list_transform(xs, x -> CAST(floor(
                   CASE WHEN scale > 0.0
                        THEN (x - greatest(-127.0, least(127.0,
                                 floor(x * scale + 0.5))) / scale)
                           * (x - greatest(-127.0, least(127.0,
                                 floor(x * scale + 0.5))) / scale)
                        ELSE 0.0 END * 1e12) AS BIGINT)) AS errs
        FROM s
    )
    SELECT label, count(*) AS n_vecs,
           CAST(sum(list_aggregate(errs, 'sum')) AS BIGINT) AS sum_err2_e12,
           CAST(max(list_aggregate(errs, 'max')) AS BIGINT) AS max_err2_e12
    FROM e GROUP BY 1
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.functions.vectors import (
        int8_recon_err2_e12,
        int8_scale,
    )

    # corrupt vectors out (mirrors the oracle's WHERE): a NaN error
    # term would fix-point to 0 and silently understate the report
    emb = _ts(spark, sf_dir, "embeddings").filter(valid_vector("embedding"))
    # Materialize scale as a column FIRST: referenced inside the
    # per-element lambda it would otherwise re-derive the array_max
    # subtree per element (O(d^2) work per row).
    scaled = emb.select(
        "label", "embedding", int8_scale(F.col("embedding")).alias("s")
    )
    errs = int8_recon_err2_e12(F.col("embedding"), F.col("s"))
    per_row = scaled.select(
        "label",
        F.aggregate(
            errs, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("row_sum"),
        F.array_max(errs).alias("row_max"),
    )
    return per_row.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("row_sum").cast("long").alias("sum_err2_e12"),
        F.max("row_max").cast("long").alias("max_err2_e12"),
    )


@register(
    "embedding_kmeans_cells",
    None,
    doc="Deterministic fixed-point k-means, 8 cells x 3 Lloyd rounds "
    "(operators/clustering.kmeans_fixedpoint): an ITERATIVE ML "
    "TRAINING LOOP that is value-hash oracle-checked - e6 fixed-point "
    "vectors, integer distance folds, exact floor-division centroid "
    "updates, md5-rank seeding (no RNG anywhere), empty cells keep "
    "their centroid. Float k-means (pyspark.ml, used by IVF) cannot "
    "be cross-engine-checked even in principle: its centroid means "
    "sum doubles in shuffle order. Driver crossings are seed rows + "
    "per-round centroid tables (n_cells rows - metadata, same as "
    "pyspark.ml's driver). The centroid is emitted as a canonical "
    "comma-joined string of the e6 ints (scalar schema: driver "
    "harnesses sort-canonicalize cells and cannot sort array cells; "
    "round-7 gate red). Driver-window neutral (local_oracle).",
    local_oracle=_kmeans_oracle(),
)
def embedding_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_data_engineering_assignment_spark.operators.clustering import (
        kmeans_fixedpoint,
    )

    return kmeans_fixedpoint(_t(spark, sf_dir, "embeddings")).select(
        "cell",
        "n_vectors",
        F.array_join(F.col("centroid").cast("array<string>"), ",").alias(
            "centroid_e6_csv"
        ),
    )
