"""Unit tests for similarity search (operators/similarity.py).

Covers what the registry's rows-only entries claim:
  * brute-force top-k is exact (validated against a numpy reimpl),
  * LSH top-k recall@5 vs the brute-force baseline, and that 1-bit
    multi-probe recovers recall over single-probe,
  * embedding near-dup finds *planted* near-duplicate vectors (so a
    0-row result on random data is distinguishable from a broken
    operator).
"""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from pyspark_data_engineering_assignment_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_bucketed_topk,
)

DIM = 16
N_CORPUS = 200
N_QUERIES = 10

EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)


def _vectors():
    rng = random.Random(7)
    return [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(N_CORPUS)
    ]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(_vectors(), EMB_SCHEMA)


def _topk_map(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_brute_force_matches_numpy(spark, emb):
    vecs = {i: v for i, v in _vectors()}
    # float32 round-trip like the DataFrame column
    import numpy as np

    mat = {i: np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in vecs.items()}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    got = _topk_map(
        brute_force_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=5)
    )
    for q in range(N_QUERIES):
        scored = sorted(
            ((cos(mat[q], mat[n]), -n) for n in mat if n != q), reverse=True
        )
        expect = {-s[1] for s in scored[:5]}
        assert got[q] == expect, f"query {q}: {got[q]} != {expect}"


def _recall(spark, emb, probe_bits, n_planes):
    exact = _topk_map(brute_force_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=5))
    approx = _topk_map(
        lsh_bucketed_topk(
            emb,
            emb.filter(F.col("vec_id") < N_QUERIES),
            k=5,
            dim=DIM,
            n_planes=n_planes,
            probe_bits=probe_bits,
        )
    )
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    return hits / sum(len(v) for v in exact.values())


def test_lsh_topk_recall(spark, emb):
    # n_planes sized so buckets hold ~corpus/16: LSH recall is a function
    # of bucket occupancy; 2^n_planes must stay well under the corpus size
    # (random gaussian data is LSH's worst case - no cluster structure).
    r0 = _recall(spark, emb, probe_bits=0, n_planes=4)
    r1 = _recall(spark, emb, probe_bits=1, n_planes=4)
    # multi-probe must not lose candidates, and must clear a usable floor
    assert r1 >= r0
    assert r1 >= 0.5, f"recall@5 with 1-bit probing = {r1} (single-probe {r0})"


def test_embedding_neardup_finds_planted_pairs(spark):
    rng = random.Random(11)
    rows = _vectors()
    # plant near-dups: 300/301 identical to 0/1, 302 = tiny perturbation of 2
    rows.append((300, rows[0][1]))
    rows.append((301, rows[1][1]))
    rows.append((302, [x + rng.gauss(0.0, 0.01) for x in rows[2][1]]))
    planted = spark.createDataFrame(rows, EMB_SCHEMA)
    pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_duplicates(planted, dim=DIM, min_cosine=0.9).collect()
    }
    assert (0, 300) in pairs and math.isclose(pairs[(0, 300)], 1.0, abs_tol=1e-9)
    assert (1, 301) in pairs
    assert (2, 302) in pairs and pairs[(2, 302)] >= 0.99
    # random unrelated vectors in DIM=16 essentially never hit cos>=0.9
    assert all(a in (0, 1, 2) or a >= 300 for a, _ in pairs), pairs


def test_ivf_topk_recall(spark, emb):
    from pyspark_data_engineering_assignment_spark.operators.similarity import ivf_topk

    exact = _topk_map(
        brute_force_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=5)
    )
    approx = _topk_map(
        ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < N_QUERIES),
            k=5,
            n_cells=8,
            n_probe=4,
        )
    )
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    # random gaussians are the adversarial case for IVF too (no cluster
    # structure); probing half the cells must still clear a usable floor
    assert recall >= 0.5, f"IVF recall@5 = {recall}"
    # structural: k results per query, ranks total-ordered
    per_q = {}
    for r in ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5, n_cells=8, n_probe=4
    ).collect():
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5], (q, ranks)


def test_lsh_two_bit_probe_recall_matches_docstring(spark, emb):
    """Pin the advertised number (similarity.py / ann_lsh_topk docstring:
    0.94 recall@5 with 2-bit probing on random gaussians): assert the
    floor 0.9, not the exact value, so a legitimate plane-seed tweak
    doesn't break the test while a recall regression does."""
    r2 = _recall(spark, emb, probe_bits=2, n_planes=4)
    assert r2 >= 0.9, f"2-bit probe recall@5 = {r2}, docstring advertises 0.94"


@pytest.mark.slow
def test_ivf_beats_lsh_on_clustered_data_at_equal_probe_cost(spark):
    """Pin the IVF design claim (similarity.py module docstring): on
    CLUSTERED embeddings, data-adaptive k-means cells follow the density
    and beat data-independent hyperplanes at equal probe cost. Fixture:
    10 gaussian clusters (spread 0.3 - loose enough that hyperplanes cut
    them), both strategies probe exactly 1 of 16 partitions. Measured
    on a 4-core host, identical at local[1], [2], [4], [8] and [32]:
    IVF 0.90 vs LSH 0.68."""
    from pyspark_data_engineering_assignment_spark.operators.similarity import ivf_topk

    rng = random.Random(3)
    centers = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(10)]
    rows = [
        (i, [c + rng.gauss(0.0, 0.3) for c in centers[i % 10]])
        for i in range(N_CORPUS)
    ]
    cemb = spark.createDataFrame(rows, EMB_SCHEMA)
    queries = cemb.filter(F.col("vec_id") < N_QUERIES)
    exact = _topk_map(brute_force_topk(cemb, queries, k=5))
    lsh = _topk_map(
        lsh_bucketed_topk(cemb, queries, k=5, dim=DIM, n_planes=4, probe_bits=0)
    )
    ivf = _topk_map(ivf_topk(cemb, queries, k=5, n_cells=16, n_probe=1))
    denom = sum(len(v) for v in exact.values())
    r_lsh = sum(len(exact[q] & lsh.get(q, set())) for q in exact) / denom
    r_ivf = sum(len(exact[q] & ivf.get(q, set())) for q in exact) / denom
    assert r_ivf >= 0.9, f"IVF recall {r_ivf} on clustered data"
    assert r_ivf >= r_lsh + 0.15, f"IVF {r_ivf} does not beat LSH {r_lsh}"


@pytest.mark.slow
def test_ivf_probe_path_runs_zero_fit_jobs(spark, emb, tmp_path, monkeypatch):
    """The build-once/probe-many contract: once the index is persisted,
    probing launches NO k-means fit. Pin it the strong way - after the
    build, KMeans.fit is monkeypatched to raise, and the probe path must
    still plan AND execute, because it is pure DataFrame composition
    over the persisted index frames."""
    from pyspark.ml.clustering import KMeans

    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        ivf_topk,
        load_ivf_index,
        persist_ivf_index,
        probe_ivf,
    )

    path = str(tmp_path / "ivf_index")
    persist_ivf_index(emb, path, n_cells=8)
    # idempotence: a second persist call must not retrain either
    monkeypatch.setattr(
        KMeans,
        "fit",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("probe path ran a KMeans fit")
        ),
    )
    persist_ivf_index(emb, path, n_cells=8)
    centroids, assigned = load_ivf_index(spark, path)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    probed = probe_ivf(centroids, assigned, queries, k=5, n_probe=4)
    rows = probed.collect()
    assert len(rows) == N_QUERIES * 5
    # probe == fused path (same params, same quantizer seed): the split
    # refactor must not change a single result
    monkeypatch.undo()
    fused = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=4)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, fused.collect()))


@pytest.mark.slow
def test_ivf_probe_registry_entry_recall(spark):
    """ann_ivf_probe_topk (probe over the persisted sf-dir index)
    matches the recall bar of the fused entry on the driver embeddings
    table, and the probe plan carries no Python/ml stages."""
    import io
    from contextlib import redirect_stdout

    from pyspark_data_engineering_assignment_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    emb_t = spark.read.parquet(f"{sf}/embeddings.parquet")
    exact = _topk_map(
        brute_force_topk(emb_t, emb_t.filter(F.col("vec_id") < 10), k=5)
    )
    probed_df = QUERIES["ann_ivf_probe_topk"].fn(spark, sf)
    approx = _topk_map(probed_df)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.5, f"probe-path recall@5 = {recall}"
    buf = io.StringIO()
    with redirect_stdout(buf):
        probed_df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


@pytest.mark.slow
def test_ivf_index_write_audit_publish(spark, emb, tmp_path):
    """Index lifecycle WAP: versioned builds, recall audit gate, atomic
    LATEST pointer - readers see old-complete or new-complete, never a
    partial or low-recall index."""
    import pytest as _pytest

    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        load_ivf_index,
        probe_ivf,
        republish_ivf_index,
        resolve_ivf_index,
    )

    base = str(tmp_path / "index_base")
    v1 = republish_ivf_index(emb, base, n_cells=8, audit_sample=10)
    assert resolve_ivf_index(base) == v1 and v1.endswith("v=1")
    # republish -> v=2, pointer advances
    v2 = republish_ivf_index(emb, base, n_cells=8, audit_sample=10)
    assert resolve_ivf_index(base) == v2 and v2.endswith("v=2")
    # failed audit (impossible bar): raises, pointer STAYS on v2
    with _pytest.raises(ValueError, match="audit failed"):
        republish_ivf_index(
            emb, base, n_cells=8, audit_sample=10, min_recall=1.01
        )
    assert resolve_ivf_index(base) == v2
    # the published index serves probes
    centroids, assigned = load_ivf_index(spark, resolve_ivf_index(base))
    got = probe_ivf(
        centroids, assigned, emb.filter(F.col("vec_id") < 5), k=5
    ).count()
    assert got == 25


def test_recommended_n_planes_tracks_corpus_size():
    """The occupancy law the sf10 sweep measured, as code: buckets scale
    with the corpus so expected occupancy stays ~constant."""
    from pyspark_data_engineering_assignment_spark.operators.dedup import (
        recommended_band_bits,
    )
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        recommended_n_planes,
    )

    assert recommended_n_planes(2_000) == 8  # the bench-sf default
    assert recommended_n_planes(200_000) == 15  # the sf10 case (~12.6s zone)
    assert recommended_n_planes(0) == 4
    assert recommended_n_planes(10**12) == 24  # clamp
    # expected occupancy within [target/2, 2*target] wherever unclamped
    for n in (10_000, 1_000_000, 100_000_000):
        planes = recommended_n_planes(n)
        occ = n / (2 ** planes)
        assert 4 <= occ <= 16, (n, planes, occ)
    assert recommended_band_bits(50_000) == 13
    assert recommended_band_bits(500_000) == 16
    assert recommended_band_bits(10**12, nbits=64) == 32  # >= 2 bands
    # degenerate empty-corpus default agrees with the general lower
    # clamp AND with recommended_n_planes's degenerate return
    assert recommended_band_bits(0) == 4 == recommended_n_planes(0)


def _f32(x):
    return None if x is None else struct.unpack("f", struct.pack("f", x))[0]


def _python_signature(vec, planes) -> int:
    """Reference signature: per plane a plain-Python sequential left
    fold of float64 products from 0.0, with Spark's semantics at the
    edges - a NULL vector, NULL element or length mismatch (zip_with
    pads with NULL) makes the dot NULL and leaves the bit clear; a NaN
    dot sets it (NaN sorts above every number)."""
    sig = 0
    for i, plane in enumerate(planes):
        if vec is None or len(vec) != len(plane) or any(x is None for x in vec):
            continue
        acc = 0.0
        for x, p in zip(vec, plane):
            acc = acc + _f32(x) * p
        if math.isnan(acc) or acc > 0:
            sig += 1 << i
    return sig


def test_rh_signature_matches_python_fold_bit_for_bit(spark):
    """The packed signature equals a plain-Python fold for random
    vectors and for every degenerate vector shape."""
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        _hyperplanes,
        _rh_signature,
    )

    planes = _hyperplanes(DIM, 20, seed=42)
    rows = _vectors()
    half = [0.5] * DIM
    rows += [
        (1000, None),  # NULL vector
        (1001, half[:3] + [float("nan")] + half[4:]),  # NaN element
        (1002, half[:3] + [None] + half[4:]),  # NULL element
        (1003, half[: DIM - 4]),  # ragged (short)
        (1004, [0.0] * DIM),  # zero vector
        (1005, [-0.0] * DIM),
    ]
    df = spark.createDataFrame(rows, EMB_SCHEMA)
    got = {
        r["vec_id"]: r["sig"]
        for r in df.select("vec_id", _rh_signature("embedding", planes).alias("sig")).collect()
    }
    want = {i: _python_signature(v, planes) for i, v in rows}
    assert got == want
    assert want[1001] == (1 << len(planes)) - 1
    assert want[1000] == want[1002] == want[1003] == want[1004] == 0
    # the random vectors exercise every bit, both ways
    assert len({want[i] for i in range(N_CORPUS)}) > N_CORPUS // 2


def _python_dot(a, b):
    """Plain-Python sequential left fold of float64 products from 0.0,
    with Spark's edge semantics: a NULL vector, a NULL element or a
    length mismatch (zip_with pads with NULL) makes the dot NULL."""
    if a is None or b is None or len(a) != len(b) or None in a + b:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + _f32(x) * _f32(y)
    return acc


def _bits(v):
    if v is None:
        return None
    return "nan" if math.isnan(v) else struct.pack("d", v)


def test_vector_functions_match_python_fold_bit_for_bit(spark):
    """dot, l2_norm and cosine equal a plain-Python sequential fold bit
    for bit, on random vectors and on every degenerate vector shape."""
    from pyspark_data_engineering_assignment_spark.functions.vectors import (
        cosine,
        dot,
        l2_norm,
    )

    vecs = _vectors()
    half = [0.5] * DIM
    rows = [(i, v, vecs[(i + 1) % N_CORPUS][1]) for i, v in vecs]
    rows += [
        (1000, None, half),  # NULL vector
        (1001, half[:3] + [float("nan")] + half[4:], half),  # NaN element
        (1002, half[:3] + [None] + half[4:], half),  # NULL element
        (1003, half[: DIM - 4], half),  # ragged (short)
        (1004, half, half[: DIM - 4]),  # ragged (long)
    ]
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("a", ArrayType(FloatType()), True),
            StructField("b", ArrayType(FloatType()), True),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        r["id"]: (_bits(r["d"]), _bits(r["n"]), _bits(r["c"]))
        for r in df.select(
            "id",
            dot("a", "b").alias("d"),
            l2_norm("a").alias("n"),
            cosine("a", "b").alias("c"),
        ).collect()
    }

    def want(a, b):
        d, aa, bb = _python_dot(a, b), _python_dot(a, a), _python_dot(b, b)
        n = None if aa is None else math.sqrt(aa)
        c = None if None in (d, aa, bb) else d / (math.sqrt(aa) * math.sqrt(bb))
        return _bits(d), _bits(n), _bits(c)

    assert got == {i: want(a, b) for i, a, b in rows}
    assert got[1000] == (None, None, None)
    assert got[1001] == ("nan", "nan", "nan")
    assert got[1002] == (None, None, None)
    assert got[1003][0] is None and got[1003][1] is not None


def test_rh_signature_plan_holds_planes_as_one_literal(spark, emb):
    """All planes reach the optimized plan as ONE folded array literal
    inside one transform - not one literal and one CASE WHEN per plane
    (whose analysis dominated the LSH queries' build time)."""
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        _hyperplanes,
        _rh_signature,
    )

    n_planes = 16
    planes = _hyperplanes(DIM, n_planes, seed=42)
    df = emb.select(_rh_signature("embedding", planes).alias("sig"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan, plan
    assert plan.count("transform([[") == 1, plan
    assert "CASE WHEN" not in plan, plan
    assert f"{planes[-1][-1]}]]" in plan, plan


def test_probe_ivf_query_side_carries_no_broadcast_hint(spark, emb):
    """Round-8 verdict low: probe_ivf must NOT force-broadcast the
    probed (query) side - probe_ivf_stream feeds it availableNow
    micro-batches that can drain an unbounded backlog into one batch,
    so a forced broadcast is an OOM-at-scale hazard. Exactly ONE
    broadcast hint is allowed in the plan: the (k-cells-sized) centroid
    table. Un-hinted, a huge batch degrades gracefully to a shuffled
    join under AQE."""
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        build_ivf_index,
        probe_ivf,
    )

    centroids, assigned = build_ivf_index(emb, n_cells=8)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    plan = probe_ivf(
        centroids, assigned, queries, k=5, n_probe=4
    )._jdf.queryExecution().analyzed().toString()
    hints = plan.count("UnresolvedHint") + plan.count("ResolvedHint")
    assert hints == 1, f"expected exactly the centroid broadcast, got {hints}:\n{plan[:2000]}"


@pytest.mark.parametrize("train_fraction", [None, 0.5])
def test_ivf_fit_is_independent_of_input_partitioning(spark, train_fraction):
    """The quantizer is a function of the rows and ``seed`` alone: the
    same corpus laid out as 1 or as 7 partitions trains identical
    centroids, with and without sampling. k-means|| initialisation and
    ``DataFrame.sample`` both draw one RNG per partition, so a fit on
    the input's own layout would change with the host's core count."""
    from pyspark_data_engineering_assignment_spark.operators.similarity import (
        build_ivf_index,
    )

    def centroids(n_parts):
        corpus = spark.createDataFrame(_vectors(), EMB_SCHEMA).repartition(n_parts)
        assert corpus.rdd.getNumPartitions() == n_parts
        cells, _ = build_ivf_index(
            corpus, n_cells=8, train_fraction=train_fraction
        )
        return sorted((r["cell"], r["centroid"]) for r in cells.collect())

    assert centroids(1) == centroids(7)


def _planted_64d_sfdir(tmp_path) -> str:
    """A minimal sf_dir holding only embeddings.parquet: 120 random
    64-dim gaussian vectors plus one exact duplicate (0,300) and one
    tiny perturbation (1,301) - so the near-dup queries return rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(11)
    dim = 64
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(120)]
    rows.append((300, list(rows[0][1])))
    rows.append((301, [x + rng.gauss(0.0, 0.005) for x in rows[1][1]]))
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [np.asarray(r[1], dtype=np.float32) for r in rows],
                pa.list_(pa.float32()),
            ),
        }
    )
    pq.write_table(tbl, f"{tmp_path}/embeddings.parquet")
    return str(tmp_path)


def test_neardup_fixedplane_baseline_oracle_parity(spark, tmp_path):
    """Round-12 demotion pin: the fixed-8-plane plan (the registered
    ``embedding_neardup`` through round 11, retired for its measured
    superlinear exponent e=1.565) survives as an UNREGISTERED test-only
    baseline - this keeps it value-hash checked vs its DuckDB oracle on
    a corpus with planted near-dups (non-empty parity, unlike the
    sf0.001 registry gate where the result is legitimately empty), the
    same pattern as the uncapped ngram_jaccard_neardup baseline."""
    import duckdb

    from tests.oracle_harness import compare_query
    from pyspark_data_engineering_assignment_spark.plans.vector_queries import (
        _embedding_neardup_oracle,
        embedding_neardup_fixedplane,
    )

    sf = _planted_64d_sfdir(tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    try:
        assert embedding_neardup_fixedplane(spark, sf).count() >= 2
        ok, msg = compare_query(
            spark, con, embedding_neardup_fixedplane, _embedding_neardup_oracle(), sf
        )
        assert ok, f"fixed-plane baseline diverged: {msg}"
    finally:
        con.close()


def test_neardup_scaled_default_finds_planted_pairs_and_matches_oracle(
    spark, tmp_path
):
    """The registered ``embedding_neardup`` (occupancy-scaled by default
    since round 12) must (a) stay value-hash identical to its
    count-derived-width oracle on a NON-empty corpus and (b) find the
    planted exact-dup and perturbation pairs - proving the demotion of
    the fixed-plane plan lost no detection power on true near-dups."""
    import duckdb

    from tests.oracle_harness import compare_query
    from pyspark_data_engineering_assignment_spark.plans import QUERIES

    sf = _planted_64d_sfdir(tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    try:
        spec = QUERIES["embedding_neardup"]
        ok, msg = compare_query(
            spark, con, spec.fn, spec.oracle or spec.local_oracle, sf
        )
        assert ok, f"occupancy-scaled default diverged: {msg}"
        pairs = {(r["id_a"], r["id_b"]) for r in spec.fn(spark, sf).collect()}
        assert (0, 300) in pairs and (1, 301) in pairs, pairs
    finally:
        con.close()
