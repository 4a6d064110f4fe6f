"""End-to-end streaming test (SURVEY §5.3): feeder -> file stream ->
foreachBatch pipeline (state merge -> enrich -> detect -> 50-row sink),
golden-checked per batch against an independent pandas replay of the
reference's semantics (``Mechanism Y.py:221-258``).

Covers, in one flow: S1-S3/S5 sources, K2-K4 sinks, A1-A3/A5 aggregates,
J1 enrichment, PatId1-3 as functions, T1-T8 streaming surface, the
exactly-N-row file contract, replay idempotence, and the
refire-suppression (dedup) mode.
"""

from __future__ import annotations

import glob
import os
from collections import Counter
from decimal import Decimal

import pandas as pd
import pytest

from pyspark_data_engineering_assignment_spark.config import EngineConfig, PatternThresholds
from pyspark_data_engineering_assignment_spark.patterns.detect import FixedClock
from pyspark_data_engineering_assignment_spark.schemas import TRANSACTION_SCHEMA
from pyspark_data_engineering_assignment_spark.sources.readers import read_csv, read_importance
from pyspark_data_engineering_assignment_spark.state.jdbc_store import JdbcStateStore
from pyspark_data_engineering_assignment_spark.state.store import (
    CUSTOMER_MERCHANT_SUMMARY,
    MERCHANT_GENDER_SUMMARY,
    MERCHANT_SUMMARY,
    ParquetStateStore,
)
from pyspark_data_engineering_assignment_spark.streaming.pipeline import DetectionPipeline
from pyspark_data_engineering_assignment_spark.streaming.sink import write_detections
from pyspark_data_engineering_assignment_spark.tools.feeder import feed_chunks

CLOCK = FixedClock("2024-01-01 00:00:00")

# 16 transactions, fed as 4 chunks of 4. Planted patterns (thresholds are
# the reference test values: merchant>5, pair>2, count>=3 & avg<23, f<m &
# f>2, fallback weight<2.0):
#   * (C1,M1): 4 low-amount txns -> PatId2 "CHILD" from batch 2 on
#   * (C2,M1): 4 txns with dim weight 0.5 -> PatId1 "UPGRADE" once M1's
#     total >5 and the pair count >2 AND the batch carries the low-weight
#     txn (batch-local condition) -> batches 2 and 3
#   * M2: 3 F + 4 M txns -> PatId3 "DEI-NEEDED" in batch 3 (f=3>2, f<m=4)
ROWS = [
    # step, customer, age, gender, zipcodeOri, merchant, zipMerchant, category, amount, fraud
    (0, "C1", "2", "F", "28007", "M1", "28007", "es_a", "10.0", 0),
    (0, "C2", "3", "M", "28007", "M1", "28007", "es_a", "30.0", 0),
    (0, "C3", "3", "M", "28007", "M2", "28007", "es_b", "50.0", 0),
    (0, "C4", "2", "F", "28007", "M2", "28007", "es_b", "50.0", 0),

    (1, "C1", "2", "F", "28007", "M1", "28007", "es_a", "20.0", 0),
    (1, "C2", "3", "M", "28007", "M1", "28007", "es_a", "30.0", 0),
    (1, "C3", "3", "M", "28007", "M2", "28007", "es_b", "50.0", 0),
    (1, "C4", "2", "F", "28007", "M2", "28007", "es_b", "50.0", 0),

    (2, "C1", "2", "F", "28007", "M1", "28007", "es_a", "10.0", 0),
    (2, "C2", "3", "M", "28007", "M1", "28007", "es_a", "30.0", 0),
    (2, "C3", "3", "M", "28007", "M2", "28007", "es_b", "50.0", 0),
    (2, "C4", "2", "F", "28007", "M2", "28007", "es_b", "50.0", 0),

    (3, "C5", "3", "M", "28007", "M2", "28007", "es_b", "50.0", 0),
    (3, "C2", "3", "M", "28007", "M1", "28007", "es_a", "30.0", 0),
    (3, "C1", "2", "F", "28007", "M1", "28007", "es_a", "10.0", 0),
    (3, "C6", "3", "M", "28007", "M3", "28007", "es_c", "100.0", 0),
]
COLUMNS = [f.name for f in TRANSACTION_SCHEMA.fields]

IMPORTANCE_ROWS = [
    # Source, Target, Weight, typeTrans, fraud
    ("C2", "M1", "0.5", "es_a", 0),   # low weight: drives PatId1
    ("C1", "M1", "5.0", "es_a", 0),
    ("C3", "M2", "5.0", "es_b", 0),
]

# Independent expectation (hand-replayed reference semantics; see the
# module docstring of patterns/detect.py for the rules). Key =
# (PatternId, ActionType, CustomerName, MerchantId).
EXPECTED = {
    0: Counter(),
    1: Counter(),
    2: Counter(
        {
            ("PatId1", "UPGRADE", "C2", "M1"): 1,
            ("PatId2", "CHILD", "C1", "M1"): 1,
        }
    ),
    3: Counter(
        {
            ("PatId1", "UPGRADE", "C2", "M1"): 1,
            ("PatId2", "CHILD", "C1", "M1"): 1,
            ("PatId3", "DEI-NEEDED", "", "M2"): 1,
        }
    ),
}


def _write_inputs(tmp_path):
    src = tmp_path / "transactions.csv"
    pd.DataFrame(ROWS, columns=COLUMNS).to_csv(src, index=False)
    imp = tmp_path / "importance.csv"
    pd.DataFrame(
        IMPORTANCE_ROWS, columns=["Source", "Target", "Weight", "typeTrans", "fraud"]
    ).to_csv(imp, index=False)
    input_dir = tmp_path / "incoming"
    chunk_paths = feed_chunks(str(src), str(input_dir), chunk_rows=4)
    assert len(chunk_paths) == 4
    return str(input_dir), str(imp), chunk_paths


def _read_detections(detections_dir: str) -> dict[int, Counter]:
    """batch_id -> multiset of detection keys, read back from the CSVs."""
    out: dict[int, Counter] = {}
    for bdir in glob.glob(os.path.join(detections_dir, "batch_id=*")):
        bid = int(bdir.rsplit("=", 1)[1])
        keys = Counter()
        for f in glob.glob(os.path.join(bdir, "bucket=*", "*.csv")):
            pdf = pd.read_csv(f, dtype=str, keep_default_na=False)
            for r in pdf.itertuples(index=False):
                keys[(r.PatternId, r.ActionType, r.CustomerName, r.MerchantId)] += 1
        out[bid] = keys
    return out


def _run(spark, tmp_path, config: EngineConfig):
    input_dir, imp_path, chunk_paths = _write_inputs(tmp_path)
    importance = read_importance(spark, imp_path)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    detections_dir = str(tmp_path / "detections")
    pipe = DetectionPipeline(
        spark, store, importance, detections_dir, config=config, clock=CLOCK
    )
    q = pipe.run_stream(input_dir, str(tmp_path / "checkpoint"))
    q.awaitTermination()
    return pipe, store, detections_dir, chunk_paths


def test_streaming_end_to_end(spark, tmp_path):
    config = EngineConfig()  # parity mode: refire on, 50-row files
    pipe, store, detections_dir, chunk_paths = _run(spark, tmp_path, config)

    # --- per-batch golden detections -----------------------------------
    got = _read_detections(detections_dir)
    for bid, expected in EXPECTED.items():
        assert got.get(bid, Counter()) == expected, f"batch {bid}"

    # --- final state equals whole-dataset aggregates (batch invariance) -
    m = {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    }
    assert m == {"M1": 8, "M2": 7, "M3": 1}
    cm = {
        (r["customer_id"], r["merchant_id"]): (
            r["transaction_count"],
            r["total_amount_sum"],
        )
        for r in store.read_state(CUSTOMER_MERCHANT_SUMMARY).collect()
    }
    assert cm[("C1", "M1")] == (4, Decimal("50.00"))
    assert cm[("C2", "M1")] == (4, Decimal("120.00"))
    assert cm[("C6", "M3")] == (1, Decimal("100.00"))
    g = {
        r["merchant_id"]: (
            r["male_transaction_count"],
            r["female_transaction_count"],
        )
        for r in store.read_state(MERCHANT_GENDER_SUMMARY).collect()
    }
    assert g == {"M1": (4, 4), "M2": (4, 3), "M3": (1, 0)}

    # --- replay safety: re-running the last batch changes nothing -------
    before = _read_detections(detections_dir)
    last_chunk = read_csv(spark, chunk_paths[3], TRANSACTION_SCHEMA)
    n = pipe.process_batch(last_chunk, batch_id=3)
    assert n == sum(EXPECTED[3].values())
    assert _read_detections(detections_dir) == before
    assert {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    } == m


@pytest.mark.slow
def test_streaming_dedup_mode(spark, tmp_path):
    """refire_stateful_patterns=False: a detection key is emitted once,
    ever; batch 3 keeps only the new PatId3."""
    config = EngineConfig(refire_stateful_patterns=False)
    _, _, detections_dir, _ = _run(spark, tmp_path, config)
    got = _read_detections(detections_dir)
    assert got.get(2, Counter()) == EXPECTED[2]
    assert got.get(3, Counter()) == Counter({("PatId3", "DEI-NEEDED", "", "M2"): 1})


def test_detection_files_have_exactly_n_rows(spark, tmp_path):
    """K4 contract: every file has exactly N rows except the last
    (``Mechanism Y.py:115-116``; redesigned idempotent, survey §7.5)."""
    from pyspark_data_engineering_assignment_spark.schemas import DETECTION_SCHEMA

    rows = [
        ("2024-01-01 00:00:00", "2024-01-01 00:00:00", "PatId2", "CHILD", f"C{i:03d}", "M1")
        for i in range(23)
    ]
    df = spark.createDataFrame(rows, DETECTION_SCHEMA)
    out = str(tmp_path / "det")
    n = write_detections(df, out, batch_id=7, rows_per_file=5)
    assert n == 23

    files = sorted(glob.glob(os.path.join(out, "batch_id=7", "bucket=*", "*.csv")))
    sizes = []
    seen = set()
    for f in files:
        pdf = pd.read_csv(f, dtype=str, keep_default_na=False)
        sizes.append(len(pdf))
        seen.update(pdf["CustomerName"])
    assert sorted(sizes, reverse=True) == [5, 5, 5, 5, 3]
    assert seen == {f"C{i:03d}" for i in range(23)}  # no loss, no dup

    # one file per bucket (each bucket co-located in one task)
    buckets = {os.path.dirname(f) for f in files}
    assert len(files) == len(buckets) == 5

    # idempotent rewrite: same batch_id -> same files
    before = {f: open(f).read() for f in files}
    write_detections(df, out, batch_id=7, rows_per_file=5)
    after_files = sorted(glob.glob(os.path.join(out, "batch_id=7", "bucket=*", "*.csv")))
    after = {f: open(f).read() for f in after_files}
    assert sorted(before.values()) == sorted(after.values())


def test_checkpoint_restart_resumes_without_double_count(spark, tmp_path):
    """Stop-and-restart contract: a second run over the same checkpoint
    processes ONLY newly arrived files, batch ids continue, state is not
    double-counted, and earlier detection files are untouched."""
    src = tmp_path / "transactions.csv"
    pd.DataFrame(ROWS, columns=COLUMNS).to_csv(src, index=False)
    imp_path = _write_importance_only(tmp_path)
    input_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "checkpoint")

    # split the feed: first two chunks now, last two after the restart
    all_chunks = feed_chunks(str(src), str(tmp_path / "staged"), chunk_rows=4)
    os.makedirs(input_dir)
    import shutil

    def arrive(paths):
        for p in paths:
            shutil.copy2(p, os.path.join(input_dir, os.path.basename(p)))

    importance = read_importance(spark, imp_path)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    detections_dir = str(tmp_path / "detections")

    arrive(all_chunks[:2])
    pipe1 = DetectionPipeline(
        spark, store, importance, detections_dir, config=EngineConfig(), clock=CLOCK
    )
    q1 = pipe1.run_stream(input_dir, ckpt)
    q1.awaitTermination()
    assert {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    } == {"M1": 4, "M2": 4}
    first_wave = _read_detections(detections_dir)

    # restart: a fresh pipeline + query over the same checkpoint and state
    arrive(all_chunks[2:])
    pipe2 = DetectionPipeline(
        spark, store, importance, detections_dir, config=EngineConfig(), clock=CLOCK
    )
    q2 = pipe2.run_stream(input_dir, ckpt)
    q2.awaitTermination()

    got = _read_detections(detections_dir)
    for bid, expected in EXPECTED.items():
        assert got.get(bid, Counter()) == expected, f"batch {bid}"
    # first-wave outputs untouched by the restart
    for bid, keys in first_wave.items():
        assert got[bid] == keys
    # final state = whole-dataset aggregate (nothing replayed or lost)
    assert {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    } == {"M1": 8, "M2": 7, "M3": 1}


def test_processing_time_trigger(spark, tmp_path):
    """T4 parity: the reference's processingTime trigger mode drains the
    same files to the same detections (stopped explicitly once idle)."""
    import time

    input_dir, imp_path, _ = _write_inputs(tmp_path)
    importance = read_importance(spark, imp_path)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    detections_dir = str(tmp_path / "detections")
    pipe = DetectionPipeline(
        spark, store, importance, detections_dir,
        config=EngineConfig(trigger="1 seconds"), clock=CLOCK,
    )
    q = pipe.run_stream(input_dir, str(tmp_path / "checkpoint"))
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            done = {
                p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0
            }
            if len(done) >= 4:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()
    got = _read_detections(detections_dir)
    for bid, expected in EXPECTED.items():
        assert got.get(bid, Counter()) == expected, f"batch {bid}"


def test_pipeline_with_duckdb_state_backend(spark, tmp_path):
    """The pipeline is backend-agnostic: the reference-protocol RDBMS
    UPSERT store on embedded DuckDB yields the same per-batch detections
    as the parquet store (also exercises process_batch as a plain batch
    loop - backfill without a stream)."""
    input_dir, imp_path, chunk_paths = _write_inputs(tmp_path)
    importance = read_importance(spark, imp_path)
    store = JdbcStateStore.duckdb(spark, str(tmp_path / "state.duckdb"))
    detections_dir = str(tmp_path / "detections")
    pipe = DetectionPipeline(
        spark, store, importance, detections_dir, config=EngineConfig(), clock=CLOCK
    )
    for bid, path in enumerate(chunk_paths):
        pipe.process_batch(read_csv(spark, path, TRANSACTION_SCHEMA), bid)

    got = _read_detections(detections_dir)
    for bid, expected in EXPECTED.items():
        assert got.get(bid, Counter()) == expected, f"batch {bid}"


def test_pipeline_percentile_threshold_path(spark, tmp_path):
    """use_percentile_thresholds=True: the pipeline derives the
    per-(merchant, category) threshold table from the dimension at
    startup (reference Mechanism Y.py:84-89) and PatId1 fires only for
    weights strictly below it."""
    imp = tmp_path / "importance.csv"
    # M1/es_a weights 0.5 .. 9.0 -> percentile_approx(0.01) == 0.5:
    # C2's 0.5 is NOT < 0.5, so the percentile path must stay quiet
    # where the fallback (0.5 < 2.0) would have fired.
    pd.DataFrame(
        [("C2", "M1", "0.5", "es_a", 0), ("C1", "M1", "5.0", "es_a", 0),
         ("C8", "M1", "9.0", "es_a", 0)],
        columns=["Source", "Target", "Weight", "typeTrans", "fraud"],
    ).to_csv(imp, index=False)
    src = tmp_path / "tx.csv"
    pd.DataFrame(ROWS, columns=COLUMNS).to_csv(src, index=False)
    input_dir = str(tmp_path / "incoming")
    chunk_paths = feed_chunks(str(src), input_dir, chunk_rows=4)

    importance = read_importance(spark, str(imp))
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    detections_dir = str(tmp_path / "det")
    pipe = DetectionPipeline(
        spark, store, importance, detections_dir,
        config=EngineConfig(), clock=CLOCK, use_percentile_thresholds=True,
    )
    for bid, path in enumerate(chunk_paths):
        pipe.process_batch(read_csv(spark, path, TRANSACTION_SCHEMA), bid)

    got = _read_detections(detections_dir)
    # PatId2/PatId3 unaffected; PatId1 suppressed by the strict < on the
    # exact-percentile threshold
    assert got.get(2, Counter()) == Counter({("PatId2", "CHILD", "C1", "M1"): 1})
    assert got.get(3, Counter()) == Counter(
        {("PatId2", "CHILD", "C1", "M1"): 1, ("PatId3", "DEI-NEEDED", "", "M2"): 1}
    )


def test_empty_batch_short_circuit(spark, tmp_path):
    """T8: an empty micro-batch writes nothing and bumps no state."""
    importance = read_importance(
        spark, _write_importance_only(tmp_path)
    )
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    pipe = DetectionPipeline(
        spark, store, importance, str(tmp_path / "det"), clock=CLOCK
    )
    empty = spark.createDataFrame([], TRANSACTION_SCHEMA)
    assert pipe.process_batch(empty, batch_id=0) == 0
    assert store.read_state(MERCHANT_SUMMARY).count() == 0
    assert not os.path.exists(str(tmp_path / "det"))


@pytest.mark.slow
def test_dedup_mode_replay_reports_original_count(spark, tmp_path):
    """Crash-replay contract in refire-suppression mode: a replayed
    batch whose keys already landed in SEEN_DETECTIONS (crash between
    the seen-merge and the checkpoint commit) must report the original
    detection count from the sunk files, not 0, and leave files and
    state untouched."""
    input_dir, imp_path, chunk_paths = _write_inputs(tmp_path)
    importance = read_importance(spark, imp_path)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    detections_dir = str(tmp_path / "detections")
    pipe = DetectionPipeline(
        spark, store, importance, detections_dir,
        config=EngineConfig(refire_stateful_patterns=False), clock=CLOCK,
    )
    counts = [
        pipe.process_batch(read_csv(spark, p, TRANSACTION_SCHEMA), bid)
        for bid, p in enumerate(chunk_paths)
    ]
    assert counts == [0, 0, 2, 1]
    before = _read_detections(detections_dir)

    # replay the last two batches: same counts, same files
    for bid in (2, 3):
        n = pipe.process_batch(
            read_csv(spark, chunk_paths[bid], TRANSACTION_SCHEMA), bid
        )
        assert n == counts[bid], f"replayed batch {bid}"
    assert _read_detections(detections_dir) == before


@pytest.mark.slow
def test_dedup_mode_replay_survives_moved_sink_files(spark, tmp_path):
    """The replay guard must not depend on the sunk CSVs still being in
    place: the original emitted count is recorded in SEEN_DETECTIONS'
    batch metadata atomically with the seen-merge, so a downstream
    consumer moving the detection files between commit and replay does
    not make the replayed batch silently report 0."""
    import shutil

    input_dir, imp_path, chunk_paths = _write_inputs(tmp_path)
    importance = read_importance(spark, imp_path)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    detections_dir = str(tmp_path / "detections")
    pipe = DetectionPipeline(
        spark, store, importance, detections_dir,
        config=EngineConfig(refire_stateful_patterns=False), clock=CLOCK,
    )
    counts = [
        pipe.process_batch(read_csv(spark, p, TRANSACTION_SCHEMA), bid)
        for bid, p in enumerate(chunk_paths)
    ]
    assert counts == [0, 0, 2, 1]

    # a downstream consumer drains the last batch's files
    shutil.move(
        os.path.join(detections_dir, "batch_id=3"), str(tmp_path / "consumed")
    )
    n = pipe.process_batch(read_csv(spark, chunk_paths[3], TRANSACTION_SCHEMA), 3)
    assert n == 1, "replay must report the recorded count, not re-read files"


@pytest.mark.slow
def test_clean_source_archive(spark, tmp_path):
    """T6: cleanSource=archive moves consumed chunk files into the
    archive dir once their batch commits (the option the reference
    attempted and disabled, ``Mechanism Y.py:106-107``). Archival lags
    consumption by one batch, so with 4 files the first 3 are
    guaranteed archived; detections are unaffected."""
    import time

    archive_dir = str(tmp_path / "archive")
    config = EngineConfig(
        clean_source="archive", source_archive_dir=archive_dir
    )
    _, store, detections_dir, chunk_paths = _run(spark, tmp_path, config)

    got = _read_detections(detections_dir)
    for bid, expected in EXPECTED.items():
        assert got.get(bid, Counter()) == expected, f"batch {bid}"

    # the cleaner thread is async; give it a moment after query stop
    def archived():
        return glob.glob(os.path.join(archive_dir, "**", "*.csv"), recursive=True)

    # Spark's file-source cleaner is an async thread pool that is shut
    # down at source stop: tasks still queued at shutdown may never run,
    # so only >=1 archived file is GUARANTEED after termination - but in
    # practice all but the LAST batch's file make it. Poll for the strong
    # bound (n-1 files) first so the regression signal stays sharp; fall
    # back to the guaranteed >=1 only if the cleaner pool was genuinely
    # cut off at shutdown (rare), and say so in the assertion message.
    strong = len(chunk_paths) - 1
    deadline = time.time() + 30
    while time.time() < deadline and len(archived()) < strong:
        time.sleep(0.5)
    names = {os.path.basename(p) for p in archived()}
    expected_names = {os.path.basename(p) for p in chunk_paths}
    assert len(names & expected_names) >= (
        strong if len(names) >= strong else 1
    ), f"cleaner archived {len(names & expected_names)} of {len(chunk_paths)}: {names}"
    # archived files are MOVED, not copied
    input_dir = str(tmp_path / "incoming")
    remaining = {os.path.basename(p) for p in glob.glob(os.path.join(input_dir, "*.csv"))}
    assert not (remaining & names)


@pytest.mark.slow
def test_vacuum_every_n_batches(spark, tmp_path):
    """Config-driven snapshot GC: with vacuum_every_n_batches=2 the
    pipeline prunes unreferenced state snapshot versions mid-stream, so
    a long run does not accumulate one version dir per batch. State
    contents and detections are unchanged by the sweep."""
    config = EngineConfig(vacuum_every_n_batches=2)
    _, store, detections_dir, _ = _run(spark, tmp_path, config)

    got = _read_detections(detections_dir)
    for bid, expected in EXPECTED.items():
        assert got.get(bid, Counter()) == expected, f"batch {bid}"
    assert {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    } == {"M1": 8, "M2": 7, "M3": 1}

    # 4 batches each touch merchant buckets -> unvacuumed would leave 4
    # version dirs; the sweep at batch 2 pruned the superseded ones.
    vdirs = glob.glob(os.path.join(str(tmp_path / "state"), "merchant_summary", "v=*"))
    assert len(vdirs) < 4, vdirs
    # residue is only what accrued after the last sweep (batch 3)
    assert store.vacuum(MERCHANT_SUMMARY) <= 2


def _write_importance_only(tmp_path) -> str:
    imp = tmp_path / "importance.csv"
    pd.DataFrame(
        IMPORTANCE_ROWS, columns=["Source", "Target", "Weight", "typeTrans", "fraud"]
    ).to_csv(imp, index=False)
    return str(imp)


@pytest.mark.slow
@pytest.mark.parametrize("backend", ["parquet", "duckdb"])
def test_streaming_flagship_sf_state_oracle(spark, tmp_path, backend):
    """The streaming flagship at driver scale: feed the SF events table
    (mapped to transactions exactly like the registry's pattern queries
    map it) through the FULL pipeline with availableNow, then
    oracle-check all three final state tables against DuckDB groupBys
    over the exact chunk CSVs that were fed. This closes the loop
    between the streaming engine and the registry's state-shaped
    queries: the cumulative cross-batch merge must equal the one-shot
    batch aggregate, penny-exactly, at any chunking.

    Parameterized over BOTH state backends, so the reference's RDBMS
    temp-table + ``INSERT .. ON CONFLICT DO UPDATE`` protocol
    (``JdbcStateStore`` on embedded DuckDB) is validated at flagship
    scale too, not just in unit tests - including
    that the pipeline correctly falls back to sequential merges for a
    backend whose connection is not thread-safe.

    Runs at sf0.01 (2.5s, 10k rows); bench.py runs the same flagship at
    sf0.1 and reports throughput as the streaming_sf section.
    """
    import duckdb

    from pyspark_data_engineering_assignment_spark.tools.events_feed import (
        run_events_flagship,
    )

    factory = None
    if backend == "duckdb":
        def factory(sp, workdir):
            return JdbcStateStore.duckdb(sp, os.path.join(workdir, "state.duckdb"))

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    run = run_events_flagship(
        spark, sf_dir, str(tmp_path), chunk_rows=2_000, store_factory=factory
    )
    store = run["store"]

    con = duckdb.connect()
    files = [p.replace("'", "''") for p in run["chunks"]]
    con.execute(
        "CREATE VIEW tx AS SELECT * FROM read_csv_auto(["
        + ", ".join(f"'{p}'" for p in files)
        + "], types={'amount': 'DECIMAL(18,2)', 'customer': 'VARCHAR', "
        "'merchant': 'VARCHAR', 'gender': 'VARCHAR'})"
    )

    got_m = {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    }
    want_m = dict(con.execute("SELECT merchant, count(*) FROM tx GROUP BY 1").fetchall())
    assert got_m == want_m and got_m

    got_cm = {
        (r["customer_id"], r["merchant_id"]): (
            r["transaction_count"],
            r["total_amount_sum"],
        )
        for r in store.read_state(CUSTOMER_MERCHANT_SUMMARY).collect()
    }
    want_cm = {
        (c, m): (n, s)
        for c, m, n, s in con.execute(
            "SELECT customer, merchant, count(*), "
            "CAST(sum(amount) AS DECIMAL(18,2)) FROM tx GROUP BY 1, 2"
        ).fetchall()
    }
    assert got_cm == want_cm

    got_g = {
        r["merchant_id"]: (r["male_transaction_count"], r["female_transaction_count"])
        for r in store.read_state(MERCHANT_GENDER_SUMMARY).collect()
    }
    want_g = {
        m: (mm, ff)
        for m, mm, ff in con.execute(
            "SELECT merchant, count(*) FILTER (WHERE gender = 'M'), "
            "count(*) FILTER (WHERE gender = 'F') FROM tx GROUP BY 1"
        ).fetchall()
    }
    assert got_g == want_g
    assert run["rows"] == con.execute("SELECT count(*) FROM tx").fetchone()[0]


@pytest.mark.slow
def test_malformed_chunk_is_not_a_poison_pill(spark, tmp_path):
    """System-level pin of the NULL-key state contract: a chunk whose
    rows are malformed (wrong arity / untypable - PERMISSIVE nulls every
    field, so the batch aggregates carry NULL merchant/customer keys)
    must not take the stream down. Run against the RDBMS backend
    because that is where it crash-LOOPED before the fix (the PRIMARY
    KEY threw on the NULL key, and the poisoned chunk file survives
    restart, so every retry hit the same error). The clean chunks'
    detections and final state must be exactly the clean run's."""
    import time as _time

    input_dir, imp_path, chunk_paths = _write_inputs(tmp_path)
    # a fifth chunk of pure garbage, mtime-ordered after the real four
    poison = os.path.join(input_dir, "chunk_00004.csv")
    with open(poison, "w") as f:
        f.write(",".join(COLUMNS) + "\n")
        f.write("zzz\n")          # 1 field of 10, untypable step
        f.write(",,,,,,,,,\n")    # full arity, every field empty
    mt = _time.time() + 10
    os.utime(poison, (mt, mt))

    importance = read_importance(spark, imp_path)
    store = JdbcStateStore.duckdb(spark, str(tmp_path / "state.duckdb"))
    detections_dir = str(tmp_path / "detections")
    pipe = DetectionPipeline(
        spark, store, importance, detections_dir, config=EngineConfig(),
        clock=CLOCK,
    )
    q = pipe.run_stream(input_dir, str(tmp_path / "checkpoint"))
    q.awaitTermination()  # would raise StreamingQueryException pre-fix

    # clean batches' detections are untouched; the poison batch
    # contributes NOTHING of its own - the stateful patterns (PatId2/3)
    # re-fire from the UNCHANGED state (parity mode re-fires every batch
    # while true), and the batch-local PatId1 correctly stays silent
    got = _read_detections(detections_dir)
    for bid, expected in EXPECTED.items():
        assert got.get(bid, Counter()) == expected, f"batch {bid}"
    assert got.get(4, Counter()) == Counter(
        {
            ("PatId2", "CHILD", "C1", "M1"): 1,
            ("PatId3", "DEI-NEEDED", "", "M2"): 1,
        }
    )

    # state equals the clean totals - no NULL-keyed rows, nothing lost
    m = {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    }
    assert m == {"M1": 8, "M2": 7, "M3": 1}
    assert None not in m
    # and the stream really consumed the poison batch (id advanced past it)
    assert store.last_batch_id(MERCHANT_SUMMARY) == 4


@pytest.mark.slow
def test_progress_latency_stats_multi_batch(spark, tmp_path):
    """Round-12 bench addition: per-trigger commit-latency percentiles.

    Drain the sf0.001 events feed (1000 rows) in 250-row chunks at
    maxFilesPerTrigger=1 so the availableNow run is genuinely
    multi-batch, then pin progress_latency_stats's contract: one sample
    per NON-EMPTY batch (the trailing zero-input probe is excluded),
    nearest-rank p50 <= p95 <= max, all positive ints."""
    from pyspark_data_engineering_assignment_spark.streaming.pipeline import (
        progress_latency_stats,
    )
    from pyspark_data_engineering_assignment_spark.tools.events_feed import (
        run_events_flagship,
    )

    run = run_events_flagship(
        spark,
        "/root/testdata/sf0.001",
        str(tmp_path),
        chunk_rows=250,
        max_files_per_trigger=1,
    )
    lat = run["latency"]
    n_chunks = len(run["chunks"])
    assert n_chunks >= 3, run["chunks"]
    assert lat["n_batches"] == n_chunks, lat
    assert 0 < lat["p50_ms"] <= lat["p95_ms"] <= lat["max_ms"], lat
    assert all(isinstance(lat[k], int) for k in ("p50_ms", "p95_ms", "max_ms"))


def test_progress_latency_stats_percentile_math():
    """Nearest-rank percentile pin on a synthetic progress history (no
    Spark): 10 batches of known durations -> p50 = 5th-smallest, p95 =
    10th-smallest; empty/idle-only histories -> n_batches 0."""
    from pyspark_data_engineering_assignment_spark.streaming.pipeline import (
        progress_latency_stats,
    )

    class FakeQuery:
        def __init__(self, progress):
            self.recentProgress = progress

    durs = [100, 20, 30, 40, 50, 60, 70, 80, 90, 10]
    hist = [
        {"numInputRows": 5, "durationMs": {"triggerExecution": d}} for d in durs
    ]
    hist.append({"numInputRows": 0, "durationMs": {"triggerExecution": 1}})
    got = progress_latency_stats(FakeQuery(hist))
    assert got == {"n_batches": 10, "p50_ms": 50, "p95_ms": 100, "max_ms": 100}
    assert progress_latency_stats(FakeQuery([])) == {"n_batches": 0}
    assert progress_latency_stats(
        FakeQuery([{"numInputRows": 0, "durationMs": {"triggerExecution": 9}}])
    ) == {"n_batches": 0}
