"""The ``stream_chunks`` workload: a backlog of 10k-row chunk files
drained through ``DetectionPipeline.run_stream`` (availableNow) with
``EngineConfig`` defaults - one chunk per trigger, re-fire on - so the
fixed per-batch cost dominates.

Batch composition is fixed by the feed, never by wall-clock time: the
feeder stamps strictly increasing mtimes, so batch ``b`` is chunk ``b``.
Each timed drain gets fresh state, checkpoint and sink directories. The
number of timed drains follows from ``--seconds`` and a fixed nominal
drain time, never from how fast the drains actually run, so a faster
program is sampled the same way as a slower one. The warm-up drains a
backlog of the same shape (another seed) through throw-away pipelines,
so JIT and codegen compilation are paid before timing starts.

Correctness, outside the timed window: the final state tables of the
last drain must equal a DuckDB group-by over the fed chunk CSVs, and
every batch of every drain must write exactly the number of detections
that a DuckDB replay of the three patterns gives for that batch.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from decimal import Decimal

import datagen
from tracing import Span, Tracer, clipped, spark_event_totals, union_seconds

CHUNK_ROWS = 10_000
N_CUSTOMERS = 1_000
N_MERCHANTS = 50

CHUNKS = 3  # chunk files in the backlog, one micro-batch each
# The first drain pays JIT and codegen compilation; later drains still
# speed up a little (JIT), the same way in every run.
WARM_DRAINS = 1
# A drain of CHUNKS chunks takes about this long on 4 cores; a run times
# round(--seconds / NOMINAL_DRAIN_S) drains, at least one.
NOMINAL_DRAIN_S = 10.0
TRACED_DRAINS = 1
# Spans must account for this share of each traced drain's wall time.
MIN_SPAN_COVERAGE = 0.9
SMOKE_CHUNKS, SMOKE_CHUNK_ROWS = 2, 1_000


def _feed(pkg, out_dir: str, n_chunks: int, chunk_rows: int, seed: int) -> list[str]:
    src = out_dir + ".csv"
    datagen.transactions(n_chunks * chunk_rows, seed, N_CUSTOMERS, N_MERCHANTS).to_csv(
        src, index=False
    )
    paths = pkg.feeder.feed_chunks(
        src, out_dir, chunk_rows=chunk_rows,
        name_fn=lambda part: f"transactions_chunk_{seed}_part{part:04d}.csv",
    )
    os.unlink(src)
    return paths


def _count_detections(det_dir: str) -> dict[int, int]:
    """batch_id -> detection rows written (header line excluded)."""
    out: dict[int, int] = {}
    for bdir in glob.glob(os.path.join(det_dir, "batch_id=*")):
        n = 0
        for f in glob.glob(os.path.join(bdir, "bucket=*", "*.csv")):
            with open(f) as fh:
                n += max(0, sum(1 for _ in fh) - 1)
        out[int(bdir.rsplit("=", 1)[1])] = n
    return out


def _duck_tx(con, chunks: list[str], batch_of) -> None:
    con.execute("CREATE TABLE files (path VARCHAR, batch INTEGER)")
    con.executemany(
        "INSERT INTO files VALUES (?, ?)",
        [(p, batch_of(i)) for i, p in enumerate(chunks)],
    )
    files = ", ".join("'" + p.replace("'", "''") + "'" for p in chunks)
    con.execute(
        f"CREATE TABLE tx AS SELECT t.*, f.batch FROM read_csv([{files}], "
        "types={'amount': 'DECIMAL(18,2)', 'customer': 'VARCHAR', "
        "'merchant': 'VARCHAR', 'gender': 'VARCHAR', 'category': 'VARCHAR'}, "
        "filename=true) t JOIN files f ON t.filename = f.path"
    )


# DuckDB replay of the reference patterns over cumulative state per batch
# (PatId1 with the fixed Weight < 2.0 fallback, as DetectionPipeline runs
# without percentile thresholds; thresholds are PatternThresholds').
_EXPECTED_SQL = """
WITH b AS (SELECT DISTINCT batch FROM tx),
cum AS (SELECT b.batch AS upto, t.* FROM b JOIN tx t ON t.batch <= b.batch),
m AS (SELECT upto, merchant, count(*) AS n FROM cum GROUP BY 1, 2),
cm AS (SELECT upto, customer, merchant, count(*) AS n, sum(amount) AS s
       FROM cum GROUP BY 1, 2, 3),
g AS (SELECT upto, merchant,
             count(*) FILTER (WHERE gender = 'M') AS males,
             count(*) FILTER (WHERE gender = 'F') AS females
      FROM cum GROUP BY 1, 2),
lw AS (SELECT DISTINCT t.batch, t.customer, t.merchant FROM tx t
       JOIN imp i ON t.customer = i.Source AND t.merchant = i.Target
                 AND t.category = i.typeTrans
       WHERE i.Weight < 2.0),
p1 AS (SELECT lw.batch, count(*) AS n FROM lw
       JOIN m ON m.upto = lw.batch AND m.merchant = lw.merchant AND m.n > 5
       JOIN cm ON cm.upto = lw.batch AND cm.customer = lw.customer
              AND cm.merchant = lw.merchant AND cm.n > 2
       GROUP BY 1),
p2 AS (SELECT upto AS batch, count(*) AS n FROM cm
       WHERE n >= 3 AND s < 23.0 * n GROUP BY 1),
p3 AS (SELECT upto AS batch, count(*) AS n FROM g
       WHERE females < males AND females > 2 GROUP BY 1)
SELECT b.batch, coalesce(p1.n, 0) + coalesce(p2.n, 0) + coalesce(p3.n, 0)
FROM b LEFT JOIN p1 USING (batch) LEFT JOIN p2 USING (batch)
       LEFT JOIN p3 USING (batch)
ORDER BY 1
"""


def expected_detections(chunks: list[str], imp_path: str) -> dict[int, int]:
    """batch id -> detections the pipeline must write; chunk i is batch i."""
    import duckdb

    con = duckdb.connect()
    try:
        _duck_tx(con, chunks, lambda i: i)
        con.execute(f"CREATE TABLE imp AS SELECT * FROM read_csv('{imp_path}')")
        return {int(b): int(n) for b, n in con.execute(_EXPECTED_SQL).fetchall()}
    finally:
        con.close()


def state_mismatches(pkg, store, chunks: list[str]) -> list[str]:
    """Names of the state tables that differ from a DuckDB group-by over
    the fed chunks (the check ``tests/test_streaming_e2e.py`` makes)."""
    import duckdb

    st = pkg.store_mod
    con = duckdb.connect()
    try:
        _duck_tx(con, chunks, lambda i: 0)
        want = {
            "merchant": dict(con.execute(
                "SELECT merchant, count(*) FROM tx GROUP BY 1").fetchall()),
            "customer_merchant": {
                (c, m): (n, s) for c, m, n, s in con.execute(
                    "SELECT customer, merchant, count(*), "
                    "CAST(sum(amount) AS DECIMAL(18,2)) FROM tx GROUP BY 1, 2"
                ).fetchall()
            },
            "gender": {
                m: (mm, ff) for m, mm, ff in con.execute(
                    "SELECT merchant, count(*) FILTER (WHERE gender = 'M'), "
                    "count(*) FILTER (WHERE gender = 'F') FROM tx GROUP BY 1"
                ).fetchall()
            },
        }
    finally:
        con.close()
    got = {
        "merchant": {
            r["merchant_id"]: r["total_transactions"]
            for r in store.read_state(st.MERCHANT_SUMMARY).collect()
        },
        "customer_merchant": {
            (r["customer_id"], r["merchant_id"]): (
                r["transaction_count"], Decimal(r["total_amount_sum"])
            )
            for r in store.read_state(st.CUSTOMER_MERCHANT_SUMMARY).collect()
        },
        "gender": {
            r["merchant_id"]: (r["male_transaction_count"], r["female_transaction_count"])
            for r in store.read_state(st.MERCHANT_GENDER_SUMMARY).collect()
        },
    }
    return [k for k in want if want[k] != got[k]]


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def drain(pkg, spark, importance, incoming: str, sub: str) -> dict:
    """One availableNow drain of ``incoming`` into fresh directories
    under ``sub``; returns its timings and work counts."""
    store = pkg.store_mod.ParquetStateStore(spark, os.path.join(sub, "state"))
    det_dir = os.path.join(sub, "detections")
    pipe = pkg.pipeline.DetectionPipeline(
        spark, store, importance, det_dir,
        config=pkg.EngineConfig(),
        clock=pkg.FixedClock(),
    )
    error = None
    start, t0 = time.time(), time.perf_counter()
    try:
        q = pipe.run_stream(incoming, os.path.join(sub, "checkpoint"))
        started = time.time()
        q.awaitTermination()
    except Exception as exc:  # noqa: BLE001 - a failed drain is counted, not fatal
        error, q, started = f"{type(exc).__name__}: {exc}"[:300], None, time.time()
    wall = time.perf_counter() - t0
    triggers = _progress(q) if q is not None else []
    batches = [p for p in triggers if p.get("numInputRows", 0) > 0]
    return {
        "start": start,
        "started": started,
        "end": start + wall,
        "wall_s": wall,
        "error": error,
        "store": store,
        "det_dir": det_dir,
        "triggers": triggers,
        "progress": batches,
        "trigger_s": [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches],
        "rows": sum(p["numInputRows"] for p in batches),
        "detections": _count_detections(det_dir),
    }


def run(bench, pkg) -> dict:
    """Run the workload; returns the result dict that ``run.py`` turns
    into the output line."""
    n_chunks, chunk_rows = (SMOKE_CHUNKS, SMOKE_CHUNK_ROWS) if bench.smoke else (CHUNKS, CHUNK_ROWS)
    work = bench.work

    # Inputs, generated before any timed set-up step.
    t_gen = time.perf_counter()
    chunks = _feed(pkg, os.path.join(work, "incoming"), n_chunks, chunk_rows, bench.seed)
    warm_chunks = _feed(
        pkg, os.path.join(work, "warm_incoming"), n_chunks, chunk_rows, bench.seed + 1
    )
    imp_path = os.path.join(work, "importance.csv")
    datagen.importance(bench.seed, N_CUSTOMERS, N_MERCHANTS).to_csv(imp_path, index=False)
    bench.phases["feed_s"] = time.perf_counter() - t_gen

    spark = bench.start_session()
    t_warm = time.perf_counter()
    importance = pkg.readers.read_importance(spark, imp_path)
    for i in range(WARM_DRAINS):
        warm = drain(pkg, spark, importance, os.path.dirname(warm_chunks[0]),
                     os.path.join(work, f"warm{i}"))
        if warm["error"]:
            raise RuntimeError(f"warm-up drain failed: {warm['error']}")
    bench.phases["warmup_s"] = time.perf_counter() - t_warm
    bench.setup_done()

    incoming = os.path.dirname(chunks[0])
    drains = [
        drain(pkg, spark, importance, incoming, os.path.join(work, f"d{i}"))
        for i in range(max(1, round(bench.seconds / NOMINAL_DRAIN_S)))
    ]

    # ---- correctness, outside every timed window ----
    expected = expected_detections(chunks, imp_path)
    bad_state = state_mismatches(pkg, drains[-1]["store"], chunks)
    traced = _traced_drains(bench, pkg, incoming, imp_path) if bench.trace else None
    if bench.inject_wrong:
        expected[0] += 1
    checked = drains + (traced["drains"] if traced else [])
    attempted = failed = 0
    errors = []
    for d in checked:
        attempted += len(expected)
        for b, n in expected.items():
            if d["detections"].get(b) != n:
                failed += 1
        if d["error"]:
            errors.append(d["error"])
    if bad_state:
        failed += 1
        errors.append(f"state tables differ from DuckDB: {bad_state}")
    per_layer = _stream_layers(bench, traced, drains) if traced else None
    if per_layer and per_layer["trace.span_coverage"] < MIN_SPAN_COVERAGE:
        failed += 1
        errors.append(f"spans cover {per_layer['trace.span_coverage']:.3f} of a traced "
                      f"drain's wall time, below {MIN_SPAN_COVERAGE}")

    # Spark's numInputRows for the CSV file source reads one more row per
    # chunk than the chunk holds, so it is compared across drains and
    # runs, not with the fed row count.
    counts = None
    for d in checked:
        got = {
            "input_rows": n_chunks * chunk_rows,
            "spark_input_rows": d["rows"],
            "batches": len(d["trigger_s"]),
            "detections": sum(d["detections"].values()),
            "queries": 0,
        }
        if counts is None:
            counts = got
        elif got != counts:
            errors.append(f"work counts differ between drains: {got} != {counts}")
            break
    if counts["batches"] != len(expected) or counts["detections"] != sum(expected.values()):
        errors.append(f"work counts {counts} != expected {len(expected)} batches, "
                      f"{sum(expected.values())} detections")

    rows = counts["input_rows"]
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "counts": counts,
        "metrics": {
            "rows_per_s": statistics.median(rows / d["wall_s"] for d in drains),
            "op_p50_s": statistics.median(t for d in drains for t in d["trigger_s"]),
        },
        "detail": {
            "drains": len(drains),
            "drain_wall_s": [round(d["wall_s"], 4) for d in drains],
            "batch_s": [[round(t, 4) for t in d["trigger_s"]] for d in drains],
            "expected_detections": expected,
        },
    }
    if per_layer:
        result["per_layer"] = per_layer
    return result


# ---------------------------------------------------------------------------
# Traced run
# ---------------------------------------------------------------------------

def _traced_drains(bench, pkg, incoming: str, imp_path: str) -> dict:
    """Restart the session with the event log on, wrap the layers'
    public calls, and drain the same backlog again."""
    spark = bench.restart_session(event_log=True)
    importance = pkg.readers.read_importance(spark, imp_path)
    importance.count()
    tracer = Tracer()
    st = pkg.store_mod
    tracer.wrap(pkg.pipeline.DetectionPipeline, "process_batch",
                "streaming.pipeline.process_batch")

    def merge_before(args, kwargs):
        store, spec = args[0], args[1]
        return store.bucket_versions(spec)

    def merge_after(before, args, kwargs, result):
        after = args[0].bucket_versions(args[1])
        return {"buckets_rewritten": sum(1 for k, v in after.items() if before.get(k) != v)}

    tracer.wrap(st.ParquetStateStore, "merge_batch", "state.store.merge_batch",
                before=merge_before, after=merge_after)
    tracer.wrap(st.ParquetStateStore, "read_state", "state.store.read_state")
    tracer.wrap(pkg.pipeline, "enrich_batch", "patterns.enrich_batch")
    tracer.wrap(pkg.pipeline, "detect_all", "patterns.detect_all")
    tracer.wrap(pkg.pipeline, "write_detections", "streaming.sink.write_detections",
                after=lambda s, a, k, n: {"detections": n})
    try:
        drains = [
            drain(pkg, spark, importance, incoming, os.path.join(bench.work, f"t{i}"))
            for i in range(TRACED_DRAINS)
        ]
    finally:
        tracer.restore()
    for d in drains:
        tracer.add(Span("streaming.query.start", d["start"], d["started"]))
    state_dir = os.path.join(bench.work, f"t{len(drains) - 1}", "state")
    store = st.ParquetStateStore(spark, state_dir)
    state_rows = sum(
        store.read_state(spec).count()
        for spec in (st.MERCHANT_SUMMARY, st.CUSTOMER_MERCHANT_SUMMARY, st.MERCHANT_GENDER_SUMMARY)
    )
    bench.stop_session()  # flushes the event log
    return {"drains": drains, "tracer": tracer, "state_rows": state_rows,
            "state_disk": _disk(state_dir)}


def _disk(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# StreamingQueryProgress.durationMs phases outside addBatch, the phase
# that runs foreachBatch (process_batch).
OUTSIDE_BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                        "commitOffsets")


def _stream_layers(bench, traced: dict, untraced: list[dict]) -> dict:
    tracer, drains = traced["tracer"], traced["drains"]
    batches = tracer.named("streaming.pipeline.process_batch")
    merges = tracer.named("state.store.merge_batch")
    sinks = tracer.named("streaming.sink.write_detections")
    batch_s, self_s, merge_wall = [], [], []
    for b in batches:
        inside = [(s.start, s.end) for s in merges + sinks if b.start <= s.start <= b.end]
        merge_iv = [(s.start, s.end) for s in merges if b.start <= s.start <= b.end]
        batch_s.append(b.duration)
        merge_wall.append(union_seconds(merge_iv))
        self_s.append(b.duration - union_seconds(clipped(inside, b.start, b.end)))
    n_batches = max(1, len(batches))
    trig = [p["durationMs"] for d in drains for p in d["progress"]]

    # Share of each drain's wall time covered by the wrapped layer calls
    # and query start, plus the trigger phases Spark times outside
    # foreachBatch (they never overlap process_batch, so they add).
    coverage = []
    for d in drains:
        ivs = [(s.start, s.end) for s in tracer.spans if d["start"] <= s.start <= d["end"]]
        phases_s = sum(
            p["durationMs"].get(k, 0) for p in d["triggers"] for k in OUTSIDE_BATCH_PHASES
        ) / 1000.0
        covered = union_seconds(clipped(ivs, d["start"], d["end"])) + phases_s
        coverage.append(covered / d["wall_s"])

    spark_totals = spark_event_totals(bench.event_dir, [(b.start, b.end) for b in batches])
    state_files, state_bytes = traced["state_disk"]
    untraced_wall = statistics.median(d["wall_s"] for d in untraced)
    traced_wall = statistics.median(d["wall_s"] for d in drains)
    return {
        "streaming.pipeline.batches": len(batches) / len(drains),
        "streaming.pipeline.batch_s": statistics.median(batch_s),
        "streaming.pipeline.self_s": statistics.median(self_s),
        "spark.jobs_per_op": spark_totals["jobs"] / n_batches,
        "spark.tasks_per_op": spark_totals["tasks"] / n_batches,
        "spark.shuffle_write_mb_per_op": spark_totals["shuffle_write_mb"] / n_batches,
        "spark.spill_mb_per_op": spark_totals["spill_mb"] / n_batches,
        "state.store.merge_calls": len(merges) / len(drains),
        "state.store.merge_busy_s": sum(s.duration for s in merges) / n_batches,
        "state.store.merge_wall_s": statistics.median(merge_wall),
        "state.store.buckets_rewritten": sum(
            s.attrs.get("buckets_rewritten", 0) for s in merges) / n_batches,
        "state.store.rows": traced["state_rows"],
        "state.store.bytes": state_bytes,
        "state.store.files": state_files,
        "streaming.sink.s": statistics.median(s.duration for s in sinks),
        "streaming.sink.detections": sum(s.attrs.get("detections", 0) for s in sinks) / len(drains),
        "streaming.sink.files": _disk(drains[-1]["det_dir"])[0],
        "streaming.trigger.latest_offset_ms": statistics.median(t.get("latestOffset", 0) for t in trig),
        "streaming.trigger.get_batch_ms": statistics.median(t.get("getBatch", 0) for t in trig),
        "streaming.trigger.wal_commit_ms": statistics.median(t.get("walCommit", 0) for t in trig),
        "streaming.trigger.input_rows": sum(p["numInputRows"] for d in drains for p in d["progress"]) / len(drains),
        "trace.span_coverage": min(coverage),
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.overhead_ratio": (traced_wall - untraced_wall) / untraced_wall,
    }
