"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``stage(seed, out_dir)`` generates the seeded inputs and writes them
  where the engine reads them (set-up; repeated, each copy in its own
  directory, so every timed unit starts with cold per-directory caches);
- ``prepare(ctx, in_dir)`` runs once, untimed, before timing: a checked
  warm-up;
- ``unit(ctx, in_dir, tracer)`` is one unit of timed work and returns
  its wall time, one latency per operation, and the outputs to check;
- ``check(ctx, in_dir, result)`` verifies those outputs outside the
  timed region and returns the number of failed operations.

Why these two: ``stream_causal_once`` is the paper's loop (state store,
micro-batch driver, write-then-commit sink) with almost no relational
or ANN work; ``llm_pipeline`` is the Python/Arrow boundary, the
iterative loops, the artifact memo and the relational operators under
them (scans, shuffles, aggregates), behind cold index builds.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from layers import StatusStore, Tracer, median, traced_loads

# Scale of the LLM pipeline's input tables (lineitem = 6M x SF rows).
SF = 0.01

# The dedup / ANN / graph / UDF mix. Two anchors are left out, as the
# run budget cannot carry them: q_sim_ivfadc_serving (cold, mostly its
# ~5 s IVFADC index build; its DuckDB oracle takes 10 s) and
# q_dedup_lsh_groups (~12 s a run between its oracle and the timed pass).
LLM_QUERIES = (
    "q_dedup_embedding_pruned",
    "q_dedup_embedding_ivf",
    "q_graph_components",
    "q_graph_pagerank",
    "q_udf_cogroup",
)

# Cold builds timed before the mix, each with the artifact memo cleared:
# the benchlib.INDEX_BUILDS entries behind the ANN queries. The IVFADC
# builds and the store / postings builds (~23 s together on a 4-core
# host) do not fit the run budget.
LLM_BUILDS = (
    "build_pq_codebook",
    "build_lsh_signatures",
)

# The stream: slices (one file per topic each, one micro-batch each) and
# events per slice before delays and redelivery (gen.event_log). Each
# micro-batch costs ~3-4 s on a 4-core host almost regardless of its
# size, so the slice count sets the sample count.
STREAM_FILES = 8
STREAM_PER_FILE = 5000
STREAM_WATERMARK = "35 days"
WARMUP_SLICES = 2


@dataclass
class Ctx:
    """What a workload needs from the run: the session, the registry,
    a scratch directory, and a progress logger."""

    spark: object
    queries: dict
    oracles: dict
    work: str
    log: object


@dataclass
class UnitResult:
    wall_s: float
    latencies: list
    attempted: int
    failed: int
    outputs: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    sql_executions: int = 0


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


class _Collected:
    """Already-collected rows in the shape ``tests.parity.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _canon(out) -> list:
    from tests.parity import _canon_rows

    cols, rows = out
    return _canon_rows([c.lower() for c in cols], rows)


def _failed(ctx: Ctx, name: str, exc: Exception) -> None:
    ctx.log(op=name, ok=False, error=f"{type(exc).__name__}: {exc}"[:300])


class LlmPipeline:
    """Cold index builds, then the serving/eval mix, one client, back to
    back. The mix's callers receive rows, so each query is materialized
    by collect. ``prepare`` runs the index builds once and then the
    oracle pass: every query is built, collected and compared with its
    DuckDB oracle on the same inputs (the repo's parity
    canonicalization). This warms the JVM and the Python worker pool,
    so a unit's builds are cold only in the artifact memo. The check
    compares each timed query's rows with the oracle pass's."""

    name = "llm_pipeline"
    op = "query"
    # each query's time varies ~10% from unit to unit; two units a run
    # steady the medians
    min_units = 2

    def __init__(self):
        self.expected: dict = {}

    def stage(self, seed: int, out_dir: str) -> None:
        gen.write_tables(gen.all_tables(seed, SF), out_dir)

    def prepare(self, ctx: Ctx, in_dir: str) -> tuple[int, int]:
        import duckdb

        from distributed_causal_stream_processing_spark.benchlib import (
            time_index_builds,
        )
        from tests.parity import compare, register_duck_views

        failed = 0
        for name in LLM_BUILDS:
            t0 = time.perf_counter()
            try:
                time_index_builds(ctx.spark, in_dir, names=[name])
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                failed += 1
                _failed(ctx, name, exc)
                continue
            ctx.log(op=name, s=round(time.perf_counter() - t0, 4), ok=True)
        con = duckdb.connect()
        try:
            register_duck_views(con, in_dir)
            for name in LLM_QUERIES:
                t0 = time.perf_counter()
                try:
                    out = _collect(ctx.queries[name](ctx.spark, in_dir))
                    compare(_Collected(*out), con, ctx.oracles[name])
                except Exception as exc:  # noqa: BLE001 — a mismatch is a failed op
                    failed += 1
                    _failed(ctx, name, exc)
                    continue
                self.expected[name] = _canon(out)
                ctx.log(op=name, s=round(time.perf_counter() - t0, 4), ok=True)
        finally:
            con.close()
        return len(LLM_BUILDS) + len(LLM_QUERIES), failed

    def unit(self, ctx: Ctx, in_dir: str, tracer: Tracer) -> UnitResult:
        from distributed_causal_stream_processing_spark.benchlib import (
            time_index_builds,
        )

        status = StatusStore(ctx.spark)
        first = status.last_id()
        res = UnitResult(0.0, [], 0, 0)
        builds = {}
        t_unit = time.perf_counter()
        with traced_loads(tracer):
            for name in LLM_BUILDS:
                res.attempted += 1
                mark = tracer.mark(status)
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"index_build.{name}", op=name):
                        time_index_builds(ctx.spark, in_dir, names=[name])
                except Exception as exc:  # noqa: BLE001 — counted, run continues
                    res.failed += 1
                    _failed(ctx, name, exc)
                    continue
                builds[name] = time.perf_counter() - t0
                tracer.read(status, mark)
                ctx.log(op=name, s=round(builds[name], 4), ok=True)
            for name in LLM_QUERIES:
                res.attempted += 1
                mark = tracer.mark(status)
                t0 = time.perf_counter()
                try:
                    with tracer.span("query.build", op=name):
                        df = ctx.queries[name](ctx.spark, in_dir)
                    t1 = time.perf_counter()
                    with tracer.span("query.exec", op=name):
                        res.outputs[name] = _collect(df)
                except Exception as exc:  # noqa: BLE001 — counted, run continues
                    res.failed += 1
                    _failed(ctx, name, exc)
                    continue
                t2 = time.perf_counter()
                res.latencies.append(t2 - t0)
                tracer.count("query.build_s", t1 - t0)
                tracer.count("query.exec_s", t2 - t1)
                tracer.read(status, mark, "query.sql_executions")
                ctx.log(op=name, s=round(t2 - t0, 4), ok=True)
        res.wall_s = time.perf_counter() - t_unit
        res.sql_executions = len(status.ids_after(first))
        res.layer = {f"index_build.{n}_s": s for n, s in builds.items()}
        res.layer["index_build_s"] = sum(builds.values())
        return res

    def check(self, ctx: Ctx, in_dir: str, res: UnitResult) -> int:
        failed = 0
        for name, out in res.outputs.items():
            if _canon(out) != self.expected.get(name):
                failed += 1
                ctx.log(op=name, ok=False, error="rows differ from the oracle pass")
        return failed


def sequence_reference(slices: list[pd.DataFrame]) -> pd.DataFrame:
    """Brute-force per-key causal sequencing, one row at a time, in
    delivery order: micro-batch i is slice i; within it rows go in
    (ts, event_id) order. Each row takes the key's next sequence
    number; a row at or before the key's last on-time row (by ts, then
    event_id) as of the start of its micro-batch is late."""
    last: dict[int, tuple[int, int]] = {}
    seq: dict[int, int] = {}
    out = []
    for i, batch in enumerate(slices):
        carry = dict(last)
        for r in batch.sort_values(["ts", "event_id"], kind="mergesort").itertuples():
            key, mark = r.user_id, (r.ts.value // 1000, r.event_id)
            late = key in carry and mark <= carry[key]
            seq[key] = seq.get(key, 0) + 1
            if not late:
                last[key] = mark
            out.append((i, key, r.event_id, mark[0], seq[key], late))
    return pd.DataFrame(
        out, columns=["batch_id", "user_id", "event_id", "ts_us", "seq", "late"]
    )


class StreamCausalOnce:
    name = "stream_causal_once"
    op = "batch"
    min_units = 1  # eight micro-batches already give the median batch
    EVENT_ARROW = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )

    def stage(self, seed: int, out_dir: str) -> None:
        """Write the log as one parquet file per (topic, slice); file
        mtimes increase with the slice, so with maxFilesPerTrigger=1
        micro-batch i reads slice i of both topics."""
        slices = gen.event_log(seed, STREAM_FILES, STREAM_PER_FILE)
        base = time.time() - 10 * STREAM_FILES
        for topic in (0, 1):
            tdir = os.path.join(out_dir, f"topic{topic}")
            os.makedirs(tdir, exist_ok=True)
            for i, s in enumerate(slices):
                part = s[s["topic"] == topic].drop(columns="topic")
                path = os.path.join(tdir, f"slice-{i:04d}.parquet")
                pq.write_table(
                    pa.Table.from_pandas(part, preserve_index=False).cast(
                        self.EVENT_ARROW
                    ),
                    path,
                )
                os.utime(path, (base + i, base + i))

    def prepare(self, ctx: Ctx, in_dir: str) -> tuple[int, int]:
        """Warm-up: replay the first WARMUP_SLICES slices (starts the
        Python workers, JIT-compiles the micro-batch path: batch times
        fall for the first few batches of a session), checked like a
        unit."""
        warm = os.path.join(ctx.work, "warm")
        for t in (0, 1):
            os.makedirs(os.path.join(warm, f"topic{t}"), exist_ok=True)
            for i in range(WARMUP_SLICES):
                name = os.path.join(f"topic{t}", f"slice-{i:04d}.parquet")
                shutil.copy2(os.path.join(in_dir, name), os.path.join(warm, name))
        res = self.unit(ctx, warm, Tracer(False))
        return res.attempted, res.failed + self.check(ctx, warm, res)

    def unit(self, ctx: Ctx, in_dir: str, tracer: Tracer) -> UnitResult:
        """One catch-up replay of the whole log into a fresh sink and
        checkpoint: two file topics unioned, sequenced per key, written
        by IdempotentForeachBatchSink under the recommended state
        config. Closed loop: the engine takes the next slice only after
        the previous micro-batch committed."""
        from distributed_causal_stream_processing_spark.session import (
            recommended_streaming_state,
        )
        from distributed_causal_stream_processing_spark.streaming.causal import (
            causal_sequence_stream,
        )
        from distributed_causal_stream_processing_spark.streaming.jobs import (
            IdempotentForeachBatchSink,
            events_stream,
        )

        spark = ctx.spark
        root = os.path.join(ctx.work, f"sink-{os.path.basename(in_dir)}")
        shutil.rmtree(root, ignore_errors=True)
        sink = IdempotentForeachBatchSink(root)
        committed: dict[int, float] = {}
        process_s: list[float] = []

        def process(df, batch_id):
            t0 = time.perf_counter()
            with tracer.span("sink.process", op=f"batch{batch_id}"):
                sink.process(df, batch_id)
            process_s.append(time.perf_counter() - t0)
            committed[batch_id] = time.time()
            ctx.log(op=f"batch{batch_id}", s=round(process_s[-1], 4), ok=True)

        status = StatusStore(spark)
        first = status.last_id()
        t0 = time.perf_counter()
        with tracer.span("stream.replay", op="replay"), recommended_streaming_state(spark):
            topics = [
                events_stream(spark, os.path.join(in_dir, f"topic{t}"), STREAM_WATERMARK)
                .select("event_id", "ts", "user_id")
                for t in (0, 1)
            ]
            q = (
                causal_sequence_stream(topics[0].unionByName(topics[1]))
                .writeStream.foreachBatch(process)
                .option("checkpointLocation", os.path.join(root, "_checkpoint"))
                .outputMode("append")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                progress = [p for p in q.recentProgress if p.numInputRows > 0]
                q.stop()
        wall = time.perf_counter() - t0
        ids = status.ids_after(first)
        latencies = []
        for p in progress:
            start = pd.Timestamp(p.timestamp).timestamp()
            if p.batchId in committed:
                latencies.append(committed[p.batchId] - start)
        n = _n_slices(in_dir)
        # operations: each micro-batch, plus the check's row-total and
        # re-feed operations
        res = UnitResult(wall, latencies, n + 2, n - len(committed))
        res.sql_executions = len(ids)
        res.outputs = {"sink": sink}
        res.layer = _stream_layers(progress, process_s, len(ids))
        res.layer["events"] = sum(p.numInputRows for p in progress)
        tracer.read(status, first, "query.sql_executions")
        return res

    def check(self, ctx: Ctx, in_dir: str, res: UnitResult) -> int:
        """(1) every committed row's (seq, late) equals the brute-force
        replay's, batch by batch; (2) committed rows == delivered rows;
        (3) re-feeding a committed batch id writes nothing."""
        sink = res.outputs["sink"]
        n = _n_slices(in_dir)
        slices = [
            pd.concat(
                [
                    pq.read_table(
                        os.path.join(in_dir, f"topic{t}", f"slice-{i:04d}.parquet")
                    ).to_pandas()
                    for t in (0, 1)
                ],
                ignore_index=True,
            )
            for i in range(n)
        ]
        ref = sequence_reference(slices)
        got = (
            sink.read_all(ctx.spark)
            .selectExpr(
                r"int(regexp_extract(input_file_name(), 'batch_id=(\\d+)', 1)) AS batch_id",
                "user_id",
                "event_id",
                "unix_micros(ts) AS ts_us",
                "seq",
                "late",
            )
            .toPandas()
        )
        failed = 0
        for b in range(n):
            want = _rows(ref[ref["batch_id"] == b])
            have = _rows(got[got["batch_id"] == b])
            if want != have:
                failed += 1
                ctx.log(op=f"batch{b}", ok=False,
                        error=f"{len(have)} rows vs {len(want)} expected or (seq, late) differ")
        delivered = sum(len(s) for s in slices)
        if len(got) != delivered:
            failed += 1
            ctx.log(op="row_count", ok=False,
                    error=f"committed {len(got)} rows, delivered {delivered}")
        if not _refeed(ctx, sink):
            failed += 1
            ctx.log(op="refeed", ok=False, error="replayed batch was rewritten")
        return failed


def _n_slices(in_dir: str) -> int:
    return len(os.listdir(os.path.join(in_dir, "topic0")))


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = ["user_id", "event_id", "ts_us", "seq", "late"]
    return sorted(
        (int(u), int(e), int(t), int(q), bool(late))
        for u, e, t, q, late in df[cols].itertuples(index=False)
    )


def _snapshot(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        if "_checkpoint" in d:
            continue
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _refeed(ctx: Ctx, sink) -> bool:
    """Hand the sink an already committed batch id again, as a replay
    after a crash would; True if it was skipped (no file written or
    changed)."""
    batch_id = max(sink._committed_ids())
    before = _snapshot(sink.root)
    sink.process(ctx.spark.range(3).toDF("event_id"), batch_id)
    return _snapshot(sink.root) == before


def _stream_layers(progress, process_s: list[float], n_sql: int) -> dict:
    def per_batch(get):
        return median([get(p) for p in progress])

    def state(p, key):
        return sum(getattr(s, key) for s in p.stateOperators)

    def custom(p, key):
        return sum(s.customMetrics.get(key, 0) for s in p.stateOperators)

    return {
        "stream.trigger_ms": per_batch(lambda p: p.durationMs.get("triggerExecution", 0)),
        "stream.add_batch_ms": per_batch(lambda p: p.durationMs.get("addBatch", 0)),
        "stream.query_planning_ms": per_batch(lambda p: p.durationMs.get("queryPlanning", 0)),
        "stream.wal_commit_ms": per_batch(lambda p: p.durationMs.get("walCommit", 0)),
        "stream.commit_offsets_ms": per_batch(lambda p: p.durationMs.get("commitOffsets", 0)),
        "state.rows_total": state(progress[-1], "numRowsTotal") if progress else 0,
        "state.rows_updated": sum(state(p, "numRowsUpdated") for p in progress),
        "state.updates_ms": per_batch(lambda p: state(p, "allUpdatesTimeMs")),
        "state.commit_ms": per_batch(lambda p: state(p, "commitTimeMs")),
        "state.memory_bytes": state(progress[-1], "memoryUsedBytes") if progress else 0,
        "state.instances": state(progress[-1], "numStateStoreInstances") if progress else 0,
        "state.rocksdb_file_sync_ms": per_batch(
            lambda p: custom(p, "rocksdbCommitFileSyncLatencyMs")
        ),
        "state.rocksdb_load_ms": per_batch(lambda p: custom(p, "rocksdbLoadLatencyMs")),
        "sink.process_s": median(process_s),
        "sink.sql_executions_per_batch": n_sql / len(progress) if progress else 0,
    }


WORKLOADS = {w.name: w for w in (StreamCausalOnce(), LlmPipeline())}
