"""``stream_freshness``: open loop.

A separate generator process (``loadgen.py``) writes one JSON-lines staging
file every ``PERIOD`` seconds at ``RATE`` events per second, on schedule,
whether or not the engine keeps up. The engine streams the directory
through watermark dedup and envelope stamping
(``streaming.pipeline.read_event_stream`` + ``processed_stream``) into
``warehouse_sink``, with the fan-out schemas discovered once during set-up,
so each micro-batch does no discovery and no MERGE. Micro-batches are small,
so per-trigger and per-table-write fixed costs dominate.

Freshness of a file is the commit time of the micro-batch that consumed it
minus the file's due time. Files map to micro-batches through the stream's
source log in the checkpoint, and a batch's commit time is the time its
commit-log entry was written, so no Spark action is added to measure it.

Micro-batches stay slow (5-7 s) for the first few triggers, so a steady
figure needs about four warm-up batches plus several measured ones: a run
takes over a minute. ``BENCHMARK.json`` does not list this workload for
that reason (see README.md); ``warehouse_uploads`` streams a file through the
same sink after its measured phase, so the streaming layer is still measured.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

from cdpbench import gen, loadgen, oracle

RATE = 1_000  # events per second, sustained with headroom
PERIOD = 0.08  # seconds between files
WARMUP_FILES = 4  # streamed one per micro-batch before the generator starts
WARMUP_S = 3.0  # files due in the first WARMUP_S seconds are not timed
START_DELAY_S = 0.5
DRAIN_TIMEOUT_S = 60.0


class StreamFreshness:
    name = "stream_freshness"
    latency_name = "freshness_s"

    def __init__(self, ctx):
        self.ctx = ctx
        self.indir = os.path.join(ctx.inputs, "stream")
        self.outdir = os.path.join(ctx.outputs, "tables")
        self.ckpt = os.path.join(ctx.outputs, "checkpoint")
        self.proc = None
        self.query = None

    def generate(self) -> None:
        os.makedirs(self.indir)
        self.sample = os.path.join(self.ctx.inputs, "schema-sample.json")
        batches = loadgen.stream_batches(self.ctx.seed, round(RATE * PERIOD), PERIOD)
        gen.write_json_lines(gen.json_lines(next(batches)), self.sample)
        # warm-up files: the same shape from another event source, so the
        # warm-up stream compiles and JIT-warms the sink's plans
        self.warmdir = os.path.join(self.ctx.inputs, "warmup")
        os.makedirs(self.warmdir)
        warm = gen.EventSource(self.ctx.seed + 2**32, gen.WAREHOUSE_MIX)
        for k in range(WARMUP_FILES):
            gen.write_json_lines(gen.json_lines(warm.batch(round(RATE * PERIOD) * 5, 1)),
                                 os.path.join(self.warmdir, f"w-{k}.json"))

    def prepare(self, spark) -> None:
        """Engine-side set-up: discover the fan-out schemas and column
        promotions once, from a sample, so micro-batches do no discovery."""
        self.spark = spark
        self.schemas, self.promote = discover_schemas(spark, self.sample)

    def warm_up(self) -> None:
        """Stream the warm-up files one per micro-batch, untimed, then start
        the generator and the measured stream; files due in the first
        WARMUP_S seconds are not timed either."""
        from rudder_server_spark.streaming.pipeline import processed_stream, read_event_stream, warehouse_sink

        spark = self.spark
        stream_backlog(spark, self.warmdir, os.path.join(self.ctx.outputs, "warmup"),
                       self.schemas, self.promote)
        self.count = round((WARMUP_S + self.ctx.seconds) / PERIOD)
        self.start = time.time() + START_DELAY_S
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
             "--dir", self.indir, "--seed", str(self.ctx.seed), "--rate", str(RATE),
             "--period", str(PERIOD), "--start", repr(self.start), "--count", str(self.count)],
            stdout=subprocess.PIPE, text=True,
        )
        stream = processed_stream(read_event_stream(spark, self.indir))
        self.query = (
            stream.writeStream.foreachBatch(warehouse_sink(self.outdir, self.schemas, self.promote))
            .option("checkpointLocation", self.ckpt)
            .outputMode("append")
            .start()
        )
        self.main_t0 = time.perf_counter()
        time.sleep(max(0.0, self.start + WARMUP_S - time.time()))

    def finish(self) -> None:
        pass

    def measure(self, seconds: float) -> dict:
        """Wait out the generator, drain the stream, stop it; freshness of
        every file due after the warm-up is a sample."""
        t0 = time.perf_counter()
        out, _ = self.proc.communicate(timeout=seconds + 30)
        self.late = json.loads(out.strip().splitlines()[-1])["late_s"]
        self._drain()
        self.query.stop()
        elapsed = time.perf_counter() - t0
        self.batch_of = _file_batches(self.ckpt)
        commit_at = {b: os.stat(os.path.join(self.ckpt, "commits", str(b))).st_mtime
                     for b in set(self.batch_of.values())}
        measured_from = self.start + WARMUP_S
        fresh = []
        events = 0
        for name, b in self.batch_of.items():
            due = loadgen.due_of(name)
            if due >= measured_from:
                fresh.append(commit_at[b] - due)
                events += _lines(os.path.join(self.indir, name))
        return {"samples": fresh, "events": events, "attempted": len(fresh), "elapsed": elapsed}

    def _drain(self) -> None:
        deadline = time.time() + DRAIN_TIMEOUT_S
        want = self.count
        while time.time() < deadline:
            batches = _file_batches(self.ckpt)
            if len(batches) >= want and all(
                os.path.exists(os.path.join(self.ckpt, "commits", str(b))) for b in set(batches.values())
            ):
                return
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            time.sleep(0.2)
        raise RuntimeError(f"stream did not consume all {want} files within {DRAIN_TIMEOUT_S:.0f} s")

    def verify(self, duck) -> list[tuple[str, str]]:
        """(table, problem) where a generated event did not land exactly once."""
        return verify_streamed(duck, os.path.join(self.indir, "f-*.json"), self.outdir)

    def layer_metrics(self, units_spans) -> dict:
        files_per_batch: dict[int, int] = {}
        for b in self.batch_of.values():
            files_per_batch[b] = files_per_batch.get(b, 0) + 1
        return {
            **stream_layer_metrics(self.ctx.tracer, self.query, self.main_t0),
            "streaming.backlog_files.max": max(files_per_batch.values(), default=0),
            "loadgen.late_s.max": max(self.late, default=0.0),
        }

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def discover_schemas(spark, sample: str) -> tuple:
    """(fan-out schemas, promoted columns) discovered from the staging
    file ``sample``, for a ``warehouse_sink`` that does no discovery."""
    from rudder_server_spark.operators.envelope import normalize_envelope
    from rudder_server_spark.operators.event_tables import discover_fanout_schemas, fanout_flat_schema
    from rudder_server_spark.operators.flatten import discover_promotions
    from rudder_server_spark.sources.staging import read_staging_files
    from rudder_server_spark.streaming.pipeline import ENVELOPE_SCHEMA

    env = normalize_envelope(read_staging_files(spark, sample, schema=ENVELOPE_SCHEMA))
    schemas = discover_fanout_schemas(env)
    return schemas, discover_promotions(env, fanout_flat_schema(schemas))


def stream_backlog(spark, indir: str, outdir: str, schemas: dict, promote: set):
    """Stream every file already in ``indir``, one per micro-batch,
    through dedup and envelope into ``warehouse_sink(outdir)``; returns the
    finished query (its ``recentProgress`` holds the batches)."""
    from rudder_server_spark.streaming.pipeline import processed_stream, read_event_stream, warehouse_sink

    query = (
        processed_stream(read_event_stream(spark, indir, max_files_per_trigger=1))
        .writeStream.foreachBatch(warehouse_sink(outdir, schemas, promote))
        .option("checkpointLocation", outdir + "-checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise RuntimeError(f"stream of {indir} did not finish within {DRAIN_TIMEOUT_S:.0f} s")
    return query


def verify_streamed(duck, files: str, outdir: str) -> list[tuple[str, str]]:
    """(table, problem) where an event of the staging ``files`` (a glob)
    did not land exactly once in the sink's tables under ``outdir``."""
    expected = oracle.stream_expected(duck, files)
    landed = oracle.stream_landed(duck, outdir)
    problems = []
    for table, n in expected.items():
        rows, distinct = landed[table]
        if rows != n or distinct != n:
            problems.append((table, f"{n} distinct events generated, {rows} rows / {distinct} ids landed"))
    return problems


def stream_layer_metrics(tracer, query, t0: float, t1: float = float("inf")) -> dict:
    """Streaming-layer figures of ``query``'s micro-batches and of the sink
    spans that started between ``t0`` and ``t1`` (traced run)."""
    from cdpbench import trace
    from cdpbench.stats import summary

    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    sinks = [s for s in tracer.spans if s.name == "streaming.sink" and t0 <= s.t0 < t1]
    tracer.count_jobs([s for s in tracer.spans if t0 <= s.t0 < t1])
    kids = trace.children_of(tracer.spans)
    return {
        "streaming.sink_s": summary([s.dur for s in sinks]),
        "streaming.trigger_overhead_s": summary([
            (p.durationMs.get("triggerExecution", 0) - p.durationMs.get("addBatch", 0)) / 1e3
            for p in progress]),
        "streaming.batch_events.p50": summary([p.numInputRows for p in progress]),
        "streaming.state_rows": progress[-1].stateOperators[0].numRowsTotal if progress else 0,
        "spark.jobs.streaming_sink": summary([trace.jobs_in(s, kids) for s in sinks]),
    }


def _file_batches(ckpt: str) -> dict[str, int]:
    """Generated file name -> micro-batch id, from the file source's log
    (``sources/0/<batch>`` entries, folded into ``.compact`` files every
    few batches)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)
