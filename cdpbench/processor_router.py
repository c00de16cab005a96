"""``processor_router``: closed loop, one client.

Gateway batches (envelope columns only) go through the processor
(``pipeline_batch.run_batch_pipeline``: dedup, suppression, source gate,
destination fan-out, consent and message-type filters) into a parquet
jobs table, and the router reads the delivered jobs back, throttles them
per destination (``operators.router.throttle_pickup``), delivers them to a
mock destination that fails a fixed share of jobs, schedules the failures
(``operators.router.retry_backoff``) and writes the outcomes to parquet.
This stresses the dedup shuffle, the broadcast fan-out joins and the router
window; no JSON is parsed.
"""

from __future__ import annotations

import os

from cdpbench import gen, oracle

BATCH_EVENTS = 150_000
WARMUP_EVENTS = 20_000
BATCH_SPAN_S = 3600  # one throttle window per destination per batch
N_FILES = 2  # distinct batches the loop cycles through
MAX_ATTEMPTS = 3
JOB_COLS = ("message_id", "destination_id", "received_at", "status")
OUT_COLS = ("message_id", "destination_id", "outcome", "attempt", "backoff_s", "next_retry_at")


class ProcessorRouter:
    name = "processor_router"
    latency_name = "processor_batch_s"

    def __init__(self, ctx):
        self.ctx = ctx
        self.ws = gen.workspace(ctx.seed)
        self.files: list[str] = []
        self.units: list[dict] = []

    def generate(self) -> None:
        src = gen.EventSource(self.ctx.seed)
        for k in range(N_FILES + 1):  # file 0, smaller, warms the JVM up, untimed
            path = os.path.join(self.ctx.inputs, f"gateway-{k}.parquet")
            n = WARMUP_EVENTS if k == 0 else BATCH_EVENTS
            gen.write_parquet(gen.envelope_table(src.batch(n, BATCH_SPAN_S)), path)
            self.files.append(path)

    def prepare(self, spark) -> None:
        """Engine-side set-up: the workspace config and suppression list."""
        from rudder_server_spark.sources.config import load_workspace_config

        self.spark = spark
        self.cfg = load_workspace_config(spark, self.ws["config"])
        self.suppressed = spark.createDataFrame([(u,) for u in self.ws["suppressed"]], "user_id long")

    def warm_up(self) -> None:
        """One small batch, untimed, so the measured ones run JIT-compiled."""
        self._run(self.files[0], "warmup")

    def finish(self) -> None:
        pass

    def close(self) -> None:
        pass

    def unit(self, i: int) -> int:
        """One gateway batch through processor and router; returns the
        number of gateway events it consumed."""
        path = self.files[1 + i % N_FILES]
        counts = self._run(path, f"u{i:04d}")
        self.units.append({"file": path, "out": self._out(f"u{i:04d}"), "counts": counts})
        return counts["1_input"]

    def _out(self, tag: str) -> str:
        return os.path.join(self.ctx.outputs, "router", tag)

    def _run(self, path: str, tag: str) -> dict:
        from pyspark.sql import functions as F

        from rudder_server_spark.operators.router import retry_backoff, throttle_pickup
        from rudder_server_spark.pipeline_batch import run_batch_pipeline

        spark, tr = self.spark, self.ctx.tracer
        jobs_dir = os.path.join(self.ctx.outputs, "jobsdb", tag)
        with tr.span("pipeline_batch"):
            out = run_batch_pipeline(
                spark.read.parquet(path), self.cfg, suppression=self.suppressed,
                denied_col="denied_consent_ids", cache_stages=True,
            )
            counts = {r["stage"]: r["n"] for r in out["stage_counts"].collect()}
            out["jobs"].select(*JOB_COLS).write.parquet(jobs_dir)
            spark.catalog.clearCache()  # the batch's cached dedup output
        with tr.span("operators.router"):
            jobs = spark.read.parquet(jobs_dir).where(F.col("status") == "ok")
            picked = throttle_pickup(
                jobs, ts_col="received_at", order_col="message_id",
                caps=self.ws["caps"], default_cap=self.ws["default_cap"], window="hour",
            )
            failed, attempt = mock_delivery(self.ws["fail_pct"])
            tried = picked.withColumn("failed", F.col("picked") & failed).withColumn(
                "attempt", F.when(F.col("failed"), attempt).otherwise(F.lit(1))
            )
            res = retry_backoff(tried, ts_col="received_at", max_attempts=MAX_ATTEMPTS)
            outcome = (
                F.when(~F.col("picked"), "deferred")
                .when(~F.col("failed"), "delivered")
                .when(F.col("aborted"), "aborted")
                .otherwise("retry")
            )
            res.withColumn("outcome", outcome).select(*OUT_COLS).write.parquet(self._out(tag))
        return counts

    def verify(self, duck) -> list[tuple[str, str]]:
        """(unit, problem) for every output that differs from the oracle."""
        problems = []
        expected = {}
        for u in self.units:
            if u["file"] not in expected:
                expected[u["file"]] = oracle.processor_expected(duck, u["file"], self.ws, MAX_ATTEMPTS)
            exp = expected[u["file"]]
            got = oracle.router_outcomes(duck, u["out"])
            if got != exp["outcomes"]:
                problems.append((u["out"], "per-destination outcomes differ from the oracle: "
                                 + oracle.diff(exp["outcomes"], got)))
            for stage, n in exp["stages"].items():
                if u["counts"].get(stage) != n:
                    problems.append((u["out"], f"stage {stage} has {u['counts'].get(stage)} rows, oracle {n}"))
        return problems

    def layer_metrics(self, units_spans) -> dict:
        """Per-layer figures of the measured batches (traced run)."""
        from cdpbench import trace
        from cdpbench.stats import summary

        stages = [u["counts"] for u in self.units]
        duck = oracle.connect(1)
        totals = [oracle.totals_by_outcome(oracle.router_outcomes(duck, u["out"])) for u in self.units]
        duck.close()
        kids = trace.children_of(self.ctx.tracer.spans)
        return {
            "pipeline_batch.run_s": summary([trace.time_in(r, "pipeline_batch", kids) for r in units_spans]),
            "operators.filters.dedup_drop_ratio": _ratio(
                sum(c["1_input"] - c["2_deduped"] for c in stages), sum(c["1_input"] for c in stages)),
            "operators.filters.fanout_ratio": _ratio(
                sum(c["4_fanned_out"] for c in stages), sum(c["3_suppressed"] for c in stages)),
            "operators.router.throttle_s": summary([trace.time_in(r, "operators.router", kids) for r in units_spans]),
            "operators.router.deferred_ratio": _ratio(
                sum(t.get("deferred", 0) for t in totals), sum(sum(t.values()) for t in totals)),
            "spark.jobs.pipeline_batch": summary([
                sum(trace.jobs_in(s, kids) for s in trace.subtree(r, kids) if s.name == "pipeline_batch")
                for r in units_spans]),
        }


def mock_delivery(fail_pct: dict):
    """(failed, prior attempts) column expressions of the mock destination:
    destination ``dst-j`` fails a job when a fixed integer hash of the
    message number and ``j`` falls below its failure percentage; a failed
    job's attempt number (1..3) comes from a second hash. The oracle
    computes the same arithmetic in SQL."""
    from pyspark.sql import functions as F

    n = F.substring("message_id", 5, 64).cast("long")
    j = F.substring("destination_id", 5, 64).cast("long")
    pct = F.lit(0)
    for dest, p in sorted(fail_pct.items()):
        pct = F.when(F.col("destination_id") == dest, F.lit(p)).otherwise(pct)
    failed = F.pmod(n * 2654435761 + j * 40503, F.lit(100)) < pct
    attempt = 1 + F.pmod(n * 40503 + j, F.lit(MAX_ATTEMPTS))
    return failed, attempt


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0
