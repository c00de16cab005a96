"""``warehouse_uploads``: closed loop, one client.

A sequence of staging uploads (JSON lines with payloads) is MERGE-committed
into one warehouse directory that grows with every upload
(``pipeline_warehouse.run_warehouse_upload``: dedup, per-row JSON schema
discovery and flatten, identity connected components, per-table
``load_commit.commit_merge``, which reads the live snapshot and rewrites
it); each upload also redelivers events of the one before it. Warm-up
commits the first two uploads, untimed: upload 0 creates the tables and
upload 1 is the first MERGE into live ones. Measured without upload 1 the
first MERGE carried the JIT warm-up of the MERGE path: it took 1.0-1.8x as
long as the next upload and under host CPU steal swung 13-33 s. In the
traced run, after the measured phase and untimed, the first upload is
replayed, which every table must refuse, and a staging file is streamed
through ``warehouse_sink``, so the streaming layer is measured in this
workload too (freshness under open-loop load is ``stream_freshness``). Both run after the measured uploads because running
them before made the measured upload slower and less steady, and only when
traced because they add 11-20 s to a run that measures none of them. The
processor and router do no work here.
"""

from __future__ import annotations

import os
import time

from cdpbench import gen, oracle
from cdpbench.stream_freshness import discover_schemas, stream_backlog, stream_layer_metrics, verify_streamed

UPLOAD_EVENTS = 5_000
UPLOAD_SPAN_S = 600
WARM_UPLOADS = 2  # committed untimed before the measured uploads
N_UPLOADS = 3  # measured uploads generated: more than the loop commits in a run of under 20 s
TAIL_FILES = 1  # staging files streamed after the measured phase
TAIL_EVENTS = 2_000


class WarehouseUploads:
    name = "warehouse_uploads"
    latency_name = "upload_s"

    def __init__(self, ctx):
        self.ctx = ctx
        self.files: list[str] = []
        self.units: list[dict] = []
        self.warehouse = os.path.join(ctx.outputs, "warehouse")
        self.taildir = os.path.join(ctx.inputs, "tail")
        self.tail_out = os.path.join(ctx.outputs, "tail")
        self.replay = None

    def generate(self) -> None:
        src = gen.EventSource(self.ctx.seed, gen.WAREHOUSE_MIX)
        for k in range(WARM_UPLOADS + N_UPLOADS):
            path = os.path.join(self.ctx.inputs, f"staging-{k:03d}.json")
            gen.write_json_lines(gen.json_lines(src.batch(UPLOAD_EVENTS, UPLOAD_SPAN_S)), path)
            self.files.append(path)
        os.makedirs(self.taildir)
        tail = gen.EventSource(self.ctx.seed + 2**32, gen.WAREHOUSE_MIX)
        for k in range(TAIL_FILES):
            gen.write_json_lines(gen.json_lines(tail.batch(TAIL_EVENTS, 60)),
                                 os.path.join(self.taildir, f"t-{k}.json"))

    def prepare(self, spark) -> None:
        """No engine-side state to build: the warehouse starts empty."""
        self.spark = spark

    def warm_up(self) -> None:
        """Commit the warm-up uploads untimed: they JIT-warm the create and
        MERGE paths and give the measured uploads live snapshots to MERGE
        into."""
        self.warm = [self._commit(k, "pipeline_warehouse") for k in range(WARM_UPLOADS)]

    def finish(self) -> None:
        """Traced run only, untimed: replay upload 0, which every table must
        refuse, then stream the tail files one per micro-batch into
        ``warehouse_sink`` with schemas discovered once."""
        tr = self.ctx.tracer
        if not tr.enabled:
            return
        self.replay = self._upload("upload-000", self.files[0], "pipeline_warehouse.replay")
        self.tail_t0 = time.perf_counter()
        with tr.span("streaming.discover"):
            schemas, promote = discover_schemas(self.spark, os.path.join(self.taildir, "t-0.json"))
        self.tail = stream_backlog(self.spark, self.taildir, self.tail_out, schemas, promote)
        self.tail_t1 = time.perf_counter()

    def close(self) -> None:
        pass

    def _upload(self, upload_id: str, path: str, span: str) -> dict:
        from rudder_server_spark.pipeline_warehouse import run_warehouse_upload
        from rudder_server_spark.sources.staging import read_staging_files
        from rudder_server_spark.streaming.pipeline import ENVELOPE_SCHEMA

        with self.ctx.tracer.span(span):
            events = read_staging_files(self.spark, path, schema=ENVELOPE_SCHEMA)
            out = run_warehouse_upload(self.spark, events, self.warehouse, upload_id)
            counts = {r["table_name"]: r["n"] for r in out["counts"].collect()}
        return {"committed": out["committed"], "counts": counts}

    def _commit(self, k: int, span: str) -> dict:
        upload_id, path = f"upload-{k:03d}", self.files[k]
        return {"id": upload_id, "file": path, **self._upload(upload_id, path, span)}

    def unit(self, i: int) -> int:
        """Commit the next upload; returns the staged events it committed."""
        if i >= N_UPLOADS:
            raise RuntimeError(f"ran out of generated uploads after {i}; raise N_UPLOADS")
        self.units.append(self._commit(WARM_UPLOADS + i, "pipeline_warehouse"))
        return _lines(self.units[-1]["file"])

    def verify(self, duck) -> list[tuple[str, str]]:
        """(unit, problem) for every landed count that differs from the
        oracle and, in the traced run, a replay that was not refused and a
        tail event that did not land exactly once."""
        problems = []
        committed = []
        for u in self.warm + self.units:
            committed.append(u["file"])
            expected = oracle.warehouse_expected(duck, committed)
            if not all(u["committed"].values()):
                problems.append((u["id"], "refused on some table"))
            if u["counts"] != expected:
                problems.append((u["id"], "landed rows differ: " + oracle.diff(expected, u["counts"])))
        if self.replay is None:
            return problems
        # the replay runs after the last upload and must leave every table as it was
        if any(self.replay["committed"].values()):
            took = sorted(t for t, c in self.replay["committed"].items() if c)
            problems.append(("replay", f"upload-000 was committed again on {took}"))
        if self.replay["counts"] != expected:
            problems.append(("replay", "replay changed landed rows: " + oracle.diff(expected, self.replay["counts"])))
        problems += [(f"tail {t}", p) for t, p in
                     verify_streamed(duck, os.path.join(self.taildir, "*.json"), self.tail_out)]
        return problems

    def layer_metrics(self, units_spans) -> dict:
        """Per-layer figures of the measured uploads, the replay and the
        streamed tail (traced run; the closed loop counted the uploads' jobs)."""
        from cdpbench import trace
        from cdpbench.stats import summary

        tr = self.ctx.tracer
        streaming = stream_layer_metrics(tr, self.tail, self.tail_t0, self.tail_t1)
        replays = [s for s in tr.spans if s.name == "pipeline_warehouse.replay"]
        tr.count_jobs(replays)
        kids = trace.children_of(tr.spans)
        uploads = list(zip(self.units, units_spans))

        def per_upload(*names):
            return summary([sum(trace.time_in(r, n, kids) for n in names) for _, r in uploads])

        return {
            **streaming,
            "operators.event_tables.discover_s": per_upload(
                "operators.event_tables.discover_fanout_schemas", "operators.flatten.discover_promotions"),
            "operators.identity.connected_components_s": per_upload("operators.identity.connected_components"),
            "sources.load_commit.commit_merge_s": per_upload("sources.load_commit.commit_merge"),
            "sources.load_commit.rows_rewritten_ratio": summary(
                [_rewrite_ratio(u["counts"], prev["counts"])
                 for (u, _), prev in zip(uploads, self.warm[-1:] + [u for u, _ in uploads])]),
            "sources.load_commit.bytes_written": summary(
                [_bytes_written(self.warehouse, u["id"]) for u, _ in uploads]),
            "pipeline_warehouse.replay_s": summary([r.dur for r in replays]),
            "spark.jobs.pipeline_warehouse": summary([trace.jobs_in(r, kids) for _, r in uploads]),
        }


def _lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


def _bytes_written(warehouse: str, upload_id: str) -> int:
    total = 0
    for table in os.listdir(warehouse):
        vdir = os.path.join(warehouse, table, "_versions", upload_id)
        for root, _, files in os.walk(vdir):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _rewrite_ratio(counts: dict, before: dict) -> float:
    """Rows the upload rewrote (its new snapshots) per row it added."""
    written = sum(counts.values())
    added = written - sum(before.values())
    return written / added if added > 0 else float(written)
