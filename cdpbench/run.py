"""CDP pipeline benchmark: one workload, one seed, one JSON result line.

    python3 cdpbench/run.py --workload processor_router --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into a
per-run scratch directory under ``.cdpbench_run/`` (removed afterwards), the
engine processes them through its public entry points, DuckDB checks the
outputs, and the last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. Metric names and units come from ``BENCHMARK.json``.
Earlier lines print every metric with its unit and sample count, under the
workload's own name where it has one. See cdpbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cdpbench import stats, trace  # noqa: E402

SESSION_TIMEOUT_S = 150.0
PREPARE_REPEATS = 3  # set-up is repeated and its median reported
WORKLOADS = ("processor_router", "warehouse_uploads", "stream_freshness")


def declared_metrics() -> tuple[dict, dict]:
    """({end-to-end name: unit}, {per-layer name: unit}) from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Context:
    def __init__(self, args, rundir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.inputs = os.path.join(rundir, "inputs")
        self.outputs = os.path.join(rundir, "outputs")
        self.tracer = trace.Tracer(enabled=bool(args.trace))


def workload_class(name: str):
    from cdpbench.processor_router import ProcessorRouter
    from cdpbench.stream_freshness import StreamFreshness
    from cdpbench.warehouse_uploads import WarehouseUploads

    return {w.name: w for w in (ProcessorRouter, WarehouseUploads, StreamFreshness)}[name]


def host_env(args, rundir: str) -> dict:
    """Run settings pinned through the engine's env knobs; every scratch
    path lives in the run directory."""
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    return {
        "SPARK_GRAFT_CPUS": str(args.cpus),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(rundir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }


class SessionStarter:
    """get_spark on a background thread, so the JVM boots while the inputs
    are generated, with a deadline: a JVM that cannot start (a heap larger
    than the host allows, say) fails the run with a message instead of
    hanging it."""

    def __init__(self, args):
        self.args = args
        self.box: dict = {}
        self.thread = threading.Thread(target=self._start, name="session-start", daemon=True)
        self.t0 = time.perf_counter()
        self.thread.start()

    def _start(self) -> None:
        from rudder_server_spark.session import get_spark

        try:
            self.box["spark"] = get_spark(
                app_name="cdpbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
            )
            self.box["seconds"] = time.perf_counter() - self.t0
        except Exception as e:  # reported by result()
            self.box["error"] = e

    def result(self):
        """(spark, seconds get_spark took)."""
        self.thread.join(max(0.0, SESSION_TIMEOUT_S - (time.perf_counter() - self.t0)))
        if "spark" in self.box:
            return self.box["spark"], self.box["seconds"]
        why = (f"failed: {self.box['error']}" if "error" in self.box
               else f"did not start within {SESSION_TIMEOUT_S:.0f} s")
        raise SystemExit(
            f"cdpbench: the Spark JVM {why}. Driver heap {self.args.driver_mem} on "
            f"{self.args.cpus} cores; pass a smaller --driver-mem if the host cannot fit it."
        )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def kill_descendants() -> None:
    for pid in reversed(stats.descendants(os.getpid())):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def on_sigterm(*_) -> None:
    """A terminated run still stops the JVM and the generator and removes
    its directory: unwind through ``main``'s cleanup, once."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit("cdpbench: terminated")


def closed_loop(wl, seconds: float) -> dict:
    """One client: start the next unit when the last one returns, until
    ``seconds`` have passed (the unit running at the deadline finishes).
    A unit that raises counts as attempted and failed."""
    tr = wl.ctx.tracer
    samples, roots, events = [], [], 0
    t0 = time.perf_counter()
    i = errors = 0
    while time.perf_counter() - t0 < seconds:
        u0 = time.perf_counter()
        try:
            with tr.span("unit") as root:
                events += wl.unit(i)
        except Exception:
            traceback.print_exc()
            errors += 1
            i += 1
            continue
        dt = time.perf_counter() - u0
        if root is not None:
            tr.count_jobs([s for s in tr.spans if s.t0 >= u0])
            roots.append(root)
        samples.append(dt)
        i += 1
    return {"samples": samples, "events": events, "attempted": i, "errors": errors,
            "elapsed": time.perf_counter() - t0, "roots": roots}


def set_up(wl, starter) -> tuple:
    """(spark, setup_s, session_s): the session boot plus the median of
    PREPARE_REPEATS runs of the workload's engine-side set-up."""
    spark, session_s = starter.result()
    reps = []
    for _ in range(PREPARE_REPEATS):
        t0 = time.perf_counter()
        wl.prepare(spark)
        reps.append(time.perf_counter() - t0)
    return spark, session_s + statistics.median(reps), session_s


def report_lines(wl, run: dict, lat: dict, failed: int) -> None:
    """Human-readable figures under the workload's own names."""
    label = wl.latency_name
    print(f"metric {label}.p50 = {lat['p50']:.6g} s (n={lat['n']})")
    for tail in ("p90", "p99"):
        if tail in lat:
            print(f"metric {label}.{tail} = {lat[tail]:.6g} s (n={lat['n']})")
    print(f"metric failed_ratio = {failed / run['attempted']:.6g} ratio (n={run['attempted']})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="CDP pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--driver-mem", default="2g", help="JVM heap (SPARK_GRAFT_DRIVER_MEM)")
    # Half the cores: the driver thread, JIT and GC then have cores of their own.
    # On a shared 4-core host local[2] ran batches and uploads as fast as
    # local[4] and with no slow outliers (cdpbench/README.md).
    ap.add_argument("--cpus", type=int, default=max(1, len(os.sched_getaffinity(0)) // 2),
                    help="local[N] cores (SPARK_GRAFT_CPUS); default: half the cores this process may use")
    args = ap.parse_args(argv)

    try:
        import rudder_server_spark  # noqa: F401

        end_to_end, per_layer = declared_metrics()
    except (ImportError, OSError) as e:
        print(f"cdpbench: the engine or BENCHMARK.json is missing under {ROOT}: {e}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, on_sigterm)
    rundir = os.path.join(ROOT, ".cdpbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(rundir)
    os.environ.update(host_env(args, rundir))
    ctx = Context(args, rundir)
    os.makedirs(ctx.inputs)
    os.makedirs(ctx.outputs)
    spark = None
    wl = None
    try:
        with stats.PeakRss() as rss:
            t_run = time.perf_counter()
            starter = SessionStarter(args)
            wl = workload_class(args.workload)(ctx)
            wl.generate()
            spark, setup_s, session_s = set_up(wl, starter)
            if ctx.tracer.enabled:
                ctx.tracer.sc = spark.sparkContext
                ctx.tracer.install()
            phases = {"set_up": time.perf_counter() - t_run}
            wl.warm_up()
            phases["warm_up"] = time.perf_counter() - t_run - sum(phases.values())
            if hasattr(wl, "measure"):
                run = wl.measure(args.seconds)
            else:
                run = closed_loop(wl, args.seconds)
            phases["measure"] = time.perf_counter() - t_run - sum(phases.values())
            wl.finish()
            phases["finish"] = time.perf_counter() - t_run - sum(phases.values())
            if ctx.tracer.enabled:
                layers = wl.layer_metrics(run.get("roots", []))
            ctx.tracer.uninstall()
            wl.close()
            stop_session(spark)
            spark = None
        from cdpbench import oracle

        duck = oracle.connect(args.cpus)
        problems = wl.verify(duck)
        duck.close()
        phases["stop_verify"] = time.perf_counter() - t_run - sum(phases.values())
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 3
    finally:
        if wl is not None and spark is not None:
            try:
                wl.close()
            except Exception:
                traceback.print_exc()
        if spark is not None:
            try:
                stop_session(spark)
            except Exception:
                traceback.print_exc()
        kill_descendants()
        shutil.rmtree(rundir, ignore_errors=True)

    print("phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
    for unit, p in problems:
        print(f"MISMATCH {unit}: {p}", file=sys.stderr)
    failed = min(run.get("errors", 0) + len({unit for unit, _ in problems}), run["attempted"])
    samples = run["samples"]
    if not samples:
        print("cdpbench: no unit completed in the measured phase", file=sys.stderr)
        return 4
    lat = stats.summary(samples)
    if ctx.tracer.enabled:
        measured = {"session.get_spark_s": (session_s, 1),
                    "trace.latency_s.p50": (lat["p50"], lat["n"]),
                    "trace.bookkeeping_s": (ctx.tracer.bookkeeping_s, 1)}
        for name, v in layers.items():
            measured[name] = (v.get("p50", 0.0), v["n"]) if isinstance(v, dict) else (v, 1)
        for name in sorted(set(measured) - set(per_layer)):
            print(f"metric {name} = {measured[name][0]:.6g} (n={measured[name][1]}, not in BENCHMARK.json)")
        # BENCHMARK.json has every traced workload report every per-layer metric: a
        # layer this workload never enters reads 0 with n=0 (its wrapped
        # functions were not called, the "no effect" of the layer map)
        report = {name: measured.get(name, (0.0, 0)) for name in per_layer}
        units = per_layer
        path = os.path.join(ROOT, ".cdpbench_out", f"spans-{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ctx.tracer.dump(path)
        for layer, s in sorted(trace.self_time_by_layer(ctx.tracer.spans).items(), key=lambda kv: -kv[1]):
            print(f"self_time {layer} {s:.3f} s")
    else:
        report = {
            "setup_s": (setup_s, PREPARE_REPEATS),
            "events_per_s": (run["events"] / run["elapsed"], lat["n"]),
            "latency_s.p50": (lat["p50"], lat["n"]),
            "peak_rss_mb": (rss.peak_kb / 1024, 1),  # PSS, up to the session's end
        }
        units = end_to_end
        missing = set(units) - set(report)
        if missing:
            print(f"cdpbench: BENCHMARK.json declares metrics this harness lacks: {sorted(missing)}",
                  file=sys.stderr)
            return 5
        report = {name: report[name] for name in units}
    for name, (value, n) in report.items():
        print(f"metric {name} = {value:.6g} {units[name]} (n={n})")
    report_lines(wl, run, lat, failed)
    print(f"verdict {'correct' if not problems else 'INCORRECT'}: "
          f"{run['attempted']} attempted, {failed} failed")
    print(json.dumps({
        "correct": not problems,
        "attempted": run["attempted"],
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, (value, _) in report.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
