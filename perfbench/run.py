"""Benchmark of the boletia engine: one command, one workload per run.

    python3 perfbench/run.py --workload {saga,corpus,ticket_ops} \\
        --seed N --seconds S --trace {0,1} [--corrupt]

``BENCHMARK.json`` lists ``saga`` and ``corpus``; ``ticket_ops`` runs the
same way by name. Run from the root of a checkout. The run builds its
inputs from the seed under ``perfbench/.work/`` (deleted at the end),
starts Spark on ``local[<cpus>]`` with every scratch location inside that
directory, measures the workload for ``--seconds``, checks its outputs
against DuckDB references and prints, as the last line of standard
output, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
from a separate run that records spans and a Spark event log (spans are
written to ``perfbench/.traces/``). The line before it is a JSON record
of the run: input digests, host steal and load, set-up samples, warm-up
and round walls, artifacts built. ``--corrupt`` alters one output row
before the check (self-test: the run must then report ``correct:
false``). See ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import traceback

import proc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 150  # a run must end within 180 s, shutdown included


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside ``work``."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
        # a pre-touched fixed heap: peak RSS then moves with off-heap,
        # metaspace and Python memory, not with when the collector ran;
        # no perf-data file, which the JVM would keep under /tmp; C1 only:
        # a run's JVM lives about a minute, and the optimizing compiler
        # would still be recompiling the engine's code through all of it
        # (see DESIGN.md, "Run shape"); C1 alone gets a 48 MB code cache,
        # which Spark's generated code fills, so it gets tiered's 240 MB
        "--driver-java-options",
        f"-Djava.io.tmpdir={work}/tmp -Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
    ]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir={work}/events"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"


class Context:
    """What a workload needs: the session, the tracer, paths and readings."""

    def __init__(self, args, work: str, tracer):
        self.seed, self.seconds, self.corrupt = args.seed, args.seconds, args.corrupt
        self.work = work
        self.tracer = tracer
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None

    def restart(self, cores: int | None = None):
        """Stop the current session and start a fresh one in the same JVM."""
        from boletia_kubernetes_kafka_mongodb_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cpus=cores or self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            self.tracer.rebind(self.spark.sparkContext)
        return self.spark

    def jvm(self):
        from pyspark import SparkContext

        return SparkContext._gateway.proc if SparkContext._gateway else None

    def cpu_s(self) -> float:
        return proc.tree_cpu_s(os.getpid())

    def storage(self) -> dict:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {"persisted_rdds": len(infos), "mem_bytes": sum(i.memSize() for i in infos)}

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        kids = proc.descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        jvm = self.jvm()
        if jvm is not None and jvm.poll() is None:
            jvm.stdin.close()  # the gateway exits when its stdin closes
            try:
                jvm.wait(timeout=20)
            except Exception:
                jvm.kill()
                jvm.wait()
        proc.stop_tree(kids)


def end_to_end(m, peak_mb: float) -> dict:
    return {
        "setup_s": statistics.median(m.setup_s),
        "throughput_per_s": m.round_units / statistics.median(m.rounds_s),
        "latency_p50_ms": m.latency_ms,
        "cpu_ms_per_unit": 1000.0 * m.cpu_s / m.units,
        "peak_rss_mb": peak_mb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:  # the package under test must be in this checkout
        import __spark_entry__  # noqa: F401
        import boletia_kubernetes_kafka_mongodb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = _spec()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import layers
    import trace

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _configure_env(work, bool(args.trace))
    tracer = trace.Tracer() if args.trace else trace.NullTracer()
    ctx = Context(args, work, tracer)
    undo = layers.instrument_saga(tracer) if args.trace and args.workload == "saga" else None

    def overdue(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overdue)
    signal.alarm(DEADLINE_S)
    try:
        m = workloads.WORKLOADS[args.workload](ctx)
        jvm = ctx.jvm()
        peak = proc.peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))
        e2e = end_to_end(m, peak)
        ctx.shutdown()
        if args.trace:
            events = trace.EventLog(os.path.join(work, "events"))
            lay = layers.per_layer(args.workload, tracer, events, m) | m.layers
            host, storage = m.record["host"], m.record["storage"]
            lay.update({
                "host.steal_pct": host["steal_pct"],
                "host.loadavg_1m": host["loadavg_1m"],
                "cache.persisted_rdds": float(storage["persisted_rdds"]),
                "cache.mem_bytes": float(storage["mem_bytes"]),
                "trace.throughput_per_s": e2e["throughput_per_s"],
                "trace.latency_p50_ms": e2e["latency_p50_ms"],
            })
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            tracer.dump(os.path.join(
                HERE, ".traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
            wanted, values = spec["per_layer"], lay
        else:
            wanted, values = spec["end_to_end"], e2e
    except Exception:
        traceback.print_exc()
        ctx.shutdown()
        return 1
    finally:
        signal.alarm(0)
        if undo:
            undo()
        shutil.rmtree(work, ignore_errors=True)

    metrics = {w["name"]: {"value": float(values.get(w["name"], 0.0)), "unit": w["unit"]}
               for w in wanted}
    record = {"workload": args.workload, "seed": args.seed, "cores": ctx.cores,
              "samples": len(m.latencies_ms), "setup_samples_s": m.setup_s,
              "wall_s": m.wall_s, "units": m.units} | m.record
    print(json.dumps({"perfbench_record": record}, default=str))
    print(json.dumps({"correct": bool(m.correct), "attempted": int(m.attempted),
                      "failed": int(m.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
