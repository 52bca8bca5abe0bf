"""Per-layer metrics of a traced run.

``instrument_saga`` wraps the streaming layers the saga drives (consumer
batch, MERGE sink methods, snapshot commit) in spans; ``per_layer`` turns
the spans of the measured phase and the event log's per-job executor
totals into the metrics named in ``BENCHMARK.json``. Each span metric is a
self time: the span's duration minus the time its child spans cover.
Totals are normalized per round of the workload — per drain (``saga``),
per build (``corpus``) or per request (``ticket_ops``) — and module or
stage metrics are means over the calls into that module or stage. The
serving modules' metrics come from ``request`` spans: the ``ticket_ops``
loop, or the serving probe that ends a traced ``saga`` run.
"""

from __future__ import annotations

import os
import statistics

from workloads import CORPUS_STAGES, TICKET_MIX, du

ROUND_ROOT = {"saga": "drain", "corpus": "build", "ticket_ops": "request"}
TICKET_LAYERS = sorted({layer for _, layer, _ in TICKET_MIX})


def instrument_saga(tracer):
    """Wrap the saga's streaming layers in spans; return an undo callable."""
    from boletia_kubernetes_kafka_mongodb_spark.streaming import consumer, sinks, _snapshot

    originals = []

    def wrap(cls, attr, name, measure_bytes=False):
        fn = getattr(cls, attr)
        originals.append((cls, attr, fn))

        def wrapped(self, *args, **kwargs):
            with tracer.span(name) as rec:
                if measure_bytes:
                    rec["bytes"] = du(os.path.join(self.path, args[0]))
                return fn(self, *args, **kwargs)

        setattr(cls, attr, wrapped)

    wrap(consumer.InventarioConsumer, "apply_batch", "streaming.consumer.apply_batch")
    wrap(sinks.ParquetMergeTable, "insert_if_absent", "streaming.sinks.insert_if_absent")
    wrap(sinks.ParquetMergeTable, "upsert_keep_last", "streaming.sinks.upsert_keep_last")
    wrap(sinks.ParquetMergeTable, "read", "streaming.sinks.read")
    wrap(sinks.ParquetMergeTable, "_replace_with", "action:streaming.sinks.write")
    wrap(_snapshot.SnapshotDir, "commit", "streaming._snapshot.commit", measure_bytes=True)

    def undo():
        for cls, attr, fn in originals:
            setattr(cls, attr, fn)

    return undo


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload: str, tracer, events, m) -> dict:
    spans = {s["id"]: s for s in tracer.spans}
    selft = tracer.self_times()

    def root(s):
        while s["parent"] is not None and s["parent"] in spans:
            s = spans[s["parent"]]
        return s

    measured = [s for s in spans.values() if root(s)["name"] == ROUND_ROOT[workload]]
    requests = [s for s in spans.values() if root(s)["name"] == "request"]
    jobs = events.by_span(list(spans.values()))
    rounds = max(sum(1 for s in measured if s["parent"] is None), 1)

    def jobs_of(ss):
        return [j for s in ss for j in jobs.get(s["id"], [])]

    def total(js, field):
        return sum(j[field] for j in js)

    def dur(s):
        return s["end"] - s["start"]

    plan = [s for s in measured if s["name"] == "plan" or s["name"].startswith("build:")]
    action = [s for s in measured if s["name"] == "action" or s["name"].startswith("action:")]
    all_jobs = jobs_of(measured)
    out = {
        "driver.plan_s": sum(map(dur, plan)) / rounds,
        "driver.eager_jobs": len(jobs_of(plan)) / rounds,
        "exec.action_s": sum(map(dur, action)) / rounds,
        "exec.jobs": len(all_jobs) / rounds,
        "shuffle.write_bytes": total(all_jobs, "shuffle_write_bytes") / rounds,
        "shuffle.read_bytes": total(all_jobs, "shuffle_read_bytes") / rounds,
        "shuffle.records": total(all_jobs, "shuffle_records") / rounds,
        "spill.bytes": total(all_jobs, "spill_bytes") / rounds,
        "python.bytes_sent": total(all_jobs, "python_bytes_sent") / rounds,
        "python.rows_returned": total(all_jobs, "python_rows_returned") / rounds,
    }
    for field in ("stages", "tasks", "task_cpu_s", "gc_s"):
        out[f"exec.{field}"] = total(all_jobs, field) / rounds

    # the share of the measured loop's wall (which also holds the work
    # between rounds) that top-level spans account for
    lo = m.record["loop_t0"]
    hi = lo + m.record["loop_wall_s"]
    tops = [s for s in spans.values()
            if s["parent"] is None and lo <= s["start"] and s["end"] <= hi]
    out["trace.span_coverage"] = sum(map(dur, tops)) / (hi - lo)
    out["trace.spans"] = float(len(measured)) / rounds

    if workload == "corpus":
        for qid, module in CORPUS_STAGES:
            stage = [s for s in measured if s["name"] == f"stage:{module}:{qid}"]
            kids = [s for s in measured if s["parent"] in {st["id"] for st in stage}]
            p = [s for s in kids if s["name"] == "plan"]
            a = [s for s in kids if s["name"] == "action"]
            key = f"operators.{module}.{qid}"
            out[f"{key}.plan_s"] = sum(map(dur, p)) / rounds
            out[f"{key}.exec_s"] = sum(map(dur, a)) / rounds
            out[f"{key}.eager_jobs"] = len(jobs_of(p)) / rounds
            out[f"{key}.shuffle_bytes"] = total(jobs_of(p + a), "shuffle_write_bytes") / rounds

    if requests:
        for layer in TICKET_LAYERS:
            b = [s for s in requests if s["name"].startswith(f"build:{layer}:")]
            a = [s for s in requests if s["name"].startswith(f"action:{layer}:")]
            out[f"{layer}.plan_s"] = _mean([dur(s) for s in b])
            out[f"{layer}.exec_s"] = _mean([dur(s) for s in a])
            out[f"{layer}.eager_jobs"] = _mean([len(jobs.get(s["id"], [])) for s in b])
            out[f"{layer}.jobs"] = _mean([len(jobs.get(s["id"], [])) for s in a])

    if workload == "saga":
        def self_mean(name):
            return _mean([selft[s["id"]] for s in measured if s["name"] == name])

        def count(name):
            return sum(1 for s in measured if s["name"] == name) / rounds

        commits = [s for s in measured if s["name"] == "streaming._snapshot.commit"]
        written = sum(s.get("bytes", 0) for s in commits) / rounds
        fixture = [dur(s) for s in tracer.spans if s["name"] == "sources.cdc_stream.fixture"]
        out.update({
            "sources.cdc_stream.fixture_s": statistics.median(fixture) if fixture else 0.0,
            "streaming.consumer.apply_batch_s": self_mean("streaming.consumer.apply_batch"),
            "streaming.consumer.batches": count("streaming.consumer.apply_batch"),
            "streaming.notify.batch_s": self_mean("streaming.notify.batch"),
            "streaming.sinks.insert_if_absent_s": self_mean("streaming.sinks.insert_if_absent"),
            "streaming.sinks.upsert_keep_last_s": self_mean("streaming.sinks.upsert_keep_last"),
            "streaming.sinks.read_s": self_mean("streaming.sinks.read"),
            "streaming.sinks.bytes_written": written,
            "streaming.sinks.write_amp": written / m.record["fixture_bytes"],
            "streaming._snapshot.commit_s": self_mean("streaming._snapshot.commit"),
            "streaming._snapshot.commits": float(len(commits)) / rounds,
        })
    return out
