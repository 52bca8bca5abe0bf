"""The benchmark's workloads, each a closed loop with one client.

Every workload has the same shape: a few set-ups (each starts a fresh
SparkSession and makes its inputs from the seed; the first also launches
the JVM), one warm-up round, measured rounds until the requested seconds
have passed (and at least ``MIN_ROUNDS``), then checks of every round's
outputs against a reference computed by DuckDB. ``Measure`` carries what
the caller turns into metrics.

- ``saga``: the lifecycle CDC log, landed by ``write_ordered_files``, is
  drained by both consumer groups at once with ``availableNow``: the
  inventario consumer (``InventarioConsumer.run_available_now``) and the
  notifications stream (``render_notifications_stream`` into
  ``notifications_sink`` via ``foreachBatch``). A drain uses fresh table
  and checkpoint directories. A traced run also sends one pass of the
  serving mix (``TICKET_MIX``) at the saga's tables, for the per-layer
  numbers of the serving modules.
- ``corpus``: a cold build of a seeded corpus through eight stage queries
  in order, each consumed by a ``noop`` write (the keep-list and shard
  manifest are collected, for the check). Every build gets a new corpus, a
  fresh SparkSession and an empty ``$TMPDIR``, so no cache of the package
  can serve it.
- ``ticket_ops``: a warm serving loop over a fixed weighted mix of request
  ids, shuffled per pass by the seed. It is not listed in
  ``BENCHMARK.json`` (see ``DESIGN.md``) but runs the same way by name.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass, field

import datagen
import proc
from check import Duck, corrupt, row_hash, spark_rows

# setup_s is the median of a run's set-ups; the first also launches the
# JVM. ticket_ops sets up once: its set-up holds a pass over every id.
SAGA_SETUPS = CORPUS_SETUPS = 3
TICKET_SETUPS = 1
# measured rounds (drains / builds / passes) per run, at least: every
# median then has three samples or more
MIN_ROUNDS = 3
# saga: ~16k messages, 3 files drained one file per micro-batch
SAGA_SF = 0.001
SAGA_FILES = 3
SAGA_MFPT = 1
# corpus: 400 seeded documents replicated ×2 (800 documents per build)
CORPUS_BASE = 400
CORPUS_REPLICAS = 2
CORPUS_STAGES = [
    ("ext_text_clean", "dedup"),
    ("ext_text_quality", "text"),
    ("ext_dedup_exact", "dedup"),
    ("ext_dedup_minhash_lsh", "dedup"),
    ("ext_decontaminate", "sampling"),
    ("ext_sample_split", "sampling"),
    ("ext_corpus_keep_list", "sampling"),
    ("ext_shard_manifest", "sampling"),
]
CORPUS_CHECKED = ("ext_corpus_keep_list", "ext_shard_manifest")
# ticket_ops: (query id, layer, requests per pass). The repository holds
# no traffic data; the weights are an assumed mix in which reads dominate:
# each read (lookup, both availability reads, keyset page) twice per pass,
# each write, CDC, notification and admission request once.
TICKET_SF = 0.01
TICKET_MIX = [
    ("lookup_pk", "operators.scans", 2),
    ("join_availability", "operators.joins", 2),
    ("join_availability_bucketed", "sources.layouts", 2),
    ("order_page_keyset", "operators.ordering", 2),
    ("reserva_cancel_flag", "operators.mutations", 1),
    ("sink_upsert_clone", "operators.cdc", 1),
    ("notify_render", "operators.notifications", 1),
    ("reserve_admission_exact", "streaming.admission", 1),
]
TPCH_TABLES = "region nation customer supplier part orders lineitem events".split()
# derived artifacts the package caches under tempfile.gettempdir()
ARTIFACT_PREFIXES = (
    "boletia_band_index_v2_", "boletia_srp_layout_v2_", "boletia_ivf_layout_v2_",
    "boletia_components_v1_", "boletia_bucketed_wh_",
)


@dataclass
class Measure:
    units: float = 0.0            # messages / documents / requests completed
    round_units: float = 0.0      # units of one round (drain / build / pass)
    rounds_s: list = field(default_factory=list)  # wall of each measured round
    wall_s: float = 0.0           # measured wall time
    cpu_s: float = 0.0            # driver + JVM CPU during the measured phase
    latency_ms: float = 0.0       # typical micro-batch / stage / request latency
    latencies_ms: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    setup_s: list = field(default_factory=list)
    rounds: int = 0               # measured drains / builds / passes
    record: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


def artifacts(tmp: str) -> list[str]:
    try:
        names = os.listdir(tmp)
    except OSError:
        return []
    return sorted(n for n in names if n.startswith(ARTIFACT_PREFIXES))


def _fresh_tmp(path: str) -> str:
    """Point ``$TMPDIR`` (and ``tempfile``) at a new empty directory."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    os.environ["TMPDIR"] = path
    tempfile.tempdir = path
    return path


def _geomean_of_medians(samples: dict, weights: dict) -> float:
    """Typical latency of a mix of kinds (consumer groups, stages, request
    ids): the geometric mean of each kind's median latency, weighted by its
    share of the mix. Unlike the median over all samples, which falls on
    whichever kind happens to sit in the middle, it moves smoothly with
    every kind."""
    have = {k: w for k, w in weights.items() if samples.get(k)}
    if not have:
        return 0.0
    logs = sum(w * math.log(max(statistics.median(samples[k]), 1e-3)) for k, w in have.items())
    return math.exp(logs / sum(have.values()))


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class _Loop:
    """Closed loop: ``more()`` is true until ``seconds`` have elapsed and at
    least ``min_rounds`` rounds are done (checked between rounds, so the
    last round always completes)."""

    def __init__(self, ctx, min_rounds: int = 1):
        self.ctx = ctx
        self.min_rounds = min_rounds

    def __enter__(self):
        self.cpu0 = self.ctx.cpu_s()
        self.rounds_s = []
        self.host0 = proc.host_sample()
        self.t0 = time.perf_counter()
        return self

    def more(self) -> bool:
        return (len(self.rounds_s) < self.min_rounds
                or time.perf_counter() - self.t0 < self.ctx.seconds)

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = self.ctx.cpu_s() - self.cpu0
        self.host = proc.host_delta(self.host0, proc.host_sample())
        self.storage = self.ctx.storage()
        return False

    def summary(self) -> dict:
        return {"loop_wall_s": self.wall, "loop_t0": self.t0, "rounds_s": self.rounds_s,
                "host": self.host, "storage": self.storage}


# -- saga ------------------------------------------------------------------


def _progress_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.events.append({"id": str(p.id), "rows": p.numInputRows,
                                    "ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def batches(self):
            with self.lock:
                return [e for e in self.events if e["rows"] > 0]

    return Listener()


def _saga_expectations(data: str) -> tuple[str, str]:
    """Reference hashes: the final reservas table (the declarative
    expectation of ``tests/test_saga.py::_expected_final``) and the
    notification keys, both computed by DuckDB from the generated tables."""
    from boletia_kubernetes_kafka_mongodb_spark.oracle import with_domain

    duck = Duck(data, TPCH_TABLES)
    try:
        table = duck.rows(with_domain("""
            SELECT r._id, r.evento,
                   CASE WHEN r.estado = 'X' THEN 'X'
                        WHEN e.estado = 'C' THEN 'C' ELSE 'A' END AS estado,
                   r.email, r.cantidad
            FROM reservas r JOIN eventos e ON r.evento = e.nombre"""))
        keys = duck.rows(with_domain("""
            SELECT _id AS reserva_id, 'A' AS estado FROM reservas
            UNION ALL
            SELECT _id AS reserva_id, 'X' AS estado FROM reservas WHERE estado = 'X'"""))
    finally:
        duck.close()
    return row_hash(*table), row_hash(*keys)


@dataclass
class _Drain:
    wall: float
    cpu: float
    errors: list
    notify_id: str
    consumer: object
    sink: object


def _saga_setup(ctx, d: str) -> tuple[object, str, str]:
    """Fresh session, seeded tables and the lifecycle log landed by
    ``write_ordered_files`` under ``d``; return the session and both paths."""
    from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream

    spark = ctx.restart()
    data, msgs = f"{d}/in", f"{d}/msgs"
    datagen.write_tables(data, ctx.seed, SAGA_SF)
    with ctx.tracer.span("sources.cdc_stream.fixture"):
        # materialized once: write_ordered_files scans the log per file
        log = cdc_stream.build_lifecycle_message_log(spark, data).localCheckpoint()
        cdc_stream.write_ordered_files(log, msgs, n_files=SAGA_FILES)
    return spark, data, msgs


def _drain(ctx, spark, msgs: str, d: str, label: str, run=None) -> _Drain:
    """Drain the log with both consumer groups into fresh tables and
    checkpoints under ``d``; the wall and CPU cover the drain, not its check."""
    from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream
    from boletia_kubernetes_kafka_mongodb_spark.streaming import notify
    from boletia_kubernetes_kafka_mongodb_spark.streaming.consumer import InventarioConsumer

    errors = []
    cpu0, t0 = ctx.cpu_s(), time.perf_counter()
    with ctx.tracer.top(label, run=run):
        consumer = InventarioConsumer(spark, f"{d}/inventario")
        sink = notify.notifications_sink(spark, f"{d}/notifications")

        def notify_batch(df, batch_id):
            with ctx.tracer.span("streaming.notify.batch"):
                sink.insert_if_absent(df)

        def run_consumer():
            try:
                consumer.run_available_now(
                    cdc_stream.read_message_stream(spark, msgs, SAGA_MFPT), f"{d}/ckpt_inv")
            except Exception as e:  # reported as failed batches
                traceback.print_exc()
                errors.append(e)

        th = threading.Thread(target=run_consumer)
        th.start()
        q = (notify.render_notifications_stream(
                cdc_stream.read_message_stream(spark, msgs, SAGA_MFPT))
             .writeStream.foreachBatch(notify_batch)
             .option("checkpointLocation", f"{d}/ckpt_notify")
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        except Exception as e:  # reported as failed batches
            traceback.print_exc()
            errors.append(e)
        th.join()
    return _Drain(time.perf_counter() - t0, ctx.cpu_s() - cpu0, errors, str(q.id),
                  consumer, sink)


def saga(ctx) -> Measure:
    import pyarrow.parquet as pq

    m = Measure()
    root = f"{ctx.work}/saga"
    for i in range(SAGA_SETUPS):
        t0 = time.perf_counter()
        spark, data, msgs = _saga_setup(ctx, f"{root}/setup{i}")
        m.setup_s.append(time.perf_counter() - t0)
    n_msgs = pq.read_table(msgs, columns=["seq"]).num_rows
    m.record.update(inputs_digest=datagen.digest(data), messages=n_msgs,
                    fixture_bytes=du(msgs))
    # the first drain in a JVM is slower than the next (class loading of the
    # streaming path); it is checked with the others but not measured
    drains = [_drain(ctx, spark, msgs, f"{root}/warmup", "warmup")]
    m.record["warmup_s"] = drains[0].wall

    listener = _progress_listener()
    spark.streams.addListener(listener)
    with _Loop(ctx, MIN_ROUNDS) as loop:
        while loop.more():
            k = len(drains)
            drains.append(_drain(ctx, spark, msgs, f"{root}/drain-{k}", "drain", run=k))
            loop.rounds_s.append(drains[-1].wall)
    measured = drains[1:]
    m.rounds = len(measured)
    m.attempted = 2 * SAGA_FILES // SAGA_MFPT * m.rounds
    _await_batches(listener, m.attempted)
    spark.streams.removeListener(listener)
    notify_ids = {d.notify_id for d in measured}
    inv = [e for e in listener.batches() if e["id"] not in notify_ids]
    nt = [e for e in listener.batches() if e["id"] in notify_ids]
    m.failed = max(0, m.attempted - len(inv) - len(nt))
    m.round_units = 2 * n_msgs  # each consumer group applies the whole log
    m.units = m.round_units * m.rounds
    m.rounds_s = loop.rounds_s
    m.wall_s = sum(d.wall for d in measured)
    m.cpu_s = sum(d.cpu for d in measured)
    lat = {"inventario": [e["ms"].get("triggerExecution", 0) for e in inv],
           "notify": [e["ms"].get("triggerExecution", 0) for e in nt]}
    m.latencies_ms = lat["inventario"] + lat["notify"]
    m.latency_ms = _geomean_of_medians(lat, {"inventario": 1, "notify": 1})

    want_table, want_keys = _saga_expectations(data)
    for d in drains:
        got_table = row_hash(*_table_rows(d.consumer.table, ctx.corrupt))
        got_keys = row_hash(*spark_rows(d.sink.read().select("reserva_id", "estado")))
        m.correct &= not d.errors and got_table == want_table and got_keys == want_keys
    m.record.update(loop.summary(), drains=m.rounds, batches_inventario=len(inv),
                    batches_notify=len(nt))
    if ctx.tracer.enabled:
        m.layers.update(_saga_layers(spark, inv, nt, msgs, n_msgs))
        m.correct &= _serving_probe(ctx, spark, data, m)
        m.layers.update(_baseline_local1(
            ctx, lambda s, i: _drain(ctx, s, msgs, f"{root}/baseline{i}", "baseline").wall,
            2 * n_msgs))
    return m


def _serving_probe(ctx, spark, data: str, m: Measure) -> bool:
    """Traced runs only: one pass of the serving mix on the saga's tables,
    after a collecting pass that warms each id and feeds its check. Its
    spans give the per-layer numbers of the serving modules."""
    import __spark_entry__ as entry

    queries = entry.queries()
    with ctx.tracer.top("serving-warmup"):
        outputs = {qid: spark_rows(queries[qid](spark, data)) for qid, _, _ in TICKET_MIX}
    order = [(qid, layer) for qid, layer, w in TICKET_MIX for _ in range(w)]
    random.Random(ctx.seed).shuffle(order)
    failed = _ticket_pass(ctx, spark, data, queries, order, {})
    m.record["serving_probe_requests"] = len(order)
    return not failed and _ticket_check(data, outputs, entry.oracle_sql(), False)


def _table_rows(table, bad: bool):
    cols, rows = spark_rows(table.read().select("_id", "evento", "estado", "email", "cantidad"))
    return cols, corrupt(rows) if bad else rows


def _await_batches(listener, n: int, timeout_s: float = 5.0) -> None:
    deadline = time.monotonic() + timeout_s
    while len(listener.batches()) < n and time.monotonic() < deadline:
        time.sleep(0.05)


def _baseline_local1(ctx, run_round, units: float) -> dict:
    """Throughput of one more round on a fresh ``local[<cpus>]`` session and
    of one on a fresh ``local[1]`` session, on the same inputs. Both follow
    the measured phase, so both run in an equally warm JVM. ``run_round``
    returns the round's own wall, without its set-up or check."""
    rates = []
    for i, cores in enumerate((ctx.cores, 1)):
        rates.append(units / run_round(ctx.restart(cores=cores), i))
    return {"baseline.local1.throughput_per_s": rates[1],
            "baseline.local1_speedup": rates[0] / rates[1]}


def _saga_layers(spark, inv, nt, msgs, n_msgs) -> dict:
    from boletia_kubernetes_kafka_mongodb_spark.streaming.router import (
        loop_breaker, route_messages,
    )
    from boletia_kubernetes_kafka_mongodb_spark.sources.catalog import MESSAGE_SCHEMA

    log = spark.read.schema(MESSAGE_SCHEMA).parquet(msgs)
    routed = route_messages(log)
    dropped = routed.count() - loop_breaker(routed).count()
    out = {
        "sources.cdc_stream.messages": float(n_msgs),
        "streaming.router.drop_frac": dropped / n_msgs,
    }
    for key, name in (("addBatch", "addBatch_ms"), ("queryPlanning", "queryPlanning_ms"),
                      ("walCommit", "walCommit_ms"), ("commitOffsets", "commitOffsets_ms"),
                      ("latestOffset", "latestOffset_ms")):
        vals = [e["ms"].get(key, 0) for e in inv + nt]
        out[f"stream.{name}"] = statistics.median(vals) if vals else 0.0
    return out


# -- corpus ----------------------------------------------------------------


def _corpus_setup(ctx, b: int) -> tuple[object, str, str]:
    """Empty ``$TMPDIR``, fresh session, new corpus ``b``."""
    tmp = _fresh_tmp(f"{ctx.work}/corpus/tmp{b}")
    spark = ctx.restart()
    data = f"{ctx.work}/corpus/in{b}"
    datagen.write_documents(data, ctx.seed, CORPUS_BASE, CORPUS_REPLICAS, build=b)
    return spark, data, tmp


def _corpus_build(ctx, spark, data: str, label: str, run=None) -> tuple[dict, dict, int]:
    """Run the eight stages once; return collected outputs, each stage's
    wall in ms and the number of failed stages."""
    import __spark_entry__ as entry

    queries = entry.queries()
    outputs, walls, failed = {}, {}, 0
    with ctx.tracer.top(label, run=run):
        for qid, module in CORPUS_STAGES:
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"stage:{module}:{qid}"):
                    with ctx.tracer.span("plan"):
                        df = queries[qid](spark, data)
                    with ctx.tracer.span("action"):
                        if qid in CORPUS_CHECKED:
                            outputs[qid] = spark_rows(df)
                        else:
                            df.write.format("noop").mode("overwrite").save()
            except Exception:  # a failed stage is counted, the build goes on
                traceback.print_exc()
                failed += 1
                continue
            walls[qid] = 1000.0 * (time.perf_counter() - t0)
    return outputs, walls, failed


def corpus(ctx) -> Measure:
    import __spark_entry__ as entry

    m = Measure()
    t0 = time.perf_counter()
    spark, data, _ = _corpus_setup(ctx, 0)
    _corpus_build(ctx, spark, data, "warmup")
    m.record["warmup_s"] = time.perf_counter() - t0
    b = 0
    for _ in range(CORPUS_SETUPS):
        b += 1
        t0 = time.perf_counter()
        prepared = _corpus_setup(ctx, b)
        m.setup_s.append(time.perf_counter() - t0)
    builds = []  # (corpus directory, collected outputs, artifacts built)
    stage_ms = {}
    with _Loop(ctx, MIN_ROUNDS) as loop:
        while True:
            spark, data, tmp = prepared
            cpu0, t0 = ctx.cpu_s(), time.perf_counter()
            outputs, walls, failed = _corpus_build(ctx, spark, data, "build", run=b)
            loop.rounds_s.append(time.perf_counter() - t0)
            for qid, ms in walls.items():
                stage_ms.setdefault(qid, []).append(ms)
            m.cpu_s += ctx.cpu_s() - cpu0
            builds.append((data, outputs, artifacts(tmp)))
            m.attempted += len(CORPUS_STAGES)
            m.failed += failed
            if not loop.more():
                break
            b += 1
            t0 = time.perf_counter()
            with ctx.tracer.top("setup", run=b):
                prepared = _corpus_setup(ctx, b)
            m.setup_s.append(time.perf_counter() - t0)
    m.rounds = len(builds)
    m.round_units = CORPUS_BASE * CORPUS_REPLICAS
    m.units = m.round_units * m.rounds
    m.rounds_s = loop.rounds_s
    m.wall_s = sum(loop.rounds_s)
    m.latencies_ms = [ms for v in stage_ms.values() for ms in v]
    m.latency_ms = _geomean_of_medians(stage_ms, {qid: 1 for qid, _ in CORPUS_STAGES})
    oracles = entry.oracle_sql()
    for data, outputs, _ in builds:
        m.correct &= _corpus_check(data, outputs, oracles, ctx.corrupt)
    built = [a for _, _, a in builds]
    m.record.update(loop.summary(), builds=m.rounds, stage_ms=stage_ms,
                    inputs_digest=[datagen.digest(d) for d, _, _ in builds],
                    artifacts_built=built)
    if ctx.tracer.enabled:
        m.layers["cache.artifacts_built"] = float(sum(len(a) for a in built)) / m.rounds
        data = f"{ctx.work}/corpus/in-baseline"
        datagen.write_documents(data, ctx.seed, CORPUS_BASE, CORPUS_REPLICAS, build=b + 1)

        def baseline_round(spark, i):
            _fresh_tmp(f"{ctx.work}/corpus/tmp-baseline{i}")
            t0 = time.perf_counter()
            _corpus_build(ctx, spark, data, "baseline")
            return time.perf_counter() - t0

        m.layers.update(_baseline_local1(ctx, baseline_round, CORPUS_BASE * CORPUS_REPLICAS))
    return m


def _corpus_check(data: str, outputs: dict, oracles: dict, bad: bool) -> bool:
    duck = Duck(data, ["documents"])
    try:
        for qid in CORPUS_CHECKED:
            if qid not in outputs:
                return False
            cols, rows = outputs[qid]
            if bad:
                rows = corrupt(rows)
            if row_hash(cols, rows) != row_hash(*duck.rows(oracles[qid])):
                return False
    finally:
        duck.close()
    return True


# -- ticket_ops ------------------------------------------------------------


def ticket_ops(ctx) -> Measure:
    import __spark_entry__ as entry

    queries = entry.queries()
    m = Measure()
    built = []
    for i in range(TICKET_SETUPS):
        t0 = time.perf_counter()
        tmp = _fresh_tmp(f"{ctx.work}/ticket_ops/tmp{i}")
        spark = ctx.restart()
        data = f"{ctx.work}/ticket_ops/in{i}"
        datagen.write_tables(data, ctx.seed, TICKET_SF)
        # the warm-up pass collects each id's rows for the check
        with ctx.tracer.top("warmup", run=i):
            outputs = {qid: spark_rows(queries[qid](spark, data)) for qid, _, _ in TICKET_MIX}
        m.setup_s.append(time.perf_counter() - t0)
        built.append(artifacts(tmp))
    rng = random.Random(ctx.seed)
    per_pass = [(qid, layer) for qid, layer, w in TICKET_MIX for _ in range(w)]
    by_id = {}
    with _Loop(ctx, MIN_ROUNDS) as loop:
        while loop.more():
            order = per_pass[:]
            rng.shuffle(order)
            t0 = time.perf_counter()
            m.failed += _ticket_pass(ctx, spark, data, queries, order, by_id)
            loop.rounds_s.append(time.perf_counter() - t0)
    m.rounds = len(loop.rounds_s)
    m.attempted = m.rounds * len(per_pass)
    m.latencies_ms = [ms for v in by_id.values() for ms in v]
    m.round_units = len(per_pass)
    m.units = len(m.latencies_ms)
    m.rounds_s = loop.rounds_s
    m.wall_s, m.cpu_s = loop.wall, loop.cpu
    m.latency_ms = _geomean_of_medians(by_id, {qid: w for qid, _, w in TICKET_MIX})
    m.correct = _ticket_check(data, outputs, entry.oracle_sql(), ctx.corrupt)
    m.record.update(loop.summary(), inputs_digest=datagen.digest(data),
                    passes=m.rounds, artifacts_built=built,
                    id_p50_ms={q: statistics.median(v) for q, v in by_id.items()})
    if ctx.tracer.enabled:
        m.layers["cache.artifacts_built"] = float(len(built[-1]))
    return m


def _ticket_pass(ctx, spark, data: str, queries: dict, order: list, by_id: dict) -> int:
    """Send the requests of ``order`` one after the other, each a ``noop``
    write; add each latency to ``by_id`` and return the number that failed."""
    failed = 0
    for qid, layer in order:
        t0 = time.perf_counter()
        try:
            with ctx.tracer.top("request"):
                with ctx.tracer.span(f"build:{layer}:{qid}"):
                    df = queries[qid](spark, data)
                with ctx.tracer.span(f"action:{layer}:{qid}"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:  # a failed request misses every limit
            traceback.print_exc()
            failed += 1
            continue
        by_id.setdefault(qid, []).append((time.perf_counter() - t0) * 1000.0)
    return failed


def _ticket_check(data, outputs, oracles, bad: bool) -> bool:
    duck = Duck(data, TPCH_TABLES)
    ok = True
    try:
        for i, (qid, _, _) in enumerate(TICKET_MIX):
            cols, rows = outputs[qid]
            if bad and i == 0:
                rows = corrupt(rows)
            ok &= row_hash(cols, rows) == row_hash(*duck.rows(oracles[qid]))
    finally:
        duck.close()
    return ok


WORKLOADS = {"saga": saga, "corpus": corpus, "ticket_ops": ticket_ops}
