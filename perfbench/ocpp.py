"""The two OCPP workloads: a full refresh of every materialized model,
and the last day of a 14-day fleet landed as one incremental batch of
the models in ``catalog.INCREMENTAL_MODELS``. Each is followed by
chat-BI questions (all of them after the refresh, the entity counts
after the batch), and by output gates outside the timed region.

Both pipeline timings are the first DAG run in a fresh Spark session,
which is what a ``python -m kwwhat_spark build`` or ``incremental``
invocation pays every time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import kwwhat_spark.models  # noqa: F401  (registers the model DAG)
from kwwhat_spark import bi
from kwwhat_spark.metrics import METRICS, query_metrics
from kwwhat_spark.models.base import MODELS, VIEW_MODELS, Pipeline
from kwwhat_spark.plans.incremental import IncrementalRunner, PartitionedStateStore
from kwwhat_spark.session import get_spark
from kwwhat_spark.sources.ocpp import load_ocpp_sources
from perfbench import fleet, gates
from perfbench.catalog import INCREMENTAL_MODELS, MODULES, PER_LAYER, TIMED_MODELS
from perfbench.trace import Tracer, descendants, fold_event_log, self_times, stage_totals

# Fleet size. The pipeline is bound by per-job overhead, not data: a
# 10-charger fleet refreshes in the same time as a 50-charger one on
# four cores, so the fleet is sized to keep the gates cheap.
CHARGERS = 16
DAYS = 14
# Days before the last come from this fixed seed and the last day from
# --seed, so the incremental base state can be built once per checkout.
BASE_SEED = 20251002
GEN_REPEATS = 3
CORES = 4

ENTITY_QUESTIONS = (
    "How many ports do we have?",
    "How many chargers do we have?",
    "How many connectors do we have?",
    "How many locations do we have?",
    "How many decommissioned ports do we have?",
)
METRIC_QUESTIONS = (
    "What is the failed attempt rate over the last 14 days?",
    "What is our first attempt success rate over the full history?",
    "How much energy transferred over the full history?",
)
POP_QUESTION = "What is our average uptime and failed attempt rate lately?"
# The anchor of the catalog entry ocpp_chat_bi_pop, whose oracle is reused.
POP_ANCHOR = "timestamp'2025-10-15 00:00:00'"

# Staging first, so that its cost is never billed to a consumer.
REFRESH_ORDER = ("stg_ocpp_logs", *(m for m in MODELS if m not in VIEW_MODELS))


@dataclass
class _MaterializingPipeline(Pipeline):
    """A Pipeline whose ``ref`` materializes each table it resolves for
    the first time, inside a span named after the model. A model's
    upstream is therefore materialized in a child span, and its self
    time is its own work. The work equals the CLI ``build``: each
    persisted model is counted once."""

    tracer: Tracer = field(default_factory=lambda: Tracer(False))

    def ref(self, name: str):
        if name in self._cache or name in self.overrides:
            return super().ref(name)
        module = MODELS[name].__module__.rsplit(".", 1)[-1]
        with self.tracer.span(f"models.{name}", module=module, model=name):
            df = super().ref(name)
            if name not in VIEW_MODELS or name in self.cache_views:
                df.count()
        return df


class _TracedStore(PartitionedStateStore):
    """The partitioned state store with a span around each read and merge."""

    def __init__(self, spark, state_dir: str, tracer: Tracer):
        super().__init__(spark, state_dir)
        self.tracer = tracer

    def read(self, name):
        with self.tracer.span("store.read", model=name):
            return super().read(name)

    def merge(self, name, new, keys, *, batch_id=None):
        with self.tracer.span("store.merge", model=name):
            super().merge(name, new, keys, batch_id=batch_id)


@dataclass
class Ops:
    """Timed operations attempted and failed, with the reasons."""

    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def record(self, what: str, problems: list, n: int = 1) -> None:
        if problems:
            self.failed += n
            self.problems.append((what, problems[:3]))


# --- session -------------------------------------------------------------


def start_session(work: str, trace: bool):
    """A local[4] session whose scratch, temp and event-log files stay
    under ``work``."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM that builds the launch command
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            # No zstd module is installed to read the default codec.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the gateway JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


# --- inputs --------------------------------------------------------------


def make_fleet(work: str, seed: int) -> tuple[str, float]:
    """Generate the fleet GEN_REPEATS times into fresh directories and
    return the first with the median generation time. Every copy must
    hash the same."""
    times, hashes = [], set()
    for k in range(GEN_REPEATS):
        out = os.path.join(work, f"fleet{k}")
        t0 = time.perf_counter()
        hashes.add(fleet.write_fleet(out, fleet.generate(BASE_SEED, seed, CHARGERS, DAYS)))
        times.append(time.perf_counter() - t0)
    if len(hashes) != 1:
        raise RuntimeError(f"fleet generation is not deterministic: {sorted(hashes)}")
    print(f"# inputs sha256 {hashes.pop()} (seed {seed}, {CHARGERS} chargers x {DAYS} days)")
    return os.path.join(work, "fleet0"), statistics.median(times)


def last_day_bytes(fleet_dir: str) -> int:
    """Bytes of the log lines the incremental batch adds."""
    cut = fleet.day_start(DAYS - 1).encode()
    with open(os.path.join(fleet_dir, fleet.LOGS_NAME), "rb") as f:
        next(f)
        return sum(len(line) for line in f if line[:len(cut)] >= cut)


def _tree_hash(*dirs: str) -> str:
    h = hashlib.sha256()
    for d in dirs:
        for root, subdirs, files in os.walk(d):
            subdirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(path[len(d):].encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def base_state(root: str, work: str, fleet_dir: str) -> tuple[str, float, float]:
    """The state after days 1-13, built once per checkout and program
    version (the base days do not depend on --seed). Returns its
    directory, the time the incremental runner took to build it, and the
    wall time this run spent building it (0 when it was cached)."""
    here = os.path.dirname(os.path.abspath(__file__))
    key = _tree_hash(os.path.join(root, "kwwhat_spark"), here)
    cache = os.path.join(root, ".bench_work", "cache", f"base-{CHARGERS}x{DAYS}-{key}")
    meta = os.path.join(cache, "meta.json")
    spent = 0.0
    if not os.path.exists(meta):
        tmp = f"{cache}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        # A child process with its own JVM, so that this run's batch
        # meets a cold JVM like every other run's.
        subprocess.run([sys.executable, "-m", "perfbench.ocpp", fleet_dir, tmp,
                        os.path.join(work, "base")], cwd=root, check=True, timeout=170)
        spent = time.perf_counter() - t0
        try:
            os.rename(tmp, cache)
        except OSError:  # another run published it first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta) as f:
        return os.path.join(cache, "state"), json.load(f)["build_s"], spent


def _build_base_state(fleet_dir: str, out: str, work: str) -> None:
    spark = start_session(work, trace=False)
    try:
        sources = load_ocpp_sources(spark, fleet_dir)
        base_logs = sources["raw_ocpp_logs"].filter(
            F.col("timestamp") < fleet.day_start(DAYS - 1))
        t0 = time.perf_counter()
        store = PartitionedStateStore(spark, os.path.join(out, "state"))
        IncrementalRunner(spark, store).run_batch({**sources, "raw_ocpp_logs": base_logs},
                                                  models=list(INCREMENTAL_MODELS))
        build_s = time.perf_counter() - t0
    finally:
        stop_session(spark)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({"build_s": build_s}, f)


def _file_stats(d: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, files in os.walk(d):
        for name in files:
            st = os.stat(os.path.join(root, name))
            out[os.path.join(root, name)] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


# --- chat-BI -------------------------------------------------------------


@dataclass
class BIRound:
    latencies: list = field(default_factory=list)
    # label -> (schema, rows) as collected by the timed ask
    answers: dict = field(default_factory=dict)
    errors: dict = field(default_factory=dict)


def bi_round(pipe, tracer: Tracer, questions: tuple, pop_and_metrics: bool) -> BIRound:
    """The chat-BI questions, then optionally period-over-period and a
    semantic metric query, asked one after another (one closed-loop
    client)."""
    rnd = BIRound()

    def ask(q):
        with tracer.span("bi.route"):
            bq = bi.route(q)
        with tracer.span("bi.compile"):
            df = bi.compile_query(pipe, bq)
        with tracer.span("bi.exec"):
            return df.schema, df.collect()

    def pop(_):
        with tracer.span("bi.pop"):
            df = bi.period_over_period(pipe, POP_QUESTION, anchor=POP_ANCHOR)
            return df.schema, df.collect()

    def metrics(_):
        with tracer.span("metrics.query_metrics"):
            df = query_metrics(pipe, sorted(METRICS))
            return df.schema, df.collect()

    calls = [(q, ask) for q in questions]
    if pop_and_metrics:
        calls += [(POP_QUESTION, pop), ("query_metrics", metrics)]
    for label, fn in calls:
        t0 = time.perf_counter()
        try:
            rnd.answers[label] = fn(label)
        except Exception as e:  # an ask that raises is a failed operation
            rnd.errors[label] = f"{type(e).__name__}: {e}"
            continue
        rnd.latencies.append(time.perf_counter() - t0)
    return rnd


def bi_phase(pipe, tracer: Tracer, window_end: float, ops: Ops, questions: tuple,
             pop_and_metrics: bool) -> tuple[BIRound, list]:
    """Full rounds until the measuring window ends, at least one. The
    first round's answers are gated later."""
    rounds = [bi_round(pipe, tracer, questions, pop_and_metrics)]
    while time.perf_counter() < window_end:
        rounds.append(bi_round(pipe, tracer, questions, pop_and_metrics))
    lat = []
    for rnd in rounds:
        ops.attempted += len(questions) + (2 if pop_and_metrics else 0)
        for label, err in rnd.errors.items():
            ops.record(label, [err])
        lat.extend(rnd.latencies)
    return rounds[0], lat


def bi_gates(spark, rnd: BIRound, fleet_dir: str, ops: Ops, oracle_pop: bool) -> None:
    """Entity answers against their oracle; the period-over-period answer
    against its oracle when the marts are full-refresh marts; every
    other answer must have at least one row."""
    entities = [rnd.answers.get(q) for q in ENTITY_QUESTIONS]
    if all(entities):
        ops.record("bi entities", gates.bi_entities_gate(spark, entities, fleet_dir),
                   n=len(ENTITY_QUESTIONS))
    checked = set(ENTITY_QUESTIONS)
    if oracle_pop and POP_QUESTION in rnd.answers:
        ops.record("bi period-over-period",
                   gates.bi_pop_gate(spark, rnd.answers[POP_QUESTION], fleet_dir))
        checked.add(POP_QUESTION)
    for label, (_, rows) in rnd.answers.items():
        if label not in checked and not rows:
            ops.record(label, ["0 rows"])


def _latency_layers(lat: list) -> dict:
    return {"bi.p50_s": statistics.median(lat), "bi.p90_s": statistics.quantiles(lat, n=10)[8]}


# --- workloads -----------------------------------------------------------


@dataclass
class Result:
    ops: Ops
    e2e: dict
    layers: dict


def _session(work: str, trace: bool):
    t0 = time.perf_counter()
    spark = start_session(work, trace)
    return spark, Tracer(trace, spark.sparkContext), time.perf_counter() - t0


def _zero_layers() -> dict:
    return {name: 0.0 for name in PER_LAYER}


def _model_layers(tracer: Tracer, root_id: int, folded) -> dict:
    spans = tracer.spans
    selfs = self_times(spans)
    under = descendants(spans, root_id)
    out = {}
    per_module = {m: set() for m in MODULES}
    for s in spans:
        if s.id in under and s.name.startswith("models."):
            per_module[s.attrs["module"]].add(s.id)
            if s.attrs["model"] in TIMED_MODELS:
                out[f"models.{s.attrs['model']}.self_s"] = selfs[s.id]
    attributed = 0.0
    for m, ids in per_module.items():
        self_s = sum(selfs[i] for i in ids)
        attributed += self_s
        out[f"models.{m}.self_s"] = self_s
        for k, v in stage_totals(folded, ids).items():
            out[f"models.{m}.{k}"] = v
    out["models.unattributed_s"] = spans[root_id].duration - attributed
    return out


def _bi_layers(tracer: Tracer) -> dict:
    tot = {}
    for s in tracer.spans:
        if s.name.startswith(("bi.", "metrics.")):
            tot[s.name] = tot.get(s.name, 0.0) + s.duration
    return {
        "bi.route_s": tot.get("bi.route", 0.0),
        "bi.compile_s": tot.get("bi.compile", 0.0),
        "bi.exec_s": tot.get("bi.exec", 0.0),
        "bi.pop_s": tot.get("bi.pop", 0.0),
        "metrics.query_metrics_s": tot.get("metrics.query_metrics", 0.0),
    }


def _finish(spark, tracer: Tracer, work: str) -> tuple[float, dict]:
    """Peak RSS, then stop the session and fold the event log."""
    rss = jvm_peak_rss_mb(spark)
    stop_session(spark)
    folded = {}
    if tracer.enabled:
        logs = [os.path.join(work, "events", n) for n in os.listdir(os.path.join(work, "events"))]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        folded = fold_event_log(logs[0])
    return rss, folded


def run_refresh(root: str, work: str, seed: int, seconds: float, trace: bool) -> Result:
    fleet_dir, gen_s = make_fleet(work, seed)
    spark, tracer, session_s = _session(work, trace)
    ops = Ops()

    t0 = time.perf_counter()
    with tracer.span("refresh") as root_span:
        pipe = _MaterializingPipeline(
            spark=spark, sources=load_ocpp_sources(spark, fleet_dir),
            cache_views=("stg_ocpp_logs",), tracer=tracer,
        )
        for name in REFRESH_ORDER:
            pipe.ref(name)
    pipeline_s = time.perf_counter() - t0
    ops.attempted += 1
    rnd, lat = bi_phase(pipe, tracer, t0 + seconds, ops,
                        ENTITY_QUESTIONS + METRIC_QUESTIONS, pop_and_metrics=True)

    t_gate = time.perf_counter()
    mart_problems = [p for ps in gates.mart_gates(pipe, fleet_dir).values() for p in ps]
    ops.record("refresh marts", mart_problems)
    bi_gates(spark, rnd, fleet_dir, ops, oracle_pop=True)
    oracle_s = time.perf_counter() - t_gate

    rss, folded = _finish(spark, tracer, work)
    layers = _zero_layers()
    layers.update({"session.start_s": session_s, "fleet.generate_s": gen_s,
                   "oracle.check_s": oracle_s, "jvm.peak_rss_mb": rss,
                   "traced.pipeline_s": pipeline_s, **_latency_layers(lat)})
    if trace:
        layers.update(_model_layers(tracer, root_span.id, folded))
        layers.update(_bi_layers(tracer))
        layers["tracing_overhead_frac"] = tracer.overhead_s / pipeline_s
    return Result(ops, {
        "setup_s": session_s + gen_s,
        "pipeline_s": pipeline_s,
        "bi_mean_s": statistics.mean(lat),
    }, layers)


def _state_rows(store, full_pipe, names) -> tuple[dict, dict]:
    full, inc = {}, {}
    for name in names:
        expected = full_pipe.ref(name)
        full[name] = gates.stable_rows(expected, name)
        inc[name] = gates.stable_rows(store.read(name), name, columns=expected.columns)
    return full, inc


def _store_layers(tracer: Tracer, root_id: int, prefix: str) -> dict:
    spans = tracer.spans
    selfs = self_times(spans)
    under = descendants(spans, root_id)
    reads = sum(s.duration for s in spans if s.id in under and s.name == "store.read"
                and s.parent == root_id)
    merges = [s for s in spans if s.id in under and s.name == "store.merge"]
    out = {f"{prefix}.store_read_s": reads,
           f"{prefix}.store_merge_s": sum(s.duration for s in merges)}
    if prefix == "incremental.batch":
        for s in merges:
            out[f"incremental.merge.{s.attrs['model']}.self_s"] = selfs[s.id]
    return out


def run_incremental(root: str, work: str, seed: int, seconds: float, trace: bool) -> Result:
    fleet_dir, gen_s = make_fleet(work, seed)
    cached, build_s, build_wall_s = base_state(root, work, fleet_dir)
    spark, tracer, session_s = _session(work, trace)
    ops = Ops()
    t0 = time.perf_counter()
    state_dir = os.path.join(work, "state")
    shutil.copytree(cached, state_dir)
    copy_s = time.perf_counter() - t0

    sources = load_ocpp_sources(spark, fleet_dir)
    store = _TracedStore(spark, state_dir, tracer)
    runner = IncrementalRunner(spark, store)
    before = _file_stats(state_dir)
    t0 = time.perf_counter()
    with tracer.span("incremental.batch") as batch_span:
        runner.run_batch(sources, models=list(INCREMENTAL_MODELS))
    pipeline_s = time.perf_counter() - t0
    ops.attempted += 1
    written = bytes_written(before, _file_stats(state_dir))

    pipe = Pipeline(spark=spark, sources=sources, cache_views=("stg_ocpp_logs",),
                    overrides={m: store.read(m) for m in INCREMENTAL_MODELS})
    # Only the entity counts: the other marts are not in the batch, and
    # asking them would time their full computation as chat-BI latency.
    rnd, lat = bi_phase(pipe, tracer, t0 + seconds, ops, ENTITY_QUESTIONS,
                        pop_and_metrics=False)

    t_gate = time.perf_counter()
    full_pipe = Pipeline(spark=spark, sources=sources, cache_views=("stg_ocpp_logs",))
    gate_models = ("int_status_changes", "int_connector_preparing", "int_faulted_outages")
    names = INCREMENTAL_MODELS if trace else gate_models
    full, inc = _state_rows(store, full_pipe, names)
    batch_problems = [f"{m}: {p}" for m, ps in gates.incremental_gates(full, inc).items()
                      for p in ps]
    ops.record("incremental batch", batch_problems)
    bi_gates(spark, rnd, fleet_dir, ops, oracle_pop=False)
    oracle_s = time.perf_counter() - t_gate

    layers = _zero_layers()
    if trace:
        layers.update({f"incremental.divergent_rows.{m}": gates.divergent_rows(full[m], inc[m])
                       for m in INCREMENTAL_MODELS})
        # The re-run lands the same batch again: no new data, so it
        # isolates the fixed per-batch cost. It runs on traced runs only.
        snapshot = {m: gates.rows(store.read(m), store.read(m).columns)
                    for m in INCREMENTAL_MODELS}
        before = _file_stats(state_dir)
        t0 = time.perf_counter()
        with tracer.span("incremental.rerun") as rerun_span:
            runner.run_batch(sources, models=list(INCREMENTAL_MODELS))
        layers["incremental.rerun.wall_s"] = time.perf_counter() - t0
        ops.attempted += 1
        layers["incremental.rerun.state_bytes_written"] = bytes_written(
            before, _file_stats(state_dir))
        layers["incremental.rerun_rows_changed"] = sum(
            gates.divergent_rows(snapshot[m], gates.rows(store.read(m), store.read(m).columns))
            for m in INCREMENTAL_MODELS)
        _, rerun_inc = _state_rows(store, full_pipe, gate_models)
        rerun_problems = [
            f"{m}: {p}" for m, ps in gates.incremental_gates(full, rerun_inc).items()
            if m != "int_faulted_outages" for p in ps]
        ops.record("incremental re-run", rerun_problems)

    rss, folded = _finish(spark, tracer, work)
    new_bytes = last_day_bytes(fleet_dir)
    layers.update({
        "session.start_s": session_s, "fleet.generate_s": gen_s,
        "incremental.base_state_s": build_s, "incremental.state_copy_s": copy_s,
        "oracle.check_s": oracle_s, "jvm.peak_rss_mb": rss,
        "traced.pipeline_s": pipeline_s, **_latency_layers(lat),
    })
    if trace:
        layers.update(_store_layers(tracer, batch_span.id, "incremental.batch"))
        layers.update(_store_layers(tracer, rerun_span.id, "incremental.rerun"))
        layers["incremental.batch.state_bytes_written"] = written
        layers["incremental.batch.write_amp"] = written / new_bytes
        batch_stages = stage_totals(folded, descendants(tracer.spans, batch_span.id))
        layers["incremental.batch.shuffle_bytes"] = batch_stages["shuffle_bytes"]
        layers["incremental.batch.spill_bytes"] = batch_stages["spill_bytes"]
        layers.update(_bi_layers(tracer))
        layers["tracing_overhead_frac"] = tracer.overhead_s / pipeline_s
    setup_s = session_s + gen_s + copy_s + build_wall_s
    return Result(ops, {
        "setup_s": setup_s,
        "pipeline_s": pipeline_s,
        "bi_mean_s": statistics.mean(lat),
    }, layers)


WORKLOADS = {"ocpp_refresh": run_refresh, "ocpp_incremental": run_incremental}


if __name__ == "__main__":
    _build_base_state(*sys.argv[1:4])
