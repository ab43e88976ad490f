"""Self-tests of the benchmark: input determinism, the output gates and
the span arithmetic. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest

from perfbench import catalog, fleet, gates
from perfbench.trace import Span, Tracer, descendants, fold_event_log, self_times, stage_totals

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hash(tmp_path, name, seed, chargers=8, days=3):
    return fleet.write_fleet(str(tmp_path / name), fleet.generate(7, seed, chargers, days))


def test_same_seed_same_input_hash(tmp_path):
    assert _hash(tmp_path, "a", 1) == _hash(tmp_path, "b", 1)


def test_other_seed_other_input_hash_and_same_base_days(tmp_path):
    assert _hash(tmp_path, "a", 1) != _hash(tmp_path, "b", 2)
    cut = fleet.day_start(2)
    base = [
        [r for r in fleet.generate(7, seed, 8, 3)[fleet.LOGS_NAME][1:] if r[0] < cut]
        for seed in (1, 2)
    ]
    assert base[0] and base[0] == base[1]


def test_self_time_subtracts_children_once_and_clipped():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),  # overlaps a
        Span(3, "c", 0, 8.0, 12.0),  # runs past its parent
        Span(4, "a.x", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert descendants(spans, 1) == {1, 4}


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == [] and t.overhead_s == 0.0


def test_event_log_fold_charges_stages_to_spans(tmp_path):
    def submitted(stage, group):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": stage}, "Properties": props}

    def completed(stage, shuffle, cpu_ns):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": stage, "Accumulables": [
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle},
                {"Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
            ]}}

    events = [submitted(0, "perfbench-span-3"), completed(0, 100, 2e9),
              submitted(1, "perfbench-span-3"), completed(1, 50, 1e9),
              submitted(2, None), completed(2, 7, 0)]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    folded = fold_event_log(str(path))
    assert folded[3]["shuffle_bytes"] == 150 and folded[-1]["shuffle_bytes"] == 7
    assert stage_totals(folded, {3}) == {"shuffle_bytes": 150, "spill_bytes": 0, "task_cpu_s": 3.0}


def test_incremental_gates_semantics():
    full = {"int_connector_preparing": Counter({("a",): 1}),
            "int_faulted_outages": Counter({("f",): 1}),
            "int_status_changes": Counter({("s",): 1})}
    inc = {**full, "int_status_changes": Counter({("s",): 1, ("boundary",): 1})}
    assert all(not p for p in gates.incremental_gates(full, inc).values())
    inc["int_faulted_outages"] = Counter({("f",): 2})
    assert gates.incremental_gates(full, inc)["int_faulted_outages"]
    inc["int_status_changes"] = Counter({("boundary",): 1})
    assert gates.incremental_gates(full, inc)["int_status_changes"]
    assert gates.divergent_rows(Counter({"x": 2, "y": 1}), Counter({"x": 1, "z": 1})) == 3


def test_benchmark_json_is_rendered_from_the_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == catalog.benchmark_json()


def test_catalog_model_lists_match_the_program():
    from perfbench import ocpp
    from kwwhat_spark.models.base import MODELS
    from kwwhat_spark.plans.incremental import INCREMENTAL_ORDER

    derived = tuple(m for m in ocpp.REFRESH_ORDER
                    if MODELS[m].__module__.rsplit(".", 1)[-1] != "hardware")
    assert catalog.TIMED_MODELS == derived
    assert list(catalog.INCREMENTAL_MODELS) == [
        m for m in INCREMENTAL_ORDER if m in catalog.INCREMENTAL_MODELS]
    assert {MODELS[m].__module__.rsplit(".", 1)[-1] for m in ocpp.REFRESH_ORDER} == set(
        catalog.MODULES)


@pytest.fixture(scope="module")
def spark_and_fleet(tmp_path_factory):
    from kwwhat_spark.session import get_spark

    d = str(tmp_path_factory.mktemp("fleet"))
    fleet.write_fleet(d, fleet.generate(7, 1, 8, 14))
    spark = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "2g"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, d
    shutil.rmtree(d, ignore_errors=True)


def test_mart_gate_fails_on_a_dropped_or_changed_row(spark_and_fleet):
    from pyspark.sql import functions as F

    import kwwhat_spark.models  # noqa: F401
    from kwwhat_spark.models.base import Pipeline
    from kwwhat_spark.queries import ocpp_pipeline as op
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    spark, d = spark_and_fleet
    name = "fact_charge_attempts"
    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark, d))
    mart = op.mart_projection(name, pipe.ref(name)).localCheckpoint()
    oracle = op.mart_oracle_for_seed_dir(name, d)
    assert gates.oracle_gate(mart, oracle) == []

    victim = mart.orderBy("charge_attempt_id").first()["charge_attempt_id"]
    dropped = mart.filter(F.col("charge_attempt_id") != victim)
    assert dropped.count() == mart.count() - 1
    assert gates.oracle_gate(dropped, oracle)

    changed = mart.withColumn(
        "status",
        F.when(F.col("charge_attempt_id") == victim, F.lit("Changed")).otherwise(F.col("status")),
    )
    assert gates.oracle_gate(changed, oracle)
    assert gates.oracle_gate(mart.limit(0), oracle)


def test_incremental_models_are_closed_under_their_upstream(spark_and_fleet):
    """A batch of a subset of the incremental models must never compute
    another incremental model from the sources, outside the state."""
    import kwwhat_spark.models  # noqa: F401
    from kwwhat_spark.models.base import Pipeline
    from kwwhat_spark.plans.incremental import INCREMENTAL_ORDER
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    spark, d = spark_and_fleet
    seen = set()

    class Recording(Pipeline):
        def ref(self, name):
            seen.add(name)
            return super().ref(name)

    pipe = Recording(spark=spark, sources=load_ocpp_sources(spark, d))
    for name in catalog.INCREMENTAL_MODELS:
        pipe.ref(name)
    pipe.unpersist_all()
    assert set(catalog.INCREMENTAL_MODELS) <= seen
    assert seen & set(INCREMENTAL_ORDER) <= set(catalog.INCREMENTAL_MODELS)
