"""Output gates, run after the timed region.

Every gate returns a list of problems; an empty list is a pass. A
result with 0 rows never passes. The DuckDB oracles are the program's
own hand-compiled reference SQL (``kwwhat_spark.queries.ocpp_pipeline``)
re-pointed at the generated fleet, compared by the repo's oracle
harness (``tests/oracle_harness.py``).
"""

from __future__ import annotations

from collections import Counter

import duckdb
from pyspark.sql.types import StructType

from kwwhat_spark.queries import ocpp_pipeline as op
from tests.oracle_harness import compare, normalize

# Columns whose values link rows across a batch boundary, plus the
# confirmation timestamp of a request whose confirmation lands after
# the cutoff: the reference's own incremental SQL makes these
# batch-dependent, so refresh equivalence is judged without them.
BATCH_DEPENDENT_COLS = {
    "int_status_changes": {
        "previous_status", "previous_ingested_ts", "previous_payload_ts",
        "next_status", "next_ingested_ts", "next_payload_ts",
        "confirmation_ingested_ts",
    },
    "int_connector_preparing": {
        "previous_status", "previous_ingested_ts", "previous_payload_ts",
        "next_status", "next_ingested_ts", "next_payload_ts",
        "confirmation_ingested_ts",
    },
    "fact_charge_attempts": {"previous_status", "next_status"},
}


def oracle_gate(df, sql: str) -> list[str]:
    """Value-exact comparison of a Spark result against DuckDB SQL. The
    result is checkpointed first, so the comparison and the row count
    do not run it twice."""
    df = df.localCheckpoint()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    problems = compare(df, con, sql)
    if not problems and df.count() == 0:
        problems = ["0 rows"]
    return problems


def mart_gates(pipe, fleet_dir: str) -> dict[str, list[str]]:
    return {
        name: oracle_gate(op.mart_projection(name, pipe.ref(name)),
                          op.mart_oracle_for_seed_dir(name, fleet_dir))
        for name in op._MART_NAMES
    }


def bi_entities_gate(spark, answers: list, fleet_dir: str) -> list[str]:
    """The five one-row entity answers, joined into one row like the
    catalog entry ``ocpp_chat_bi_entities``, against its oracle.
    ``answers`` holds the (schema, rows) each timed ask collected."""
    fields, values = [], ()
    for schema, rows in answers:
        if len(rows) != 1:
            return [f"{schema.names}: {len(rows)} rows, expected 1"]
        fields += schema.fields
        values += tuple(rows[0])
    df = spark.createDataFrame([values], StructType(fields))
    return oracle_gate(df, op._BI_ENTITIES_ORACLE.replace(op._STG_CTES, op._stg_ctes(fleet_dir)))


def bi_pop_gate(spark, answer, fleet_dir: str) -> list[str]:
    schema, rows = answer
    df = spark.createDataFrame(rows, schema)
    return oracle_gate(df, op._BI_POP_ORACLE.replace(op._STG_CTES, op._stg_ctes(fleet_dir)))


def rows(df, cols: list[str]) -> Counter:
    """The rows of ``df`` on ``cols``, as a multiset of normalized tuples."""
    _, out = normalize(cols, [tuple(r) for r in df.select(*cols).collect()])
    return Counter(out)


def stable_rows(df, name: str, columns: list[str] | None = None) -> Counter:
    """The rows of a model on its batch-stable columns."""
    skip = {"incremental_ts"} | BATCH_DEPENDENT_COLS.get(name, set())
    return rows(df, [c for c in (columns or df.columns) if c not in skip])


def divergent_rows(full: Counter, inc: Counter) -> int:
    """Rows on only one side, counted with multiplicity."""
    return sum(((full - inc) + (inc - full)).values())


def incremental_gates(full: dict[str, Counter], inc: dict[str, Counter]) -> dict[str, list[str]]:
    """What the reference's incremental semantics guarantee against full
    refresh on this fleet: preparing and faulted outages are equal,
    status changes are a superset (boundary rows whose predecessor is
    unknown are kept as changes)."""
    out = {}
    for name in ("int_connector_preparing", "int_faulted_outages", "int_status_changes"):
        f, i = full[name], inc[name]
        problems = []
        if not f:
            problems.append("0 rows under full refresh")
        missing = sum((f - i).values())
        if name == "int_status_changes":
            if missing:
                problems.append(f"{missing} full-refresh rows missing from incremental")
        elif f != i:
            problems.append(f"{divergent_rows(f, i)} rows differ from full refresh")
        out[name] = problems
    return out
