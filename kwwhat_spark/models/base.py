"""Model DAG framework — the Spark equivalent of the reference's dbt
manifest (SURVEY §3.1).

A *model* is a named function ``(Pipeline) -> DataFrame``. ``Pipeline``
resolves ``ref()`` edges on first use and materializes every table
model (see ``Pipeline.ref``), so executing any mart pulls exactly its
upstream subgraph — the topological order is implicit, like dbt's
manifest DAG. Full-refresh semantics (every reference model's
``is_incremental()=false`` branch); the incremental batch runner layers
on top (kwwhat_spark/plans/incremental.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kwwhat_spark.config import VARS, PipelineVars

MODELS: dict[str, Callable[["Pipeline"], DataFrame]] = {}

# Reference materializations (dbt_project.yml:38-42 + per-model configs):
# views stay lazy, everything else is materialized on first resolution.
VIEW_MODELS = {
    "stg_ocpp_logs",
    "stg_chargers",
    "stg_ports",
    "stg_connectors",
    "fact_uptime",
    "fact_charger_commissioned_daily",
}


def model(name: str):
    def deco(fn: Callable[["Pipeline"], DataFrame]):
        MODELS[name] = fn
        return fn

    return deco


@dataclass
class Pipeline:
    """Execution context: sources + model resolution (see ``ref``).

    sources must provide: raw_ocpp_logs, raw_chargers, raw_ports,
    raw_connectors (schemas in FIXTURES.md §1).
    """

    spark: SparkSession
    sources: dict[str, DataFrame]
    vars: PipelineVars = field(default_factory=lambda: VARS)
    _cache: dict[str, DataFrame] = field(default_factory=dict)
    # Models whose cached value should be replaced by a mock (unit tests
    # inject upstream fixtures exactly like dbt unit tests do).
    overrides: dict[str, DataFrame] = field(default_factory=dict)
    # Incremental mode: prior state per model ("{{ this }}"). A model runs
    # its is_incremental() branch iff its name is present here.
    this_dfs: dict[str, DataFrame] = field(default_factory=dict)
    # View models to materialize anyway, exactly like a table model. The
    # staged log view feeds ~20 downstream models: materializing it parses
    # the raw envelope once instead of once per consumer, at the price of
    # the scan pruning each consumer would get from the lazy view. Off by
    # default (pure-lazy views, maximal pushdown).
    cache_views: tuple[str, ...] = ()

    def is_incremental(self, name: str) -> bool:
        return name in self.this_dfs

    def this(self, name: str) -> DataFrame:
        return self.this_dfs[name]

    def incremental_window(
        self, name: str, buffer_minutes: int = 0
    ) -> tuple[object, object, object]:
        """Incremental batch window: from = max(incremental_ts of target),
        to = from + 3 months, buffer_from = from - buffer
        (macros/incremental_date_range.sql, is_incremental() path)."""
        import datetime as dt

        from_ts = self.scalar_max(self.this(name), "incremental_ts")
        if from_ts is None:
            from_ts = dt.datetime.fromisoformat(self.vars.start_processing_date)
        import calendar

        month = from_ts.month - 1 + self.vars.incremental_window_months
        year = from_ts.year + month // 12
        month = month % 12 + 1
        day = min(from_ts.day, calendar.monthrange(year, month)[1])
        to_ts = from_ts.replace(year=year, month=month, day=day)
        buffer_from = from_ts - dt.timedelta(minutes=buffer_minutes)
        return from_ts, buffer_from, to_ts

    def source(self, name: str) -> DataFrame:
        return self.sources[name]

    def ref(self, name: str) -> DataFrame:
        """Resolve a model. Table models (every model outside VIEW_MODELS,
        plus ``cache_views``) are materialized like a dbt table: an eager
        ``localCheckpoint`` stores the rows in executor block storage and
        returns a frame whose plan is one ``LogicalRDD`` leaf. Downstream
        models, BI queries and driver-side scalars then read the stored
        rows; Catalyst never re-analyzes or re-plans the upstream SQL.
        Views stay lazy and collapse into their consumers.

        The trade: checkpoint blocks are not recomputable, so losing an
        executor fails the job instead of recomputing the model — the
        same trade the incremental state stores make. ``unpersist_all``
        frees the blocks."""
        if name in self.overrides:
            return self.overrides[name]
        if name not in self._cache:
            df = MODELS[name](self)
            if self.materializes(name):
                df = df.localCheckpoint(eager=True)
            self._cache[name] = df
        return self._cache[name]

    def materializes(self, name: str) -> bool:
        """Whether ``ref(name)`` checkpoints the model (vs a lazy view)."""
        return name not in VIEW_MODELS or name in self.cache_views

    def unpersist_all(self, keep: tuple[str, ...] = ()) -> None:
        """Free every model this Pipeline materialized, except those named
        in ``keep``, and forget every resolved model not kept."""
        from kwwhat_spark.operators.cachescope import release

        for name in [n for n in self._cache if n not in keep]:
            df = self._cache.pop(name)
            if self.materializes(name):
                try:
                    release(df)
                except Exception:  # session already stopped — nothing to free
                    pass

    # ------------------------------------------------------------------
    # Batch-window computation (macros/incremental_date_range.sql).
    # Full-refresh path: from = greatest(*caps), to = from + 3 months,
    # buffer_from = from - buffer_minutes. Computed on the driver so the
    # window filter is a literal predicate Catalyst can push into the scan
    # (SURVEY §4: cleaner than scalar subqueries).
    # ------------------------------------------------------------------
    def full_refresh_window(
        self,
        extra_from_caps: list[DataFrame | object] = (),
        buffer_minutes: int = 0,
    ) -> tuple[object, object, object]:
        import datetime as dt

        caps = [dt.datetime.fromisoformat(self.vars.start_processing_date)]
        for cap in extra_from_caps:
            if cap is not None:
                caps.append(cap)
        from_ts = max(caps)
        # dateadd(month, 3): calendar month arithmetic, like dbt.dateadd.
        month = from_ts.month - 1 + self.vars.incremental_window_months
        year = from_ts.year + month // 12
        month = month % 12 + 1
        import calendar

        day = min(from_ts.day, calendar.monthrange(year, month)[1])
        to_ts = from_ts.replace(year=year, month=month, day=day)
        buffer_from = from_ts - dt.timedelta(minutes=buffer_minutes)
        return from_ts, buffer_from, to_ts

    # Driver-side scalars are memoized per Pipeline by DataFrame
    # IDENTITY: incremental models re-derive the same watermark over the
    # same shared DataFrame object several times per batch (a merged
    # state table feeds both its consumer's cap and its own window; the
    # staged view feeds every model), and each repeat was a full Spark
    # job. Identity — not plan equality — is the sound key: two reads of
    # the same state path before and after a merge are semantically
    # identical plans over DIFFERENT data. The memo holds a strong
    # reference to the DataFrame so a dead object's id can never be
    # recycled into a false hit.
    #
    # OBJECT-IDENTITY CONTRACT (callers must honor it): a scalar read
    # over mutated storage must go through a NEW DataFrame object — the
    # incremental stores do this (every merge re-reads state into a
    # fresh read()), so staleness cannot occur there. Any future code
    # that holds ONE DataFrame object across a write to its underlying
    # path must call invalidate_scalars() after the write, or it reads
    # the pre-write watermark forever. Long-lived Pipelines should also
    # call it periodically: the strong references pin DataFrames (and
    # their cached plans) for the Pipeline's lifetime.
    def invalidate_scalars(self) -> None:
        """Drop all memoized driver scalars (and the DataFrame pins that
        key them). Call after writing beneath a DataFrame object you
        intend to re-query, or to bound memory on a long-lived Pipeline."""
        if hasattr(self, "_scalar_cache"):
            self._scalar_cache.clear()

    def _scalar_memo(self, df: DataFrame, col: str, kind: str, expr):
        if not hasattr(self, "_scalar_cache"):
            self._scalar_cache: dict = {}
        key = (id(df), col, kind)
        if key not in self._scalar_cache:
            row = df.agg(expr(col).alias("v")).first()
            self._scalar_cache[key] = (df, row["v"] if row else None)
        return self._scalar_cache[key][1]

    def scalar(self, df: DataFrame, col: str):
        """Memoized driver-side MIN(col). Keyed by DataFrame identity —
        see the object-identity contract on _scalar_memo / use
        invalidate_scalars() after writing beneath a reused object."""
        return self._scalar_memo(df, col, "min", F.min)

    def scalar_max(self, df: DataFrame, col: str):
        """Memoized driver-side MAX(col). Same identity contract as
        scalar()."""
        return self._scalar_memo(df, col, "max", F.max)


def run_model(pipeline: Pipeline, name: str) -> DataFrame:
    return pipeline.ref(name)
