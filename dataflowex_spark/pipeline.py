"""Pipeline kernel — reference-parity composition layer.

The reference composes typed, named dataflow nodes
([R: Gridsum.DataflowEx/Dataflow.cs # RegisterChild, Name, GoTo],
[R: Gridsum.DataflowEx/DataflowUtils.cs # FromDelegate]) into a
push-based graph. Here a node is a *named* ``DataFrame → DataFrame``
function; composing nodes builds ONE lazy Catalyst plan, so the
optimizer sees the whole graph (pushdown/pruning across node
boundaries — something the reference's eager push model cannot do).

Parity map (SURVEY.md §2-A):
  transform      A2  (TransformBlock / FromDelegate)
  flat_map       A3  (TransformManyBlock)
  filter         A4  (LinkTo(target, predicate))
  split          A5/A6 (LinkLeftTo / LinkSubTypeTo — disjoint routing)
  fan_out        A7  (DataBroadcaster — guaranteed copy to all)
  dispatch       A8  (DataDispatcher — per-key child pipeline)
  batch/sink     A9/A10/A15 (BatchBlock, DbBulkInserter, ActionBlock)
  stats          A13 (StatisticsRecorder) via df.observe
  naming/nesting A16 (RegisterChild / auto names)
  fault wrap     A17 (PropagatedException carries the node name)
  ring_iterate   A18 (RegisterChildRing — driver-side iteration)
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

_name_counters: dict[str, itertools.count] = {}


def _auto_name(prefix: str) -> str:
    """Auto-generated unique node names, like DataflowEx's "XFlow1"."""
    c = _name_counters.setdefault(prefix, itertools.count(1))
    return f"{prefix}{next(c)}"


class PipelineError(RuntimeError):
    """Failure of any node faults the whole pipeline, carrying the
    node name — analog of DataflowEx's PropagatedException
    [R: Gridsum.DataflowEx/Exceptions.cs # PropagatedException]."""

    def __init__(self, node: str, cause: Exception):
        super().__init__(f"pipeline node '{node}' failed: {cause}")
        self.node = node
        self.cause = cause


@dataclass
class _Node:
    name: str
    fn: Callable[[DataFrame], DataFrame]


class Pipeline:
    """A named chain of DataFrame transformations.

    Lazy: ``df()`` materializes the *plan* (still unexecuted); an
    action (``run``, ``sink``) executes it. Branching (``split``,
    ``fan_out``) returns child pipelines that share the upstream plan.
    """

    def __init__(self, source: DataFrame | Callable[[], DataFrame], name: str | None = None):
        self.name = name or _auto_name("Pipeline")
        self._source = source
        self._nodes: list[_Node] = []
        self._observations: list = []  # pyspark Observation handles

    # -- composition ---------------------------------------------------

    def _add(self, prefix: str, fn: Callable[[DataFrame], DataFrame], name: str | None) -> "Pipeline":
        self._nodes.append(_Node(name or _auto_name(prefix), fn))
        return self

    def transform(
        self,
        fn: Callable[[DataFrame], DataFrame] | Mapping[str, Column],
        name: str | None = None,
    ) -> "Pipeline":
        """1→1 map stage (A2). Accepts a DataFrame function or a
        mapping of output column → Column expression (kept declarative
        so it stays inside whole-stage codegen)."""
        if isinstance(fn, Mapping):
            cols = dict(fn)

            def _project(df: DataFrame, _cols=cols) -> DataFrame:
                return df.select(*[c.alias(n) for n, c in _cols.items()])

            return self._add("Transform", _project, name)
        return self._add("Transform", fn, name)

    def with_columns(self, **cols: Column) -> "Pipeline":
        def _wc(df: DataFrame) -> DataFrame:
            return df.withColumns(dict(cols))

        return self._add("WithColumns", _wc, None)

    def flat_map(
        self,
        explode_expr: Column | Callable[[DataFrame], DataFrame],
        alias: str | None = None,
        keep: list[str] | None = None,
        name: str | None = None,
    ) -> "Pipeline":
        """1→N stage (A3). Declarative form: pass an array-typed Column
        (e.g. ``F.split(col, ' ')``) exploded JVM-side; general form:
        pass a DataFrame function (e.g. a ``mapInPandas`` wrapper)."""
        if callable(explode_expr) and not isinstance(explode_expr, Column):
            return self._add("FlatMap", explode_expr, name)
        out = alias or "item"
        keep_cols = keep

        def _explode(df: DataFrame) -> DataFrame:
            base = [F.col(c) for c in (keep_cols or df.columns)]
            return df.select(*base, F.explode(explode_expr).alias(out))

        return self._add("FlatMap", _explode, name)

    def filter(self, cond: Column | str, name: str | None = None) -> "Pipeline":
        """Predicate routing (A4): keep rows matching ``cond``."""
        return self._add("Filter", lambda df: df.filter(cond), name)

    def split(
        self,
        branches: Mapping[str, Column],
        leftover: str | None = "leftover",
    ) -> dict[str, "Pipeline"]:
        """Multi-way disjoint routing (A5/A6 — LinkTo chain + LinkLeftTo).

        First matching predicate wins (reference link order semantics);
        ``leftover`` names the dead-letter branch (LinkLeftTo); pass
        ``leftover=None`` to discard the remainder (LinkLeftToNull).
        """
        base = self.df()
        out: dict[str, Pipeline] = {}
        taken: Column | None = None
        for bname, cond in branches.items():
            # NULL predicates must mean "no match", not "drop the row":
            # without the coalesce, a row whose first predicate is NULL
            # and second is TRUE evaluates TRUE & ~NULL = NULL in the
            # second branch and vanishes from every branch.
            cond = F.coalesce(cond, F.lit(False))
            eff = cond if taken is None else (cond & ~taken)
            out[bname] = Pipeline(base.filter(eff), name=f"{self.name}.{bname}")
            taken = cond if taken is None else (taken | cond)
        if leftover is not None and taken is not None:
            out[leftover] = Pipeline(
                base.filter(~taken), name=f"{self.name}.{leftover}"
            )
        return out

    def fan_out(self, n: int, cache: bool = False) -> list["Pipeline"]:
        """Broadcast/copy to n downstream branches (A7 DataBroadcaster).

        Spark DAG fan-out is native: branches share one immutable plan
        (the reference clones messages). ``cache=True`` additionally
        materializes the shared prefix so each branch skips recompute —
        an *iterative/local* optimization: at full scale a shared scan
        usually beats caching a table-sized prefix, and a cached base
        pins executor memory until released, so it is opt-in and every
        branch carries ``unpersist()`` to release it after its actions.
        """
        base = self.df()
        if cache:
            base = base.cache()
        branches = [Pipeline(base, name=f"{self.name}.branch{i}") for i in range(n)]
        if cache:
            for b in branches:
                b._cached_base = base
        return branches

    def unpersist(self) -> "Pipeline":
        """Release the cached fan-out prefix (no-op when none)."""
        cached = getattr(self, "_cached_base", None)
        if cached is not None:
            cached.unpersist()
            self._cached_base = None
        return self

    def dispatch(
        self,
        key: str | Column,
        child: Callable[[DataFrame], DataFrame] | None = None,
        *,
        apply_in_pandas: tuple[Callable, Any] | None = None,
        name: str | None = None,
    ) -> "Pipeline":
        """Per-key child pipelines (A8 DataDispatcher).

        The reference lazily creates one sub-flow per distinct key
        [R: Gridsum.DataflowEx/DataDispatcher.cs # CreateChildFlow].
        At scale, per-key plans are unbounded — so dispatch is grouped
        execution: either a declarative per-group transform applied
        under ``groupBy(key)`` (child receives the keyed DataFrame) or
        ``apply_in_pandas=(fn, schema)`` for imperative per-key logic.
        Never a driver-side loop over keys.
        """
        if apply_in_pandas is not None:
            fn, schema = apply_in_pandas

            def _aip(df: DataFrame) -> DataFrame:
                return df.groupBy(key).applyInPandas(fn, schema=schema)

            return self._add("Dispatch", _aip, name)
        if child is None:
            raise ValueError("dispatch needs `child` or `apply_in_pandas`")
        return self._add("Dispatch", child, name)

    def stats(self, name: str, *exprs: Column) -> "Pipeline":
        """Attach side-channel aggregates (A13 StatisticsRecorder) via
        ``df.observe`` — read them back with :meth:`stat_values` after
        an action, no second pass over the data. A fresh Observation is
        created per materialization (pyspark allows each Observation
        instance to bind to exactly one DataFrame)."""

        def _obs(df: DataFrame) -> DataFrame:
            from pyspark.sql import Observation

            obs = Observation(name)
            self._observations = [
                (n, o) for n, o in self._observations if n != name
            ] + [(name, obs)]
            return df.observe(obs, *exprs)

        return self._add("Stats", _obs, None)

    def stat_values(self) -> dict[str, dict]:
        """Collected observation metrics of the most recent
        materialization (valid after an action ran)."""
        return {name: dict(obs.get) for name, obs in self._observations}

    def monitor(self) -> "Pipeline":
        """Enable per-node row counting (A19 flow monitor): every node
        boundary gets an Observation, collected by :meth:`run_report`
        after an action — one pass over the data, no extra jobs."""
        self._monitor = True
        return self

    # -- materialization ----------------------------------------------

    def df(self) -> DataFrame:
        """Compose all nodes into one lazy DataFrame plan."""
        from pyspark.sql import Observation

        df = self._source() if callable(self._source) else self._source
        if getattr(self, "_monitor", False):
            self._node_obs = []
        for node in self._nodes:
            try:
                df = node.fn(df)
                if getattr(self, "_monitor", False):
                    obs = Observation(f"{self.name}.{node.name}")
                    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                    self._node_obs.append((node.name, obs))
            except Exception as e:  # plan-time failure (analysis)
                raise PipelineError(node.name, e) from e
        return df

    def run_report(self) -> dict[str, int]:
        """Per-node output row counts (after an action; requires
        :meth:`monitor`) — the BufferStatus/throughput report of the
        reference's flow monitor, driven by ``observe`` metrics."""
        return {
            name: int(obs.get["rows"])
            for name, obs in getattr(self, "_node_obs", [])
        }

    def timed_report(self) -> dict[str, dict[str, float]]:
        """Per-node ``{rows, ms}`` — the full FlowMonitor parity
        (rows *and* wall time per node).

        One lazy Catalyst plan has no per-node runtime boundary
        (whole-stage codegen fuses nodes), so this DIAGNOSTIC executes
        each node prefix and differences the cumulative wall time:
        node i's ms ≈ cost added by node i. N actions over the plan —
        point it at test scale or a sampled frame, not the 100 TB
        hot path; for production row counts use :meth:`monitor` +
        :meth:`run_report` (single pass, observe metrics)."""
        import time as _time

        out: dict[str, dict[str, float]] = {}
        df = self._source() if callable(self._source) else self._source
        prev = 0.0
        t0 = _time.perf_counter()
        for name, rows in self._run_prefixes(df, observe=True):
            cum = _time.perf_counter() - t0
            out[name] = {"rows": float(rows), "ms": (cum - prev) * 1000.0}
            prev = cum
        return out

    def _run_prefixes(self, df: DataFrame, observe: bool = False):
        """Run each node prefix over ``df`` through a ``noop`` sink
        (count() would let Catalyst prune a node's work — or its
        failing expression — away) and yield ``(node, rows)``, the
        rows observed in the same pass when ``observe`` (else None).
        A failing prefix raises :class:`PipelineError` naming its
        node."""
        from pyspark.sql import Observation

        for node in self._nodes:
            try:
                df = node.fn(df)
                run = df
                if observe:
                    obs = Observation()
                    run = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                run.write.format("noop").mode("overwrite").save()
                rows = int(obs.get["rows"]) if observe else None
            except Exception as e:
                raise PipelineError(node.name, e) from e
            yield node.name, rows

    def _locate_failing_node(self) -> str | None:
        """Post-mortem for a runtime action failure: re-execute node
        prefixes until one fails — names the faulting node the way the
        reference's PropagatedException names the faulting block
        [R: Gridsum.DataflowEx/Exceptions.cs]. Error path only (costs
        a partial re-run); returns None when the failure does not
        reproduce node-locally."""
        try:
            df = self._source() if callable(self._source) else self._source
            for _ in self._run_prefixes(df):
                pass
        except PipelineError as e:
            return e.node
        except Exception:
            pass
        return None

    def _action_error(self, e: Exception) -> "PipelineError":
        node = self._locate_failing_node()
        return PipelineError(node or self.name, e)

    def run(self) -> list:
        """Execute and return rows (small results / tests only)."""
        try:
            return self.df().collect()
        except PipelineError:
            raise
        except Exception as e:
            raise self._action_error(e) from e

    def count(self) -> int:
        try:
            return self.df().count()
        except PipelineError:
            raise
        except Exception as e:
            raise self._action_error(e) from e

    def sink(
        self,
        path: str,
        fmt: str = "parquet",
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        **options: str,
    ) -> None:
        """Terminal bulk sink (A10/A15): parquet/csv/json/jdbc writer.

        Batching is partition-granular (each task writes its partition
        as row-grouped parquet) — the scale analog of DbBulkInserter's
        ``bulkSize`` batches [R: Gridsum.DataflowEx/Databases/DbBulkInserter.cs].
        """
        try:
            w = self.df().write.format(fmt).mode(mode).options(**options)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.save(path)
        except Exception as e:
            node = self._locate_failing_node()
            raise PipelineError(node or f"{self.name}.sink", e) from e

    def then(self, other: Callable[[DataFrame], DataFrame], name: str | None = None) -> "Pipeline":
        """Fluent chaining (A16 GoTo)."""
        return self._add("Then", other, name)


def ring_iterate(
    frontier: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iters: int = 100,
    accumulate: bool = True,
) -> DataFrame:
    """Cyclic-flow completion (A18 RegisterChildRing / RingMonitor).

    Spark plans are acyclic, so a reference ring (crawler feeding
    itself) becomes driver-side iteration: apply ``step`` until the
    frontier is empty. Quiescence detection — the reference needs a
    heartbeat monitor [R: Gridsum.DataflowEx/AutoCompletion/ #
    HeartbeatNode] — is a trivial ``count() == 0`` here.
    ``localCheckpoint`` cuts lineage growth each round (bounded plans
    at any iteration count).
    """
    acc = frontier.localCheckpoint(eager=True) if accumulate else None
    cur = frontier
    for _ in range(max_iters):
        cur = step(cur).localCheckpoint(eager=True)
        if cur.isEmpty():
            break
        if accumulate:
            acc = acc.unionByName(cur).localCheckpoint(eager=True)
    return acc if accumulate else cur
