"""Streaming operator implementations.

All window aggregations are written against a generic event DataFrame
(ts/user/event_type columns) and work identically on a batch frame —
tests assert stream output == batch output on the same data (the
batch expression IS the oracle).

Every drain goes through :func:`run_to_memory` or
:func:`run_foreach_batch`, which share one rule (``_drain``):

- the trigger is availableNow: process everything, then stop;
- a checkpoint is kept only where the caller named one; otherwise
  Spark uses its own temporary checkpoint and deletes it when the
  query succeeds;
- the state-partition scope (``_bounded_state_scope``) applies to
  memory drains only; foreachBatch handlers plan batch jobs;
- the wait has no timeout, and a failed query raises
  ``StreamingQueryException``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dataflowex_spark.catalog import _normalize_events
from dataflowex_spark.session import scratch_dir, scratch_root


@contextmanager
def _bounded_state_scope(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` down for a stateful
    drain (AQE does not apply to streaming, so this conf IS the state
    store count, locked into the checkpoint at the first batch).

    A state store is a long-lived per-partition database whose count
    should track STATE VOLUME — the same sizing rule as output files
    (one per ~128 MB, never one per core): every store pays an open +
    commit per micro-batch, so N stores over kilobytes of state is
    the small-files problem in state form, multiplied by batch count.
    Measured here: an 8-batch windowed replay at 32 stores spends
    ~2/3 of its wall on store commits (14.7 s → 5.7 s at 8, identical
    rows, any core count — the 8-core driver run pays the same 32).

    Default ``min(8, defaultParallelism)`` covers the bounded-state
    replay harness; a big-state production stream sets
    ``SPARK_GRAFT_STREAM_STATE_PARTS`` (its keys dwarf any constant;
    state-partition count is a per-deployment capacity decision
    exactly like ``shuffle.partitions`` itself). ``-1`` opts out
    entirely (keep the session value); any other non-integer value
    raises a ``ValueError`` that names the variable. Only memory
    drains run inside the scope; foreachBatch drains plan batch jobs
    and keep the session value.

    The conf change is SESSION-GLOBAL for the whole drain: any other
    query planned on the same session meanwhile (another thread)
    sees the scoped partition count too."""
    raw = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS", "").strip()
    if raw == "-1":
        yield
        return
    if raw:
        try:
            n = max(1, int(raw))
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_STREAM_STATE_PARTS={raw!r} is not an "
                "integer (a state-store partition count, or -1)"
            ) from None
    else:
        n = min(8, spark.sparkContext.defaultParallelism)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain(writer, checkpoint_dir: str | None):
    """Start ``writer`` with availableNow and wait for it to finish;
    returns the finished query. The one drain rule of this module (see
    the module docstring)."""
    writer = writer.trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    query.awaitTermination()
    return query


class _LatestPointer:
    """The ``_LATEST`` commit pointer of a versioned state directory:
    it names the committed version subdirectory, and :meth:`commit`
    swaps it with an atomic ``os.replace`` once that version is fully
    written, so readers never see a half-written version."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")
        self.path = os.path.join(self.root, "_LATEST")

    def name(self) -> str | None:
        try:
            with open(self.path) as f:
                return f.read().strip() or None
        except OSError:
            return None

    def committed(self) -> tuple[int, str | None]:
        """(batch id, name) of a ``<prefix>_v<batch id>`` version;
        (-1, None) before the first commit."""
        name = self.name()
        try:
            return int(name.rsplit("_v", 1)[1]), name
        except (AttributeError, ValueError, IndexError):
            return -1, None

    def commit(self, name: str) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            f.write(name)
        os.replace(tmp, self.path)


def _publish_batch_dirs(
    stream: DataFrame,
    transform,
    path: str | None,
    prefix: str,
    checkpoint_dir: str | None,
) -> DataFrame:
    """Drain ``stream`` through ``transform(batch_df, batch_id)`` and
    return everything it published.

    Publish is IDEMPOTENT under foreachBatch's at-least-once replay:
    each micro-batch overwrites its own ``batch-<id>`` subdirectory of
    the output (the batch id is stable across recovery, so a replay
    rewrites the same directory instead of appending a second copy).
    A ``batch-init`` directory holding zero rows of the output schema
    is written before the stream starts, so the final recursive read
    succeeds, with the right schema, even when the stream drains zero
    batches or every batch produces no output."""
    spark = stream.sparkSession
    out = (path or (scratch_dir(spark, prefix) + "/out")).rstrip("/")
    anchor = transform(spark.createDataFrame([], stream.schema), -1)
    anchor.limit(0).write.mode("overwrite").parquet(out + "/batch-init")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        transform(batch_df, batch_id).write.mode("overwrite").parquet(
            f"{out}/batch-{batch_id:012d}"
        )

    run_foreach_batch(stream, handle, checkpoint_dir)
    return spark.read.option("recursiveFileLookup", "true").parquet(out)


def file_replay_stream(
    spark: SparkSession,
    parquet_path: str,
    max_files_per_trigger: int = 1,
    n_chunks: int = 8,
) -> DataFrame:
    """Replay a parquet table as a file stream — the test harness for
    watermark/late-data behavior.

    The file source needs a *directory*, and a single file would be a
    single micro-batch — so the table is staged under the session's
    scratch root as ``n_chunks`` files, consumed one per trigger
    (``maxFilesPerTrigger`` is the back-pressure knob, A20
    BoundedCapacity analog).
    """
    from dataflowex_spark.plans.result_cache import plan_fingerprint

    batch = spark.read.parquet(parquet_path)
    # key the staging dir by the source's content identity (every input
    # file's path, size and mtime), so a rewritten file — even inside a
    # directory whose own mtime does not move — re-stages instead of
    # silently replaying stale rows
    tag = plan_fingerprint(batch)[:10]
    stage_dir = os.path.join(
        scratch_root(spark), f"dataflowex_replay_{tag}_{n_chunks}"
    )
    if not os.path.isdir(stage_dir) or not any(
        f.endswith(".parquet") for f in os.listdir(stage_dir)
    ):
        batch.repartition(n_chunks).write.mode("overwrite").parquet(stage_dir)
    raw = (
        spark.readStream.schema(spark.read.parquet(stage_dir).schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(stage_dir)
    )
    if "ts" in raw.columns and isinstance(raw.schema["ts"].dataType, T.LongType):
        raw = _normalize_events(raw)
    return raw


def _with_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    if watermark and df.isStreaming:
        # watermark needs TimestampType (not NTZ) — cast is wall-clock
        # preserving under the engine's UTC session timezone
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    return df


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_len: str = "1 hour",
    watermark: str | None = "2 hours",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Tumbling event-time window counts; late rows beyond the
    watermark are dropped (streaming) / included (batch)."""
    df = _with_watermark(events, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window_len), *extra_keys)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            *extra_keys,
            "n",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_len: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    df = _with_watermark(events, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window_len, slide))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Native session windows (Spark ≥3.2): state closes once the
    watermark passes the gap — bounded state at any stream length."""
    df = _with_watermark(events, ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap), F.col(user_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            user_col,
            "n",
        )
    )


def dedup_stream(
    events: DataFrame,
    id_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful dedup on ``id_cols`` with BOUNDED state: on a stream,
    ``dropDuplicatesWithinWatermark`` keeps a key's dedup state only
    until the watermark passes it, so state size tracks the lateness
    bound instead of the whole stream history (a plain
    ``dropDuplicates`` on a stream keeps every id forever: fine for a
    replay, an OOM on an unbounded production stream).

    Contract vs exact dedup: a duplicate arriving MORE than
    ``watermark`` after its twin (already possible only for data later
    than the watermark allows) can be re-emitted; events within the
    bound dedup exactly. On a batch frame this is exact
    ``dropDuplicates``, the oracle the stream is tested against."""
    df = _with_watermark(events, ts_col, watermark)
    if df.isStreaming:
        return df.dropDuplicatesWithinWatermark(list(id_cols))
    return df.dropDuplicates(list(id_cols))


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance: str = "1 hour",
    watermark: str | None = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join, stream-stream capable: pair each left
    row with same-key right rows whose timestamp falls in
    ``(left_ts, left_ts + tolerance]`` — the attribution/correlation
    join (click→purchase, request→response).

    On streams, BOTH sides carry watermarks and the range predicate
    bounds how long either side is buffered: Spark evicts join state
    once the watermark passes ``tolerance``, so state is bounded at
    any stream length (the unbounded-state stream-stream join is the
    classic production OOM). On batch frames the identical join
    expression runs — the batch result IS the oracle the streaming
    tests compare against.

    Requires disjoint non-key column names between the two inputs
    (rename upstream); the right-side key column is dropped from the
    output. ``how`` passes through — Spark supports stream-stream
    outer joins under the same watermark regime.
    """
    l = _with_watermark(left, left_ts, watermark).alias("__l")
    r = _with_watermark(right, right_ts, watermark).alias("__r")
    cond = (
        (F.col(f"__l.{key}") == F.col(f"__r.{key}"))
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {tolerance}"))
    )
    return l.join(r, cond, how).drop(F.col(f"__r.{key}"))


def asof_join_stream(
    left_stream: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tie_break: str | None = None,
    suffix: str = "_r",
    path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming as-of enrichment: each micro-batch of the left stream
    joins the static/history ``right`` side through the
    union-interleave :func:`~dataflowex_spark.operators.joins.asof_join`
    inside ``foreachBatch``. Drains with availableNow and returns the
    enriched result frame, published batch by batch under ``path``
    (idempotent under replay: see ``_publish_batch_dirs``).

    Stream == batch exactly: an as-of match is a per-left-row property
    of the FULL right side, so partitioning the left into micro-batches
    cannot change any row's match — the union of per-batch results is
    the batch ``asof_join`` of the whole left. (A stream-stream as-of —
    both sides unbounded — is not expressible with bounded state
    without a lateness bound; :func:`asof_join_stream_stream` packages
    exactly that bounded shape.)
    """
    from dataflowex_spark.operators.joins import asof_join

    def enrich(batch_df: DataFrame, _batch_id: int) -> DataFrame:
        return asof_join(
            batch_df,
            right,
            on=on,
            left_ts=left_ts,
            right_ts=right_ts,
            direction=direction,
            suffix=suffix,
            tie_break=tie_break,
        )

    return _publish_batch_dirs(
        left_stream, enrich, path, "asof_stream_", checkpoint_dir
    )


def asof_join_stream_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lateness: str = "6 hours",
    watermark: str = "1 hour",
    emit_window: str = "1 day",
    tie_break: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM as-of join with an explicit lateness bound: each
    left row is matched to the single latest same-key right row with
    ``right_ts`` in ``(left_ts − lateness, left_ts]``. The lateness
    bound is what makes the unbounded-state problem expressible: an
    unbounded as-of ("latest right EVER before this left") would need
    every key's entire right history in state forever; bounding the
    look-back lets Spark evict join state as watermarks advance, so
    state is O(lateness·rate), not O(stream length).

    Composition (one declarative plan, two chained stateful
    operators — Spark ≥ 3.4 supports the join→agg chain with
    watermark propagation):

    1. watermarked stream-stream INTERVAL join on ``key`` with the
       backward range predicate — produces all candidates, state
       bounded by ``lateness`` + ``watermark``;
    2. per-left argmax: groupBy (event-time window on ``left_ts``,
       all left columns) taking ``max_by(right payload, right_ts)``.
       The argmax is keyed by the FULL left row, so carry a unique id
       column if exact-duplicate left rows must not collapse; emission
       waits for the window + join watermark to close, which is the
       price of a correct streaming argmax — a later candidate may
       still arrive until then.

    Ties on equal ``right_ts`` break deterministically by
    ``tie_break`` (largest wins), matching ``operators.joins.asof_join``.
    ``how="left_outer"`` keeps unmatched left rows with a null right
    payload (Spark emits the null-padded row only once eviction proves
    no match can arrive, so the argmax never sees both a null-pad and
    a real candidate).

    Batch == stream: on batch frames the identical expression runs
    (the window group key is just a derived column), which is the
    oracle the tests and the q290 entry compare against.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"asof_join_stream_stream: unsupported how={how!r}")
    # the post-join projection uses bare column names, so apart from
    # the equi-key the two schemas must not collide (e.g. both streams
    # naming their timestamp 'ts' would be an ambiguous reference) —
    # fail here with an actionable message instead of an
    # AnalysisException from deep inside the plan
    overlap = sorted((set(left.columns) & set(right.columns)) - {key})
    if overlap:
        raise ValueError(
            "asof_join_stream_stream: left/right column names must be "
            f"disjoint apart from the key; rename {overlap} on one side"
        )
    l = _with_watermark(left, left_ts, watermark).alias("__l")
    r = _with_watermark(right, right_ts, watermark).alias("__r")
    lts, rts = F.col(f"__l.{left_ts}"), F.col(f"__r.{right_ts}")
    cond = (
        (F.col(f"__l.{key}") == F.col(f"__r.{key}"))
        & (rts <= lts)
        & (rts > lts - F.expr(f"INTERVAL {lateness}"))
    )
    joined = l.join(r, cond, how).drop(F.col(f"__r.{key}"))

    left_cols = list(left.columns)
    right_cols = [c for c in right.columns if c != key]
    ord_key = (
        F.struct(F.col(right_ts), F.col(tie_break))
        if tie_break is not None
        else F.col(right_ts)
    )
    # The event-time window is computed from the WATERMARKED left_ts
    # (that's what lets the streaming agg finalize); the group-key copy
    # of left_ts is projected through a +0s arithmetic alias, which
    # drops the event-time metadata — otherwise the aggregate sees TWO
    # event-time columns (window + left_ts) and Spark rejects the plan.
    strip = (F.col(left_ts) + F.expr("INTERVAL 0 SECONDS")).alias(left_ts)
    picked = joined.select(
        F.window(F.col(left_ts), emit_window).alias("__w"),
        *[strip if c == left_ts else F.col(c) for c in left_cols],
        *[F.col(c) for c in right_cols],
    ).groupBy(
        "__w", *left_cols
    ).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in right_cols]), ord_key
        ).alias("__m")
    )
    return picked.select(
        *left_cols,
        *[F.col(f"__m.{c}").alias(c) for c in right_cols],
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str | None = None,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, str]:
    """Drain a stream into an in-memory table with availableNow
    (process-everything-then-stop) and return (result_df, name).
    ``checkpoint_dir`` pins an explicit checkpoint — the handle the
    statestore reader needs (see :func:`run_with_state`)."""
    name = query_name or f"mem_{uuid.uuid4().hex[:8]}"
    spark = stream_df.sparkSession
    with _bounded_state_scope(spark):
        _drain(
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode),
            checkpoint_dir,
        )
    return spark.table(name), name


def run_foreach_batch(
    stream_df: DataFrame,
    handle,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
):
    """Drain a stream with availableNow, calling
    ``handle(batch_df, batch_id)`` once per micro-batch, and return the
    finished query. The handler plans ordinary batch jobs, so the
    state-partition scope of :func:`run_to_memory` does not apply.
    Without ``checkpoint_dir`` Spark's temporary checkpoint is used and
    deleted; a handler that raises fails the drain with
    ``StreamingQueryException``."""
    return _drain(
        stream_df.writeStream.foreachBatch(handle).outputMode(output_mode),
        checkpoint_dir,
    )


def upsert_sink(
    stream_df: DataFrame,
    path: str,
    key: str,
    checkpoint_dir: str | None = None,
) -> int:
    """Idempotent keyed streaming sink: each micro-batch lands through
    :func:`dataflowex_spark.sources.incremental_append` (anti-join on
    ``key`` against the existing table, probe pruned to the batch's
    key range), so replayed/overlapping batches — foreachBatch is
    at-least-once after recovery — cannot duplicate rows. Each batch
    publishes through the stage-then-rename commit of
    ``sources.atomic_append``: a crash before commit lands nothing, a
    torn commit heals on the replayed batch's anti-join. This is the
    streaming DbBulkInserter-with-merge analog
    [R: Gridsum.DataflowEx/Databases/DbBulkInserter.cs].

    Runs with availableNow (drain everything, then stop); returns the
    number of rows appended across all batches.
    """
    from dataflowex_spark.sources import incremental_append

    appended = {"n": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        appended["n"] += incremental_append(batch_df, path, key)

    run_foreach_batch(stream_df, handle, checkpoint_dir)
    return appended["n"]


def stateful_dispatch_counts(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
    timeout_conf: str = "NoTimeout",
) -> DataFrame:
    """Per-key stateful dispatcher (A8 DataDispatcher-with-state
    parity): an arbitrary per-key state machine via
    ``applyInPandasWithState`` — each dispatch key keeps a running
    (count, value-sum) across micro-batches, emitting the updated
    aggregate per batch.

    This is the escape hatch for dispatcher children whose logic is
    genuinely imperative; declarative children should stay as grouped
    aggregations (see Pipeline.dispatch). State is partitioned by key
    (executor-local, checkpointed) — unbounded keys scale out, not up.
    On a batch (non-streaming) frame, falls back to the equivalent
    groupBy aggregate so the operator is testable against an oracle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "key string, n long, total double"
    # state keeps the value-sum in integer cents — exact accumulation,
    # independent of batch/partition arrival order (same discipline as
    # the batch path's DECIMAL(18,2) sum)
    state_schema = "n long, total_cents long"

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf[value_col] * 100).round().sum())
        state.update((n, cents))
        yield pd.DataFrame([{"key": key[0], "n": n, "total": cents / 100.0}])

    if not events.isStreaming:
        # decimal-sum discipline: a raw DOUBLE sum is partition-order
        # dependent — sum exactly in DECIMAL(18,2), surface as double
        return events.groupBy(F.col(key_col).alias("key")).agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )

    df = _with_watermark(events, ts_col, watermark)
    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def enrich_with_dim(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Stream–static enrichment: join a (possibly streaming) frame to
    a STATIC dimension. Structured Streaming plans this as a per-
    micro-batch join against the batch side — no streaming state at
    all, which is why it is THE way to attach dimensions to a stream
    (the stateful stream-stream join is only for two moving sides).

    ``F.broadcast`` is applied to the dim side: at 100 TB/day of
    events the dimension still fits an executor, and broadcasting
    keeps every micro-batch shuffle-free. Works identically on batch
    frames, so batch == stream equality is testable query-for-query
    (the same expression powers the q201 oracle)."""
    return stream_df.join(F.broadcast(dim_df), on, how)


def incremental_agg_sink(
    stream_df: DataFrame,
    state_path: str,
    keys: list[str],
    spec: dict[str, list[str]],
    checkpoint: str | None = None,
):
    """Maintain a keyed aggregate table from a stream, EXACTLY-ONCE:
    each micro-batch folds its partial aggregate into the persisted
    state via :func:`etl.merge_aggregate` (history is never
    rescanned), and the commit protocol makes at-least-once
    foreachBatch replays harmless:

    - state versions land in ``state_v{batch_id}`` directories;
    - a ``_LATEST`` pointer file names the committed version and is
      swapped with an atomic ``os.replace`` AFTER the version is
      fully written;
    - batch ids are monotone, so a replayed batch (id ≤ committed id)
      is skipped, and a crash BEFORE the pointer swap replays into a
      full overwrite of the same version directory.

    Drains with availableNow and returns (query, handler): the query
    has already finished, and the handler is exposed so tests can
    drive replay scenarios directly. Read the table back with
    :func:`read_agg_state`.

    Scale shape: per trigger, one map-side-combined partial over the
    batch + one keyed merge over (state ∪ partial) — cost tracks the
    batch and the key cardinality, never the stream's history."""
    from dataflowex_spark.operators.etl import (
        merge_aggregate,
        partial_aggregate,
    )

    pointer = _LatestPointer(state_path)
    root = pointer.root
    os.makedirs(root, exist_ok=True)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        last_id, last_name = pointer.committed()
        if batch_id <= last_id:
            return  # at-least-once replay of an already-folded batch
        spark = batch_df.sparkSession
        state = (
            spark.read.parquet(os.path.join(root, last_name))
            if last_name is not None
            else None
        )
        part = partial_aggregate(batch_df, keys, spec)
        new_state = merge_aggregate(state, part, keys, spec)
        vname = f"state_v{batch_id}"
        new_state.write.mode("overwrite").parquet(os.path.join(root, vname))
        pointer.commit(vname)

    query = run_foreach_batch(stream_df, handle, checkpoint or None, "update")
    return query, handle


def read_agg_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Read the committed aggregate state written by
    :func:`incremental_agg_sink` (None before the first commit)."""
    pointer = _LatestPointer(state_path)
    name = pointer.name()
    if name is None:
        return None
    return spark.read.parquet(os.path.join(pointer.root, name))


def enrich_with_dim_parking(
    stream_df: DataFrame,
    dim_path: str,
    on: str,
    out_path: str,
    park_path: str,
    checkpoint: str | None = None,
):
    """Stream enrichment with LATE-ARRIVING DIMENSIONS — the parking-
    lot pattern: each micro-batch joins against the CURRENT dimension
    snapshot (re-read per trigger, so dim rows that arrive mid-stream
    are picked up); matched events publish to ``out_path``, unmatched
    events PARK, and every batch retries the parked rows against the
    fresh dimension before processing its own. An event is published
    exactly once — when its dimension row finally exists — instead of
    being dropped (inner join) or emitted half-empty (left join).

    Commit protocol mirrors :func:`incremental_agg_sink`: the parked
    set is versioned per batch id with an atomic ``_LATEST`` pointer,
    and output batches write to batch-id-keyed subdirectories with
    overwrite — both sides idempotent under at-least-once replays.

    Scale shape: per trigger cost is (batch + parked) ⋈ dim — the
    parked set stays bounded by genuinely-late keys, and the dim side
    broadcasts. Drains with availableNow and returns (query, handler);
    the query has already finished."""
    pointer = _LatestPointer(park_path)
    root = pointer.root
    os.makedirs(root, exist_ok=True)
    os.makedirs(out_path, exist_ok=True)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        last_id, last_name = pointer.committed()
        if batch_id <= last_id:
            return
        spark = batch_df.sparkSession
        try:
            dim = spark.read.parquet(dim_path)
        except Exception:
            dim = None  # dimension table not born yet: park everything
        pending = batch_df
        if last_name is not None:
            parked = spark.read.parquet(os.path.join(root, last_name))
            pending = parked.unionByName(batch_df)
        if dim is not None:
            matched = pending.join(F.broadcast(dim), on)
            unmatched = pending.join(F.broadcast(dim), on, "left_anti")
        else:
            matched, unmatched = None, pending
        if matched is not None:
            matched.write.mode("overwrite").parquet(
                os.path.join(out_path, f"batch_{batch_id}")
            )
        vname = f"park_v{batch_id}"
        unmatched.write.mode("overwrite").parquet(os.path.join(root, vname))
        pointer.commit(vname)

    query = run_foreach_batch(stream_df, handle, checkpoint or None, "update")
    return query, handle


def drift_monitor_stream(
    stream_df: DataFrame,
    reference: DataFrame,
    value,
    n_bins: int = 10,
    path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming drift monitor: per micro-batch, the Population
    Stability Index of ``value`` against a STATIC reference
    distribution — the "did the serving population move off the
    training population" alarm, evaluated continuously instead of in
    a nightly batch.

    Each micro-batch computes
    :func:`~dataflowex_spark.operators.mleval.population_stability_index`
    (reference edges are re-derived from the static side inside the
    batch plan — at scale, pre-compute and broadcast them once) and
    publishes one ``(batch_id, psi, n_ref, n_cur)`` row, idempotently
    under replay (``_publish_batch_dirs``, as :func:`asof_join_stream`).

    Stream vs batch: PSI is NOT batch-decomposable (each micro-batch
    is scored alone, by design — that IS the monitoring semantics),
    so the contract here is per-batch equivalence: each emitted row
    equals the batch PSI of that chunk, which the test asserts.
    """
    from dataflowex_spark.operators.mleval import (
        population_stability_index,
    )

    def score(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return population_stability_index(
            reference, batch_df, value=value, n_bins=n_bins
        ).withColumn("batch_id", F.lit(batch_id))

    return _publish_batch_dirs(
        stream_df, score, path, "drift_stream_", checkpoint_dir
    )


def mtable_merge_stream(
    change_stream: DataFrame,
    table,
    ts_col: str,
    op_col: str,
    tie_col: str,
    value_cols: list[str],
    app_id: str = "stream",
    checkpoint_dir: str | None = None,
) -> int:
    """Stream CDC changes into an :class:`~dataflowex_spark.sources.
    mtable.MTable`: each micro-batch runs one copy-on-write
    ``table.merge`` and commits one table version — the streaming
    MERGE INTO. Drains with availableNow; returns the final version.

    EXACTLY-ONCE under foreachBatch's at-least-once replay: the merge
    commit records ``(app_id, batch_id)`` in the manifest, and a
    replayed batch whose id is ≤ the recorded high-water mark is
    SKIPPED — the Delta-style transactional-version idiom, here a
    two-line check against the manifest the commit already swaps
    atomically. (Without the guard a replayed batch would still
    converge to the same table state — cdc_merge is latest-wins
    idempotent — but would burn an extra version; with it, replays
    are no-ops.)

    Cross-batch ordering: WITHIN a batch cdc_merge picks the latest
    change per key by (ts, tie); ACROSS batches, later batches win
    unconditionally (each merge upserts over the previous table
    state) — standard streaming MERGE semantics. Feed a ts-ordered
    change stream (what CDC sources emit) for strict global
    latest-wins.

    Scale shape: per batch, pruning reads only the manifest stats and
    one distinct-keys pass over the BATCH (small); the rewrite
    touches only range-affected files — a trickle of CDC against a
    100 TB table rewrites a handful of files per batch.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= table.last_stream_batch(app_id):
            return  # replayed batch: already committed
        table.merge(
            batch_df,
            ts_col,
            op_col,
            tie_col,
            value_cols,
            stream_batch=(app_id, batch_id),
        )

    run_foreach_batch(change_stream, handle, checkpoint_dir)
    return table.current_version()


def stream_hll_maintenance(
    spark,
    parquet_path: str,
    group_col: str,
    key_col: str,
    state_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the PORTABLE HLL sketch
    (operators/sketches.py): each micro-batch builds its own
    register table and ``foreachBatch`` folds it into the persisted
    state by register-wise MAX — constant state per group, no
    history rescan, and (because MAX is idempotent) an at-least-once
    replay of a batch cannot corrupt the registers. Determinism is
    the point: after the stream drains, the maintained registers are
    BIT-IDENTICAL to a single batch build over the same rows (the
    stream==batch pytest pins it) — a property engine-private
    sketches can't offer across engines.

    Returns the final register DataFrame (group_col, j, m_j)."""
    from dataflowex_spark.operators.sketches import hll_registers

    state = state_dir or scratch_dir(spark, "hll_state_")
    pointer = _LatestPointer(state)

    stream = file_replay_stream(spark, parquet_path, n_chunks=4)

    # versioned write + atomic pointer swap (the incremental_agg_sink
    # commit idiom in this module): ONE parquet write per batch where
    # the old write-tmp / read-back / rewrite cycle paid two writes
    # and an extra full-state read. The state stays readable mid-fold
    # (readers follow the pointer), and an at-least-once replay still
    # converges — register MAX is idempotent.
    # Superseded versions go once the pointer has moved past them,
    # keeping the previous one for readers still on it; a state dir
    # from before the pointer existed seeds the first fold from its
    # unversioned ``registers``.
    def fold(batch_df, batch_id):
        regs = hll_registers(batch_df, [group_col], key_col)
        last = pointer.name()
        src = last
        if src is None and os.path.isdir(os.path.join(state, "registers")):
            src = "registers"
        if src is not None:
            prev = batch_df.sparkSession.read.parquet(
                os.path.join(state, src)
            )
            regs = (
                prev.unionByName(regs)
                .groupBy(group_col, "j")
                .agg(F.max("m_j").cast("long").alias("m_j"))
            )
        vname = f"registers_v{batch_id}"
        regs.write.mode("overwrite").parquet(os.path.join(state, vname))
        pointer.commit(vname)
        for d in os.listdir(state):
            if re.fullmatch(r"registers_v\d+", d) and d not in (vname, last):
                shutil.rmtree(os.path.join(state, d), ignore_errors=True)

    run_foreach_batch(stream, fold, output_mode="update")
    final = pointer.name()
    return spark.read.parquet(
        os.path.join(state, final if final else "registers")
    )


def run_with_state(
    stream_df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> str:
    """Drain a stateful stream against an EXPLICIT checkpoint and
    return that checkpoint path — the handle the Spark 4
    ``statestore`` batch reader needs for OPERATIONAL introspection:
    what is the stream holding in state right now? (Thin wrapper:
    the drain itself is :func:`run_to_memory`; the caller reads the
    CHECKPOINT, not the sink table.)"""
    out, name = run_to_memory(
        stream_df, output_mode=output_mode, checkpoint_dir=checkpoint_dir
    )
    # the sink table is a by-product here — drop it rather than leak
    # one catalog entry per introspection run
    out.sparkSession.catalog.dropTempView(name)
    return checkpoint_dir


def read_state(
    spark: SparkSession, checkpoint_dir: str, flatten: bool = True
) -> DataFrame:
    """Read a streaming query's STATE STORE as a batch DataFrame
    (Spark 4 ``spark.read.format("statestore")``) — the debugging /
    auditing surface for stateful pipelines: key-skew analysis,
    state-size accounting, "why is this session still open", all
    WITHOUT touching the running query (the reader scans the
    checkpoint's committed snapshot + delta files; at 1000 executors
    each state partition reads independently). ``flatten`` splays the
    ``key``/``value`` structs into top-level columns and drops the
    physical ``partition_id``."""
    df = spark.read.format("statestore").load(checkpoint_dir)
    if not flatten:
        return df
    return df.select("key.*", "value.*")


def state_metadata(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The checkpoint's operator/state-store metadata (Spark 4
    ``state-metadata`` source): operator names, store names,
    partition counts, min/max committed batch — the fleet-wide
    monitoring complement to :func:`read_state`."""
    return spark.read.format("state-metadata").load(checkpoint_dir)


def ordered_event_replay(
    spark: SparkSession,
    df: DataFrame,
    ts_col: str,
    n_chunks: int,
    stage_dir: str,
    sentinel_rows: DataFrame | None = None,
) -> DataFrame:
    """Stage a batch frame as an EVENT-TIME-ORDERED file stream:
    rows sort by ``ts_col`` and split into ``n_chunks`` contiguous
    time slices, one parquet file each, with ascending mtimes so the
    file source (maxFilesPerTrigger=1) replays them in event-time
    order — the staging that makes WATERMARK-DRIVEN semantics
    (late-row eviction, unmatched-row emission in outer joins)
    deterministic. Unordered staging (``file_replay_stream``) is the
    right harness for late-data behavior; this one is for queries
    whose OUTPUT depends on the watermark actually advancing past
    the data. ``sentinel_rows`` (e.g. two far-future heartbeats) are
    appended as the final files, one row each: the first advances the
    watermark past all real data, the next triggers the eviction
    batch that emits the tail — the flush idiom Spark's availableNow
    needs.

    Each frame is one ``toArrow()`` collect (one Spark job), sorted
    (nulls first, as Spark's ``orderBy``), sliced and written on the
    driver: staging a replay harness is not a distributed workload.
    Arrow keeps Spark's types — a nullable ``long`` stays INT64 and a
    timestamp a UTC instant on any session time zone."""
    import time as _time

    import pyarrow.parquet as pq

    os.makedirs(stage_dir, exist_ok=True)
    schema = df.schema
    table = df.toArrow().sort_by(
        [(ts_col, "ascending")], null_placement="at_start"
    )
    per = -(-max(1, table.num_rows) // n_chunks)
    chunks = [table.slice(i * per, per) for i in range(n_chunks)]
    if sentinel_rows is not None:
        sent = sentinel_rows.select(*schema.names).toArrow()
        sent = sent.cast(table.schema)
        chunks += [sent.slice(j, 1) for j in range(sent.num_rows)]
    t0 = _time.time() - 3600
    for i, ch in enumerate(chunks):
        if ch.num_rows == 0:
            continue
        p = os.path.join(stage_dir, f"chunk_{i:04d}.parquet")
        pq.write_table(ch, p)
        os.utime(p, (t0 + i, t0 + i))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )


def full_outer_interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance: str = "10 minutes",
    lateness: str = "30 minutes",
) -> DataFrame:
    """NATIVE stream-stream FULL OUTER interval join: every (l, r)
    pair with equal ``key`` and ``|left_ts − right_ts| ≤ tolerance``
    emits immediately; a row with NO partner emits null-padded once
    the watermark passes its eviction bound — the state-store
    behavior batch full-outer never exercises. Column names must be
    disjoint apart from ``key`` (the q290 lesson: qualify, then
    validate). Both sides get event-time watermarks of ``lateness``
    (must be ≥ tolerance for the engine to bound state)."""
    shared = (set(left.columns) & set(right.columns)) - {key}
    if shared:
        raise ValueError(
            f"full_outer_interval_join_stream: columns {sorted(shared)} "
            "appear on both sides; rename before joining"
        )
    l = left.withWatermark(left_ts, lateness).alias("__l")
    r = right.withWatermark(right_ts, lateness).alias("__r")
    lts, rts = F.col(f"__l.{left_ts}"), F.col(f"__r.{right_ts}")
    cond = (
        (F.col(f"__l.{key}") == F.col(f"__r.{key}"))
        & (rts >= lts - F.expr(f"interval {tolerance}"))
        & (rts <= lts + F.expr(f"interval {tolerance}"))
    )
    return l.join(r, cond, "full_outer")


def chained_window_counts(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    inner: str = "15 minutes",
    outer: str = "1 hour",
    watermark: str = "1 minute",
) -> DataFrame:
    """TWO CHAINED stateful aggregations in ONE streaming query — the
    Spark 3.4+/4 multiple-stateful-operator surface: a fine-grain
    tumbling count (state store #1) feeds a coarse-grain
    re-aggregation over its WINDOW COLUMN (state store #2,
    window-of-window), so the stream emits the pre-aggregation
    cascade (minute → hour rollup, q127's continuous-aggregate shape)
    without an intermediate sink or a second query. Before 3.4 this
    required two queries stitched through storage; the engine now
    propagates the watermark operator-by-operator (each downstream
    stateful op closes on the PREVIOUS batch's watermark), which is
    why draining needs the ordered-replay + sentinel-flush staging
    (q363's idiom) — each chained level needs one more
    watermark-advancing batch to evict.

    Append mode only (the supported mode for chained stateful ops).
    Output: (hour_start, key, sum_n, max_n, n_buckets) — sum/max/
    count over the inner buckets, so the result also audits the
    cascade (sum_n must equal the flat count)."""
    inner_agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, inner), F.col(key_col))
        .agg(F.count("*").alias("n"))
    )
    return (
        inner_agg.groupBy(F.window(F.col("window"), outer), F.col(key_col))
        .agg(
            F.sum("n").alias("sum_n"),
            F.max("n").alias("max_n"),
            F.count("*").alias("n_buckets"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            F.col(key_col),
            "sum_n",
            "max_n",
            "n_buckets",
        )
    )


def enrich_with_scd2(
    stream: DataFrame,
    history: DataFrame,
    key: str,
    ts_col: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    suffix: str = "_dim",
    path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """EVENT-TIME-CORRECT streaming enrichment against an SCD2
    dimension: each micro-batch point-in-time joins the versioned
    history (:func:`~dataflowex_spark.operators.etl.pit_join` — the
    as-of + validity-bound + gap semantics of q157), so a late event
    picks up the dimension row that was valid AT ITS EVENT TIME, not
    whatever version is current when it happens to arrive — the
    correctness gap in the naive :func:`enrich_with_dim` (current-
    version join) that silently misattributes every late or replayed
    event after a dimension change.

    Same idempotent batch-dir publish as :func:`asof_join_stream`
    (``_publish_batch_dirs``). Stream == batch exactly: a PIT match is
    a per-event property of the full history, so micro-batch
    boundaries cannot change any row's match."""
    from dataflowex_spark.operators.etl import pit_join

    def enrich(batch_df: DataFrame, _batch_id: int) -> DataFrame:
        return pit_join(
            batch_df, history, key, ts_col,
            from_col=from_col, to_col=to_col, suffix=suffix,
        )

    return _publish_batch_dirs(
        stream, enrich, path, "scd2_stream_", checkpoint_dir
    )
