"""Streaming tests: replay events.parquet as a file stream and assert
stream output equals the batch-computed expectation (SURVEY §5.3).

Append-mode aggregations only emit windows the watermark has closed,
so equality tests run in complete mode (every window, open or closed);
append mode is exercised where its semantics ARE the test (late-data
drop, stateful dedup).
"""

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from dataflowex_spark.catalog import Catalog
from tests.conftest import SF_SMALL
from dataflowex_spark.streaming.ops import (
    dedup_stream,
    file_replay_stream,
    run_to_memory,
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return Catalog(spark, sf_dir)["events"]


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=4)


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_tumbling_stream_equals_batch(events_batch, events_stream):
    batch = tumbling_counts(events_batch, watermark=None)
    stream = tumbling_counts(events_stream, watermark=None)
    out, _ = run_to_memory(stream, output_mode="complete")
    got = _sorted_rows(
        out.withColumn("window_start", F.col("window_start").cast("timestamp_ntz")),
        ["window_start", "n"],
    )
    want = _sorted_rows(
        batch.withColumn("window_start", F.col("window_start").cast("timestamp_ntz")),
        ["window_start", "n"],
    )
    assert got == want


def test_sliding_stream_equals_batch(events_batch, events_stream):
    batch = sliding_counts(events_batch, watermark=None)
    stream = sliding_counts(events_stream, watermark=None)
    out, _ = run_to_memory(stream, output_mode="complete")
    assert sorted(r.n for r in out.collect()) == sorted(r.n for r in batch.collect())


def test_session_window_stream(events_batch, events_stream):
    stream = session_counts(events_stream, gap="30 minutes", watermark="60 days")
    out, _ = run_to_memory(stream, output_mode="complete")
    # every event lands in exactly one session
    assert sum(r.n for r in out.collect()) == events_batch.count()


def test_watermark_append_emits_only_closed_windows(events_batch, events_stream):
    """Append mode: emitted windows = closed (watermark-passed)
    windows ⊆ all batch windows; a tiny delay closes almost all."""
    batch_n = tumbling_counts(events_batch, watermark=None).count()
    strict = tumbling_counts(events_stream, watermark="1 minute")
    out, _ = run_to_memory(strict, output_mode="append")
    assert 0 < out.count() <= batch_n


def test_dedup_stream_matches_batch_distinct(events_batch, events_stream):
    # watermark beyond the data span: nothing is ever late, so the
    # streaming dedup must agree exactly with batch distinct
    stream = dedup_stream(events_stream, watermark="60 days")
    out, _ = run_to_memory(stream, output_mode="append")
    assert out.count() == events_batch.select("event_id").distinct().count()


def test_stateful_dispatch_stream_equals_batch(events_batch, events_stream):
    """applyInPandasWithState per-key state machine: after draining the
    whole stream in update mode, the LAST emitted row per key must
    equal the batch aggregate."""
    from dataflowex_spark.streaming.ops import stateful_dispatch_counts

    stream = stateful_dispatch_counts(events_stream, watermark="60 days")
    out, _ = run_to_memory(stream, output_mode="update")
    # update mode emits one row per key per micro-batch; final state =
    # max n per key (counts are monotone)
    final = (
        out.groupBy("key")
        .agg(F.max("n").alias("n"))
        .orderBy("key")
        .collect()
    )
    batch = (
        stateful_dispatch_counts(events_batch)
        .orderBy("key")
        .collect()
    )
    assert [(r.key, r.n) for r in final] == [(r.key, r.n) for r in batch]


def test_foreach_batch_parquet_sink(events_stream, tmp_path, spark):
    """Streaming bulk sink via foreachBatch (the DbBulkInserter
    streaming analog): every micro-batch appends to the same table."""
    path = str(tmp_path / "stream_sink")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(path)

    q = (
        events_stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    expected = Catalog(spark, SF_SMALL)["events"].count()
    assert spark.read.parquet(path).count() == expected


def test_pipeline_composes_on_streams(events_stream):
    """The Pipeline kernel is source-agnostic: the same named nodes
    compose over a streaming DataFrame (reference parity — DataflowEx
    flows are inherently streaming)."""
    from dataflowex_spark.pipeline import Pipeline

    p = (
        Pipeline(events_stream, name="StreamFlow")
        .filter(F.col("event_type") == "purchase")
        .transform({"user_id": F.col("user_id"), "value": F.col("value")})
        .then(lambda d: d.groupBy("user_id").agg(F.count("*").alias("n")))
    )
    df = p.df()
    assert df.isStreaming
    out, _ = run_to_memory(df, output_mode="complete")
    assert out.count() > 0


def test_stream_stream_interval_join(spark, sf_dir):
    """interval_join_stream on two real streams equals the same
    operator on batch frames — exact pair set, not just counts. The
    watermark sits beyond the data span so nothing is late; join
    state is still bounded by watermark + interval condition."""
    from dataflowex_spark.streaming.ops import interval_join_stream

    def sides(src):
        clicks = src.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = src.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return clicks, purchases

    sc, _ = sides(file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=4))
    _, sp = sides(file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=4))
    stream = interval_join_stream(
        sc, sp, "user_id", "click_ts", "purchase_ts",
        tolerance="6 hours", watermark="60 days",
    )
    out, _ = run_to_memory(stream, output_mode="append")

    bc, bp = sides(Catalog(spark, sf_dir)["events"])
    want = interval_join_stream(
        bc, bp, "user_id", "click_ts", "purchase_ts", tolerance="6 hours"
    )
    cols = ["user_id", "click_id", "purchase_id"]
    assert _sorted_rows(out, cols) == _sorted_rows(want, cols)
    assert want.count() > 0


def test_stream_asof_join_equals_batch(spark, sf_dir, tmp_path):
    """asof_join_stream (union-interleave as-of per micro-batch in
    foreachBatch) on a real replayed stream returns EXACTLY the batch
    asof_join rows — the q25 shape: each purchase matched to its
    latest at-or-before click."""
    from dataflowex_spark.operators.joins import asof_join
    from dataflowex_spark.streaming.ops import asof_join_stream

    def sides(src):
        purchases = src.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = src.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
        return purchases, clicks

    batch_p, batch_c = sides(Catalog(spark, sf_dir)["events"])
    stream_p, _ = sides(
        file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=4)
    )

    got = asof_join_stream(
        stream_p, batch_c, on="user_id", left_ts="ts", right_ts="ts",
        tie_break="click_id", path=str(tmp_path / "asof_out"),
    )
    want = asof_join(
        batch_p, batch_c, on="user_id", left_ts="ts", right_ts="ts",
        tie_break="click_id",
    )
    cols = ["event_id", "user_id", "click_id_r"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert want.count() > 0


def test_stream_static_dim_join(spark, sf_dir):
    """Stream-static join: streaming events enriched against the
    static user dimension (broadcast per micro-batch) — the streaming
    form of the A12 lookup."""
    stream = file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=4)
    dim = (
        Catalog(spark, sf_dir)["events"]
        .select("user_id")
        .distinct()
        .withColumn("user_tag", F.concat(F.lit("u"), F.col("user_id")))
    )
    joined = stream.join(dim, "user_id", "left")
    out, _ = run_to_memory(joined, output_mode="append")
    total = Catalog(spark, sf_dir)["events"].count()
    assert out.count() == total
    assert out.filter(F.col("user_tag").isNull()).count() == 0


def test_interval_join_left_outer_semantics(spark, sf_dir):
    """Left-outer interval join: on batch, unmatched clicks surface
    with NULL purchase columns; on a stream whose watermark never
    passes (delay > data span), append mode can only emit MATCHED
    pairs — unmatched lefts stay buffered awaiting the watermark, so
    stream output == the inner join. Both facts asserted."""
    from dataflowex_spark.streaming.ops import interval_join_stream

    def sides(src):
        c = src.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        p = src.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return c, p

    bc, bp = sides(Catalog(spark, sf_dir)["events"])
    outer = interval_join_stream(
        bc, bp, "user_id", "click_ts", "purchase_ts",
        tolerance="6 hours", how="left_outer",
    )
    inner = interval_join_stream(
        bc, bp, "user_id", "click_ts", "purchase_ts", tolerance="6 hours"
    )
    n_clicks_unmatched = outer.filter(F.col("purchase_id").isNull()).count()
    assert outer.count() == inner.count() + n_clicks_unmatched
    assert n_clicks_unmatched > 0  # fixture has clicks with no purchase

    sc, _ = sides(file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=4))
    _, sp = sides(file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=4))
    stream = interval_join_stream(
        sc, sp, "user_id", "click_ts", "purchase_ts",
        tolerance="6 hours", watermark="60 days", how="left_outer",
    )
    out, _ = run_to_memory(stream, output_mode="append")
    cols = ["user_id", "click_id", "purchase_id"]
    assert _sorted_rows(out, cols) == _sorted_rows(inner, cols)


def test_asof_join_stream_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Regression (ADVICE r3): foreachBatch is at-least-once — a
    replayed batch must not double its rows in the output. The publish
    overwrites a per-batch_id directory, so re-draining the same
    stream into the same path converges to the batch answer."""
    from dataflowex_spark.operators.joins import asof_join
    from dataflowex_spark.streaming.ops import asof_join_stream

    src = Catalog(spark, sf_dir)["events"]
    purchases = src.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    out = str(tmp_path / "asof_out")
    for _ in range(2):  # second run = full replay into the same path
        got = asof_join_stream(
            file_replay_stream(
                spark, f"{sf_dir}/events.parquet", n_chunks=4
            )
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts"),
            clicks,
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            tie_break="click_id",
            path=out,
        )
    want = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        tie_break="click_id",
    )
    cols = ["event_id", "user_id", "click_id_r"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_asof_join_stream_empty_output_readable(spark, sf_dir, tmp_path):
    """Regression (ADVICE r3): a drained stream whose batches all
    produce zero rows must return an empty frame with the enriched
    schema, not PATH_NOT_FOUND."""
    from dataflowex_spark.streaming.ops import asof_join_stream

    src = Catalog(spark, sf_dir)["events"]
    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    empty_left = (
        file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=2)
        .filter(F.col("event_type") == "__never__")
        .select("event_id", "user_id", "ts")
    )
    got = asof_join_stream(
        empty_left, clicks, on="user_id", left_ts="ts", right_ts="ts",
        tie_break="click_id", path=str(tmp_path / "asof_empty"),
    )
    assert got.count() == 0
    assert "click_id_r" in got.columns


def test_kafka_source_config_surface(spark):
    """Kafka wiring (no broker/connector in this container): the
    options dict is the audited contract — back-pressure knob, offset
    reset, data-loss policy — and read_kafka_stream surfaces a clear
    error naming the connector package when the classpath lacks it."""
    from dataflowex_spark.sources import (
        kafka_source_options,
        read_kafka_stream,
    )

    opts = kafka_source_options(
        "broker1:9092,broker2:9092",
        ["clicks", "views"],
        starting_offsets="latest",
        max_offsets_per_trigger=100_000,
    )
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "clicks,views"
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["failOnDataLoss"] == "false"

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        read_kafka_stream(spark, "broker1:9092", "clicks")


def test_kafka_wire_projection_against_mock_source(spark, tmp_path):
    """Plug-compatibility proof without a broker: a MOCK wire source
    with the connector's exact schema (key/value binary, topic,
    partition, offset, timestamp) drives the REAL projection
    (kafka_wire_projection — the code read_kafka_stream runs), both
    as a static frame and as a real stream, and the output feeds a
    downstream windowed aggregation untouched. A cluster user swaps
    file-replay for Kafka by changing ONLY the source call."""
    from pyspark.sql import types as T

    from dataflowex_spark.sources import kafka_wire_projection

    wire_schema = T.StructType([
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
    ])
    import datetime as dt
    import json as js

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (
            f"u{i % 3}".encode(),
            js.dumps({"amount": i * 10, "kind": "click"}).encode(),
            "clicks",
            i % 2,
            i,
            base + dt.timedelta(seconds=30 * i),
        )
        for i in range(8)
    ]
    wire = spark.createDataFrame(rows, wire_schema)

    # static path: schema + JSON value decode
    got = kafka_wire_projection(
        wire, value_schema="amount long, kind string"
    )
    assert got.columns == ["key", "value", "topic", "partition",
                           "offset", "ts"]
    assert got.schema["value"].dataType.fieldNames() == ["amount", "kind"]
    assert got.filter("value.amount = 30").count() == 1

    # streaming path: the same projection over a real stream, into a
    # downstream windowed agg — source-agnostic by construction
    src_dir = str(tmp_path / "wire")
    wire.write.parquet(src_dir)
    stream = spark.readStream.schema(wire_schema).parquet(src_dir)
    agg = (
        kafka_wire_projection(stream, "amount long, kind string")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 minutes"), "key")
        .agg(F.sum("value.amount").alias("amt"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("kafka_mock_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT key, CAST(sum(amt) AS BIGINT) AS amt "
        "FROM kafka_mock_agg GROUP BY key ORDER BY key"
    ).collect()
    # total per key over all windows: u0 gets 0+30+60, u1 10+40+70, u2 20+50
    assert [(r["key"], r["amt"]) for r in out] == [
        ("u0", 90), ("u1", 120), ("u2", 70)
    ]


def test_dedup_stream_bounded_state(spark, sf_dir):
    """dropDuplicatesWithinWatermark-based dedup: replaying a stream
    with every event DUPLICATED yields exactly the batch-distinct
    event set (all duplicates here are within the lateness bound)."""
    batch = Catalog(spark, sf_dir)["events"].select(
        "event_id", "user_id", "ts"
    )
    stream = file_replay_stream(
        spark, f"{sf_dir}/events.parquet", n_chunks=2
    ).select("event_id", "user_id", "ts")
    doubled = stream.unionByName(stream)  # every event appears twice
    out, _ = run_to_memory(
        dedup_stream(doubled, ("event_id",), "ts", "365 days"),
        output_mode="append",
    )
    assert out.count() == batch.count()
    assert (
        out.select("event_id").distinct().count()
        == batch.select("event_id").distinct().count()
    )


def test_stream_static_enrich_equals_batch(spark, sf_dir, events_batch, events_stream):
    """Stream–static broadcast enrichment: the replayed stream joined
    to the customer dim and aggregated matches the identical batch
    expression row-for-row (q201's contract)."""
    from dataflowex_spark.streaming.ops import enrich_with_dim

    dim = Catalog(spark, sf_dir)["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    def rollup(df):
        return (
            enrich_with_dim(df, dim, on="user_id")
            .groupBy("event_type", "c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
                    "val_q"
                ),
            )
        )

    out, _ = run_to_memory(rollup(events_stream), output_mode="complete")
    cols = ["event_type", "c_mktsegment", "n", "val_q"]
    assert _sorted_rows(out, cols) == _sorted_rows(rollup(events_batch), cols)


def test_incremental_agg_sink_exactly_once(spark, sf_dir, tmp_path):
    """Streamed incremental aggregate == batch aggregate, and a
    replayed (stale) micro-batch is a no-op — the exactly-once
    contract of the _LATEST pointer protocol."""
    from dataflowex_spark.streaming.ops import (
        incremental_agg_sink,
        read_agg_state,
    )

    stream = file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=4)
    stream = stream.withColumn(
        "v", F.floor(F.col("value") * 1000).cast("long")
    )
    spec = {"v": ["sum", "count", "max"]}
    q, handle = incremental_agg_sink(
        stream,
        str(tmp_path / "state"),
        keys=["event_type"],
        spec=spec,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r.event_type: (r.v_sum, r.v_count, r.v_max)
        for r in read_agg_state(spark, str(tmp_path / "state")).collect()
    }
    batch = (
        Catalog(spark, sf_dir)["events"]
        .withColumn("v", F.floor(F.col("value") * 1000).cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("v").alias("v_sum"),
            F.count("v").alias("v_count"),
            F.max("v").alias("v_max"),
        )
    )
    want = {
        r.event_type: (r.v_sum, r.v_count, r.v_max) for r in batch.collect()
    }
    assert got == want

    # replay an already-committed batch id — state must not change
    stale = Catalog(spark, sf_dir)["events"].limit(50).withColumn(
        "v", F.floor(F.col("value") * 1000).cast("long")
    )
    handle(stale, 0)
    again = {
        r.event_type: (r.v_sum, r.v_count, r.v_max)
        for r in read_agg_state(spark, str(tmp_path / "state")).collect()
    }
    assert again == want


def test_drift_monitor_stream_per_batch_equals_batch(spark, sf_dir, tmp_path):
    """Each micro-batch's published PSI equals the batch-mode PSI of
    exactly that chunk against the same reference, and replayed runs
    overwrite instead of duplicating."""
    import pyspark.sql.functions as F

    from dataflowex_spark.operators.mleval import population_stability_index
    from dataflowex_spark.streaming.ops import (
        drift_monitor_stream,
        file_replay_stream,
    )

    ref = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "view")
    )
    val = F.floor(F.col("value") * 100).cast("long")
    stream = file_replay_stream(spark, f"{sf_dir}/events.parquet", n_chunks=3)
    out = drift_monitor_stream(
        stream,
        ref,
        value=val,
        path=str(tmp_path / "drift"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    rows = {r["batch_id"]: r for r in out.collect()}
    assert len(rows) >= 1
    # recompute each chunk's PSI in batch mode from the replay staging
    # (the staging dir is keyed by THIS source's content identity —
    # a bare *_3 glob would also match other tests' 3-chunk replays)
    import glob

    from dataflowex_spark.plans.result_cache import plan_fingerprint
    from dataflowex_spark.session import scratch_root

    tag = plan_fingerprint(spark.read.parquet(f"{sf_dir}/events.parquet"))[:10]
    staged = sorted(
        glob.glob(
            f"{scratch_root(spark)}/dataflowex_replay_{tag}_3/"
            "part-*.parquet"
        )
    )
    assert len(staged) == 3
    # map chunks to batches by matching n_cur
    batch_ns = sorted(r["n_cur"] for r in rows.values())
    chunk_ns = []
    for c in staged:
        chunk_ns.append(spark.read.parquet(c).count())
    assert sorted(chunk_ns)[: len(batch_ns)] == batch_ns or sum(
        chunk_ns
    ) == sum(batch_ns)
    for r in rows.values():
        # find a staged chunk with this row count and equal PSI
        matches = [
            c
            for c in staged
            if spark.read.parquet(c).count() == r["n_cur"]
        ]
        assert matches
        psis = {
            population_stability_index(
                ref, spark.read.parquet(c), value=val
            ).collect()[0]["psi"]
            for c in matches
        }
        assert r["psi"] in psis


def test_ticker_python_stream_source_deterministic_replay(spark, tmp_path):
    """The Python streaming DataSource produces deterministic rows:
    two independent runs over the same offsets yield identical data,
    and aggregation over the drained stream matches recomputing the
    generator directly."""
    import hashlib

    from dataflowex_spark.sources.manifest_ds import TickerDataSource

    try:
        spark.dataSource.register(TickerDataSource)
    except Exception:
        pass  # idempotent re-register within the session

    def drain(tag):
        stream = (
            spark.readStream.format("ticker")
            .option("rowsPerBatch", 50)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(f"ticker_{tag}")
            .outputMode("append")
            .option(
                "checkpointLocation", str(tmp_path / f"ckpt_{tag}")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(f"ticker_{tag}").collect()

    a = sorted(tuple(r) for r in drain("a"))
    b = sorted(tuple(r) for r in drain("b"))
    assert a == b
    assert len(a) >= 50
    # spot-check against the pure generator contract
    for i, etype, val in a[:10]:
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        assert etype == f"type_{h % 5}"
        assert val == (h >> 8) % 100_000


def test_stream_stream_asof_bounded_equals_batch(spark, tmp_path):
    """asof_join_stream_stream on two REAL streams (chained stateful
    operators: watermarked interval join -> windowed per-left argmax)
    equals the identical expression on batch frames — exact row set.
    Chunks are staged in event-time order with far-future sentinel
    rows on BOTH sources so the final watermark passes every real
    window and all results emit in append mode."""
    import datetime as dt
    import glob
    import shutil

    from dataflowex_spark.streaming.ops import (
        asof_join_stream_stream,
        run_to_memory,
    )

    T0 = dt.datetime(2024, 1, 1)
    lrows = [
        (i, "u%d" % (i % 5), T0 + dt.timedelta(minutes=17 * i))
        for i in range(200)
    ]
    rrows = [
        (1000 + j, "u%d" % (j % 5), T0 + dt.timedelta(minutes=13 * j), float(j))
        for j in range(260)
    ]
    sent_ts = T0 + dt.timedelta(days=30)

    def stage(rows, schema, sent_rows, tag):
        d = str(tmp_path / tag)
        per = (len(rows) + 3) // 4
        chunks = [rows[c * per : (c + 1) * per] for c in range(4)] + [sent_rows]
        names = [f"part-{c:03d}.parquet" for c in range(4)] + [
            "part-zzz.parquet"
        ]
        import os as _os

        for seq, (chunk, name) in enumerate(zip(chunks, names)):
            tmp = d + "/_t"
            spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
                tmp, mode="overwrite"
            )
            dst = d + "/" + name
            shutil.move(glob.glob(tmp + "/part-*.parquet")[0], dst)
            shutil.rmtree(tmp)
            # file source orders batches by mtime; fast writes tie —
            # pin strictly increasing mtimes so replay order is chunk
            # order (time-ordered arrival is the scenario under test)
            _os.utime(dst, (1_700_000_000 + seq, 1_700_000_000 + seq))
        return d

    lschema = "pid long, user string, lts timestamp"
    rschema = "cid long, user string, rts timestamp, v double"
    ld = stage(lrows, lschema, [(999999, "zz_sent", sent_ts)], "left")
    rd = stage(rrows, rschema, [(999998, "zz_sent2", sent_ts, -1.0)], "right")
    ls = (
        spark.readStream.schema(lschema)
        .option("maxFilesPerTrigger", "1")
        .parquet(ld)
    )
    rs = (
        spark.readStream.schema(rschema)
        .option("maxFilesPerTrigger", "1")
        .parquet(rd)
    )
    out = asof_join_stream_stream(
        ls, rs, "user", "lts", "rts",
        lateness="3 hours", watermark="30 minutes",
        emit_window="6 hours", tie_break="cid",
    )
    assert out.isStreaming
    res, _ = run_to_memory(out, output_mode="append")
    got = sorted(
        tuple(r)
        for r in res.collect()
        if not str(r["user"]).startswith("zz")
    )

    want_df = asof_join_stream_stream(
        spark.createDataFrame(lrows, lschema),
        spark.createDataFrame(rrows, rschema),
        "user", "lts", "rts",
        lateness="3 hours", emit_window="6 hours", tie_break="cid",
    )
    want = sorted(tuple(r) for r in want_df.collect())
    assert len(want) > 0 and got == want


def test_mtable_merge_stream_exactly_once(spark, tmp_path):
    """CDC stream into an MTable: one merge commit per micro-batch,
    final state equals applying all changes, and a REPLAY of the same
    batches (fresh checkpoint, same data -> same batch ids) is
    skipped entirely by the manifest's (app_id, batch_id) high-water
    mark — table version unchanged, no burned commits."""
    from dataflowex_spark.sources.mtable import MTable
    from dataflowex_spark.streaming.ops import mtable_merge_stream

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t = MTable.create(spark, str(tmp_path / "t"), base, "k")

    # 3 chunks of ts-ordered changes: update evens (ts=1), delete
    # k<10 (ts=2), insert 200..204 (ts=3)
    chunks = [
        [(k, 1, "U", 0, k + 1000) for k in range(0, 100, 2)],
        [(k, 2, "D", 0, 0) for k in range(10)],
        [(k, 3, "I", 0, k) for k in range(200, 205)],
    ]
    stage = tmp_path / "changes"
    for i, rows in enumerate(chunks):
        spark.createDataFrame(
            rows, "k long, ts long, op string, tie long, v long"
        ).coalesce(1).write.parquet(str(stage / f"c{i}"), mode="overwrite")
    import glob as _glob
    import shutil as _shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    import os as _os

    for i in range(3):
        src = _glob.glob(str(stage / f"c{i}" / "part-*.parquet"))[0]
        dst = str(flat / f"part-{i:03d}.parquet")
        _shutil.copy(src, dst)
        # pin increasing mtimes: the file source orders batches by
        # mtime and same-second copies tie (ts-ordered CDC is the
        # scenario under test)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def run(ckpt):
        cs = (
            spark.readStream.schema(
                "k long, ts long, op string, tie long, v long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(flat))
        )
        return mtable_merge_stream(
            cs, t, "ts", "op", "tie", ["v"],
            app_id="cdc", checkpoint_dir=str(tmp_path / ckpt),
        )

    v = run("ck1")
    assert v == t.current_version() and v >= 2
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert all(k not in got for k in range(10))           # deleted
    assert got[12] == 1012 and got[13] == 130             # even upd, odd kept
    assert got[200] == 200 and len(got) == 90 + 5

    # replay with a fresh checkpoint: same files -> batch ids 0..2
    # again -> all skipped by the high-water mark
    v2 = run("ck2")
    assert v2 == v
    assert t.last_stream_batch("cdc") >= 2


def test_stream_stream_asof_rejects_colliding_names(spark):
    """Shared non-key column names (e.g. both streams calling their
    timestamp 'ts') must fail fast with an actionable ValueError, not
    an ambiguous-reference AnalysisException from inside the join
    plan (r6 advice closure)."""
    import pytest as _pytest

    from dataflowex_spark.streaming.ops import asof_join_stream_stream

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k int, ts string"
    ).select("k", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 5)], "k int, ts string, v int"
    ).select("k", F.col("ts").cast("timestamp"), "v")
    with _pytest.raises(ValueError, match="disjoint.*\\['ts'\\]"):
        asof_join_stream_stream(left, right, "k", "ts", "ts")


def test_mtable_tail_stream_equals_batch_and_resumes(spark, tmp_path):
    """r6 verdict item 6 — the read half of the MTable CDC story: the
    mtable_tail streaming source must (a) replay the commit log as
    the per-version FILE-LIST DIFF, matching a batch recomputation of
    the same diffs exactly; (b) resume from its checkpoint emitting
    ONLY versions committed after the last drain (exactly-once tail);
    (c) never re-emit carried-forward files (the stream's volume is
    the rewrite, not the table)."""
    from dataflowex_spark.sources.manifest_ds import MTableTailDataSource
    from dataflowex_spark.sources.mtable import MTable

    try:
        spark.dataSource.register(MTableTailDataSource)
    except Exception:
        pass  # idempotent within a session

    root = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = MTable.create(spark, root, df.repartitionByRange(8, "k"), "k")

    def do_merge(key, val, ts):
        chg = spark.createDataFrame(
            [(key, ts, "U", 0, val)],
            "k long, ts long, op string, tie long, v long",
        )
        t.merge(chg, "ts", "op", "tie", ["v"])

    do_merge(5, 999, 1)
    do_merge(990, -1, 2)

    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")

    def drain(tag):
        # parquet sink: the one that supports checkpoint RECOVERY
        # (memory sink refuses to resume), which is the semantics
        # under test
        q = (
            spark.readStream.format("mtable_tail")
            .load(root)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(outdir)

    out = drain("a")

    # (a) batch recomputation of the same per-version file diffs
    def batch_diff_rows(v):
        prev = (
            {e["path"] for e in t.manifest(v - 1)["files"]}
            if v > 1
            else set()
        )
        added = sorted(
            {e["path"] for e in t.manifest(v)["files"]} - prev
        )
        if not added:
            return []
        return [
            (r["k"], r["v"], v)
            for r in spark.read.parquet(*added).collect()
        ]

    want = sorted(
        row for v in (1, 2, 3) for row in batch_diff_rows(v)
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == want
    # (c) stream volume = snapshot + the two rewritten files only
    per_ver = {
        r["_commit_version"]: r["n"]
        for r in out.groupBy("_commit_version")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_ver[1] == 1000
    assert 0 < per_ver[2] < 1000 and 0 < per_ver[3] < 1000
    # the updated keys are visible with their new values
    assert out.filter("_commit_version = 2 and k = 5").collect()[0]["v"] == 999

    # (b) a new commit, same checkpoint: only version 4 arrives
    do_merge(17, 777, 3)
    out2 = drain("b")
    new_rows = sorted(tuple(r) for r in out2.collect())
    appended = [r for r in new_rows if r[2] == 4]
    assert appended == sorted(batch_diff_rows(4))
    # nothing re-emitted: total == first drain + v4's diff exactly
    assert len(new_rows) == len(got) + len(appended)


def test_mtable_tail_spans_schema_evolution(spark, tmp_path):
    """A tail that crosses a metadata-only add_column must keep
    working: pre-evolution files null-fill the new column to the
    COMMITTED schema (the declared stream schema comes from the
    manifest, not a file footer)."""
    from dataflowex_spark.sources.manifest_ds import MTableTailDataSource
    from dataflowex_spark.sources.mtable import MTable

    try:
        spark.dataSource.register(MTableTailDataSource)
    except Exception:
        pass

    root = str(tmp_path / "t")
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = MTable.create(spark, root, df.repartitionByRange(2, "k"), "k")
    t.add_column("score", "double")
    chg = spark.createDataFrame(
        [(5, 1, "U", 0, 0.5)],
        "k long, ts long, op string, tie long, score double",
    )
    t.merge(chg, "ts", "op", "tie", ["score"])

    q = (
        spark.readStream.format("mtable_tail")
        .load(root)
        .writeStream.format("memory")
        .queryName("mtail_evo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("mtail_evo")
    assert set(out.columns) == {"k", "v", "score", "_commit_version"}
    # v1 snapshot rows (pre-evolution files): score null-filled
    assert (
        out.filter("_commit_version = 1 and score is not null").count()
        == 0
    )
    assert out.filter("_commit_version = 1").count() == 50
    # the rewritten file carries the populated value
    got = out.filter("_commit_version = 3 and k = 5").collect()
    assert len(got) == 1 and got[0]["score"] == 0.5


def test_stream_hll_maintenance_equals_batch(spark):
    """The q347 contract pinned hard: after the replayed stream
    drains, every maintained register equals the batch-built
    register (bit-identical state), hence identical estimates."""
    import dataflowex_spark.queries as Q

    rows = Q.REGISTRY["q347_stream_hll_maintenance"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "stream produced no groups"
    for r in rows:
        assert r["registers_identical"], r
        assert r["streamed_est"] == r["batch_est"], r


def test_stream_hll_maintenance_bounds_state_and_folds_legacy(
    spark, tmp_path
):
    """The state dir keeps at most two register versions (the
    pointer's and the one before it) however many batches drain, and
    a state dir from before the versioned layout — a bare
    ``registers`` directory — seeds the fold instead of being
    ignored: the drained registers equal a batch build over the
    legacy rows plus the streamed ones."""
    import os

    from dataflowex_spark.operators.sketches import hll_registers
    from dataflowex_spark.streaming.ops import stream_hll_maintenance

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).alias("g"), (F.col("id") * 7).alias("u")
        )

    src, state = str(tmp_path / "src.parquet"), str(tmp_path / "state")
    frame(0, 400).write.parquet(src)
    hll_registers(frame(1000, 1400), ["g"], "u").write.parquet(
        os.path.join(state, "registers")
    )
    got = stream_hll_maintenance(spark, src, "g", "u", state_dir=state)
    versions = [d for d in os.listdir(state) if d.startswith("registers_v")]
    assert 1 <= len(versions) <= 2, versions
    want = hll_registers(frame(0, 400).union(frame(1000, 1400)), ["g"], "u")
    key = ["g", "j", "m_j"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, want.select(*key).collect())
    )


def test_session_window_merges_sessions_across_batches(spark, tmp_path):
    """The stateful property q353 leans on: two sessions opened in
    micro-batch 1 (events 50 min apart) are WELDED into one when the
    bridging event arrives in micro-batch 2 — the state-store merge
    that no batch window-function spelling exercises. Final complete
    output: one session with all three events. Also pins the
    boundary: an event exactly `gap` after its predecessor merges."""
    import os
    import time as _time

    from dataflowex_spark.streaming.ops import (
        run_to_memory,
        session_counts,
    )

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    b1 = spark.createDataFrame(
        [
            (1, "2020-01-01 00:00:00"),
            (1, "2020-01-01 00:50:00"),
            # boundary probe, separate user: exactly 30 min apart
            (2, "2020-01-01 00:00:00"),
            (2, "2020-01-01 00:30:00"),
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [(1, "2020-01-01 00:25:00")], "user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b1.coalesce(1).write.parquet(stage + "/f1")
    _time.sleep(1.1)  # file source orders batches by mtime
    b2.coalesce(1).write.parquet(stage + "/f2")
    import glob
    import shutil

    for i, src in enumerate(
        sorted(glob.glob(stage + "/f*/part-*.parquet"))
    ):
        shutil.copy(src, stage + f"/b{i}.parquet")
        os.utime(stage + f"/b{i}.parquet", (1000000 + i, 1000000 + i))

    raw = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage + "/b*.parquet")
    )
    agg = session_counts(
        raw, gap="30 minutes", watermark="365 days"
    )
    out, _ = run_to_memory(agg, output_mode="complete")
    rows = {
        (r["user_id"], str(r["session_start"]), r["n"])
        for r in out.collect()
    }
    assert rows == {
        (1, "2020-01-01 00:00:00", 3),  # welded across batches
        (2, "2020-01-01 00:00:00", 2),  # exact-gap event merged
    }, rows


def test_statestore_reader_and_metadata(spark, tmp_path):
    """The Spark 4 statestore reader surfaces a stateful query's
    checkpoint as a batch frame whose content EQUALS the batch
    aggregate (a running agg's state is its partial buffer); the
    state-metadata source inventories the operator and its committed
    batch range."""
    from pyspark.sql import functions as F

    from dataflowex_spark.streaming.ops import (
        read_state,
        run_with_state,
        state_metadata,
    )

    src = tmp_path / "src"
    df = spark.range(200).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    df.coalesce(2).write.json(str(src))
    stream = spark.readStream.schema("k long, v long").json(str(src))
    agg = stream.groupBy("k").agg(F.sum("v").alias("s"))
    ckpt = run_with_state(agg, str(tmp_path / "ckpt"))

    st = read_state(spark, ckpt)
    kc, sc = st.columns
    got = {r[kc]: r[sc] for r in st.collect()}
    want = {
        r["k"]: r["s"]
        for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert got == want

    raw = read_state(spark, ckpt, flatten=False)
    assert set(raw.columns) == {"key", "value", "partition_id"}

    md = state_metadata(spark, ckpt).collect()
    assert len(md) == 1
    assert md[0]["operatorName"] == "stateStoreSave"
    assert md[0]["minBatchId"] == 0 and md[0]["maxBatchId"] >= 0


def test_full_outer_interval_join_stream_matches_batch(spark, tmp_path):
    """Native stream-stream FULL OUTER interval join == the batch
    full outer under the same condition: matched pairs emit on
    arrival; unmatched rows emit null-padded once the watermark
    passes their eviction bound (ordered replay + far-future
    sentinels make the flush deterministic). Also pins the
    shared-column guard."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataflowex_spark.streaming.ops import (
        full_outer_interval_join_stream,
        ordered_event_replay,
        run_to_memory,
    )

    base = 1_000_000
    lrows = [(i, base + i * 60) for i in range(20)]           # every min
    rrows = [(i, base + i * 60 + 30) for i in range(0, 20, 3)]  # sparse
    lb = spark.createDataFrame(lrows, "k long, sec long").select(
        "k", F.timestamp_seconds("sec").alias("lts")
    )
    rb = spark.createDataFrame(rrows, "k long, sec long").select(
        "k", F.timestamp_seconds("sec").alias("rts")
    )
    sl = spark.createDataFrame(
        [(-1, base + 10**6), (-1, base + 10**6 + 1)], "k long, sec long"
    ).select("k", F.timestamp_seconds("sec").alias("lts"))
    sr = sl.select("k", F.col("lts").alias("rts"))

    ls = ordered_event_replay(
        spark, lb, "lts", 3, str(tmp_path / "l"), sentinel_rows=sl
    )
    rs = ordered_event_replay(
        spark, rb, "rts", 3, str(tmp_path / "r"), sentinel_rows=sr
    )
    j = full_outer_interval_join_stream(
        ls, rs, "k", "lts", "rts",
        tolerance="2 minutes", lateness="2 minutes",
    )
    out, _ = run_to_memory(
        j.select(
            F.col("__l.k").alias("lk"),
            F.col("__r.k").alias("rk"),
            "lts", "rts",
        )
    )
    got = {
        (r["lk"], r["rk"])
        for r in out.collect()
        if (r["lk"] or 0) >= 0 and (r["rk"] or 0) >= 0  # drop sentinels
    }
    want = {
        (r["lk"], r["rk"])
        for r in lb.alias("l")
        .join(
            rb.alias("r"),
            (F.col("l.k") == F.col("r.k"))
            & (F.col("rts") >= F.col("lts") - F.expr("interval 2 minutes"))
            & (F.col("rts") <= F.col("lts") + F.expr("interval 2 minutes")),
            "full_outer",
        )
        .select(
            F.col("l.k").alias("lk"), F.col("r.k").alias("rk")
        )
        .collect()
    }
    assert got == want
    # sanity: all three classes present
    assert any(a is not None and b is not None for a, b in got)
    assert any(b is None for _a, b in got)

    with _pytest.raises(ValueError, match="both sides"):
        full_outer_interval_join_stream(
            ls, ls, "k", "lts", "lts"
        )


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Spark 3.5+ dropDuplicatesWithinWatermark: dedups re-deliveries
    whose event times DIFFER slightly (at-least-once senders restamp
    on retry — plain dropDuplicates keyed on (id, ts) would miss
    those), while evicting state once the watermark passes — the
    bounded-state dedup contract streaming ingestion needs. Output
    equals a batch distinct-by-id on the same data."""
    from pyspark.sql import functions as F

    from dataflowex_spark.streaming.ops import (
        ordered_event_replay,
        run_to_memory,
    )

    base = 1_000_000
    # id 7 re-delivered 3x with jittered timestamps inside the window
    rows = [(i, base + i * 60) for i in range(10)] + [
        (7, base + 7 * 60 + 5),
        (7, base + 7 * 60 + 9),
    ]
    df = spark.createDataFrame(rows, "event_id long, sec long").select(
        "event_id", F.timestamp_seconds("sec").alias("ts")
    )
    stream = ordered_event_replay(
        spark, df, "ts", 3, str(tmp_path / "s")
    )
    out, _ = run_to_memory(
        stream.withWatermark("ts", "2 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    got = sorted(r["event_id"] for r in out.collect())
    assert got == list(range(10))


def _replayed(spark, df, stage):
    """Stage ``df`` through ordered_event_replay on ``ts`` (3 chunks)
    and drain it back into a memory table."""
    from dataflowex_spark.streaming.ops import (
        ordered_event_replay,
        run_to_memory,
    )

    out, _ = run_to_memory(ordered_event_replay(spark, df, "ts", 3, stage))
    return out


def test_ordered_replay_keeps_nullable_long(spark, tmp_path):
    """A ``long`` column holding a NULL stages as INT64: the stream's
    declared schema reads it back unchanged (a pandas round trip turns
    it into float64 and the drain fails with "Expected bigint, actual
    DOUBLE")."""
    df = spark.createDataFrame(
        [(1, 10, 1_000_000), (2, None, 1_000_060), (3, 30, 1_000_120)],
        "event_id long, n long, sec long",
    ).select("event_id", "n", F.timestamp_seconds("sec").alias("ts"))
    got = _replayed(spark, df, str(tmp_path / "s"))
    assert _sorted_rows(got, df.columns) == _sorted_rows(df, df.columns)


def test_ordered_replay_keeps_instants_on_non_utc_session(spark, tmp_path):
    """Staging is an instant-preserving copy whatever the session time
    zone: ``unix_seconds(ts)`` of the replayed rows equals the input's
    (local wall-clock times relabelled as UTC shift every row by the
    zone's offset)."""
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            [(i, 1_000_000 + i * 60) for i in range(6)],
            "event_id long, sec long",
        ).select("event_id", F.timestamp_seconds("sec").alias("ts"))
        got = _replayed(spark, df, str(tmp_path / "s")).select(
            "event_id", F.unix_seconds("ts")
        )
        assert _sorted_rows(got, got.columns) == [
            (i, 1_000_000 + i * 60) for i in range(6)
        ]
    finally:
        spark.conf.set(key, prev)


def test_ordered_replay_collects_each_frame_once(spark, tmp_path):
    """Staging a frame runs one Spark job (the collect; the event-time
    sort runs on the driver), and sentinel rows one more."""
    from dataflowex_spark.streaming.ops import ordered_event_replay

    sc = spark.sparkContext
    df = spark.range(1000).select(
        "id", F.timestamp_seconds(F.col("id") * 7 % 1000).alias("ts")
    )
    sent = spark.createDataFrame(
        [(-1, 5_000)], "id long, sec long"
    ).select("id", F.timestamp_seconds("sec").alias("ts"))

    def jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            ordered_event_replay(
                spark, df, "ts", 4, str(tmp_path / group), **kw
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("replay_plain") == 1
    assert jobs("replay_sentinels", sentinel_rows=sent) == 2


def test_delta_tail_stream_equals_batch_cdf_and_resumes(spark, tmp_path):
    """The streaming half of the Delta CDC story: delta_tail must
    (a) replay the commit log as the SAME change rows the batch CDF
    reader computes (cdc-authoritative, DV-dead rows excluded both
    sides); (b) resume from its checkpoint emitting ONLY commits
    landed after the last drain (exactly-once tail)."""
    from dataflowex_spark.sources.delta_reader import (
        delete_from_delta,
        merge_delta,
        read_delta_changes,
        update_delta,
        write_delta,
    )
    from dataflowex_spark.sources.manifest_ds import DeltaTailDataSource

    try:
        spark.dataSource.register(DeltaTailDataSource)
    except Exception:
        pass  # idempotent within a session

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), float(i)) for i in range(30)],
        "k long, g string, x double",
    )
    write_delta(
        spark, df, root, partition_by=["g"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delete_from_delta(spark, root, "k % 5 = 0")
    update_delta(spark, root, "k = 7", {"x": "x + 100"})

    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("delta_tail")
            .load(root)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(outdir)

    out = drain()
    got = sorted(
        (r.k, r.g, r.x, r["_change_type"], r["_commit_version"])
        for r in out.collect()
    )
    want = sorted(
        (r.k, r.g, r.x, r["_change_type"], r["_commit_version"])
        for r in read_delta_changes(
            spark, root, starting_version=0
        ).collect()
    )
    assert got == want and len(got) > 30
    # (b) resume: a merge lands AFTER the first drain; the second
    # drain emits ONLY its commit's change rows
    src = spark.createDataFrame(
        [(3, "gX", 300.0), (100, "g0", 1000.0)],
        "k long, g string, x double",
    )
    v3, _stats = merge_delta(spark, root, src, ["k"])
    out2 = drain()
    fresh = sorted(
        (r.k, r["_change_type"])
        for r in out2.filter(
            F.col("_commit_version") == v3
        ).collect()
    )
    assert fresh == [
        (3, "update_postimage"), (3, "update_preimage"),
        (100, "insert"),
    ]
    # nothing before v3 was re-emitted
    assert out2.count() == len(got) + len(fresh)


def test_iceberg_tail_changelog_and_resumes(spark, tmp_path):
    """iceberg_tail streams each snapshot's ADDED rows as inserts
    and position-deleted rows as EXACT row images (re-read by
    position); an upsert snapshot streams delete+insert pairs;
    checkpoint resume emits only post-drain snapshots."""
    from dataflowex_spark.sources.iceberg_reader import (
        delete_from_iceberg,
        upsert_iceberg,
        write_iceberg,
    )
    from dataflowex_spark.sources.manifest_ds import (
        IcebergTailDataSource,
    )

    try:
        spark.dataSource.register(IcebergTailDataSource)
    except Exception:
        pass  # idempotent within a session

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), float(i)) for i in range(20)],
        "k long, g string, x double",
    )
    write_iceberg(spark, df, root)
    delete_from_iceberg(spark, root, "k % 5 = 0")

    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("iceberg_tail")
            .load(root)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(outdir)

    out = drain()
    got = sorted(
        (r.k, r.x, r["_change_type"], r["_snapshot_id"])
        for r in out.collect()
    )
    want = sorted(
        [(i, float(i), "insert", 1) for i in range(20)]
        + [(i, float(i), "delete", 2) for i in range(0, 20, 5)]
    )
    assert got == want
    # resume: an upsert lands after the drain; only ITS changelog
    # rows arrive, deletes carrying the OLD row image
    upsert_iceberg(
        spark, root,
        spark.createDataFrame(
            [(3, "gX", 300.0)], "k long, g string, x double"),
        ["k"],
    )
    out2 = drain()
    fresh = sorted(
        (r.k, r.x, r["_change_type"])
        for r in out2.filter(F.col("_snapshot_id") == 3).collect()
    )
    assert fresh == [(3, 3.0, "delete"), (3, 300.0, "insert")]
    assert out2.count() == len(got) + 2


def test_delta_tail_spans_schema_evolution(spark, tmp_path):
    """Tailing from startVersion=0 across a merge_schema ADD COLUMN:
    files written BEFORE the evolution lack the new column — the
    tail must typed-null-fill them (the Iceberg tail/batch-CDF
    contract), not kill the stream with a KeyError."""
    from dataflowex_spark.sources.delta_reader import (
        read_delta_changes,
        write_delta,
    )
    from dataflowex_spark.sources.manifest_ds import DeltaTailDataSource

    try:
        spark.dataSource.register(DeltaTailDataSource)
    except Exception:
        pass

    root = str(tmp_path / "t")
    df1 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, x double"
    )
    write_delta(spark, df1, root)
    df2 = spark.createDataFrame(
        [(3, 30.0, "n3")], "k long, x double, note string"
    )
    write_delta(spark, df2, root, mode="append", merge_schema=True)

    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    q = (
        spark.readStream.format("delta_tail")
        .load(root)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.k, r.x, r.note, r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(outdir).collect()
    )
    assert got == [
        (1, 10.0, None, "insert", 0),
        (2, 20.0, None, "insert", 0),
        (3, 30.0, "n3", "insert", 1),
    ]
    # batch CDF agrees (same null-fill contract)
    want = sorted(
        (r.k, r.x, r.note, r["_change_type"], r["_commit_version"])
        for r in read_delta_changes(
            spark, root, starting_version=0
        ).collect()
    )
    assert got == want


def test_iceberg_tail_uri_escaped_partition_delete(spark, tmp_path):
    """iceberg_tail re-reads position-deleted row images from the
    data file named by the delete sidecar — with a URI-escapable
    partition value (space) the sidecar must carry the ON-DISK path
    or the re-read crashes FileNotFoundError."""
    from dataflowex_spark.sources.iceberg_reader import (
        delete_from_iceberg,
        write_iceberg,
    )
    from dataflowex_spark.sources.manifest_ds import (
        IcebergTailDataSource,
    )

    try:
        spark.dataSource.register(IcebergTailDataSource)
    except Exception:
        pass

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "NOT SPECIFIED", 1.0), (2, "NOT SPECIFIED", 2.0),
         (3, "plain", 3.0)],
        "k long, g string, x double",
    )
    write_iceberg(spark, df, root, partition_by=["g"])
    delete_from_iceberg(spark, root, "k = 2")

    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    q = (
        spark.readStream.format("iceberg_tail")
        .load(root)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.k, r.g, r["_change_type"])
        for r in spark.read.parquet(outdir).collect()
    )
    assert got == [
        (1, "NOT SPECIFIED", "insert"),
        (2, "NOT SPECIFIED", "delete"),
        (2, "NOT SPECIFIED", "insert"),
        (3, "plain", "insert"),
    ]


def test_delta_tail_column_mapping_mode_name(spark, tmp_path):
    """delta_tail over columnMapping mode=name (the delta-spark
    default on newer tables): files carry PHYSICAL names, the
    stream emits LOGICAL ones; partition values key physically and
    re-attach logically; DML change rows match the batch CDF
    reader; mode=id still refuses."""
    from dataflowex_spark.sources.delta_reader import (
        add_delta_constraint,
        alter_delta,
        delete_from_delta,
        read_delta_changes,
        update_delta,
        upgrade_delta_column_mapping,
        write_delta,
    )
    from dataflowex_spark.sources.manifest_ds import DeltaTailDataSource

    try:
        spark.dataSource.register(DeltaTailDataSource)
    except Exception:
        pass

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), float(i)) for i in range(20)],
        "k long, g string, x double",
    )
    write_delta(
        spark, df, root, partition_by=["g"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    upgrade_delta_column_mapping(spark, root)
    alter_delta(spark, root, renames={"k": "key_id"})
    delete_from_delta(spark, root, "key_id % 5 = 1")
    update_delta(spark, root, "key_id = 2", {"x": "x + 100"})

    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    q = (
        spark.readStream.format("delta_tail")
        .load(root)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.key_id, r.g, r.x, r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(outdir).collect()
    )
    want = sorted(
        (r.key_id, r.g, r.x, r["_change_type"], r["_commit_version"])
        for r in read_delta_changes(
            spark, root, starting_version=0
        ).collect()
    )
    assert got == want and len(got) > 20
    # the logical rename is visible in the stream schema
    assert "key_id" in spark.read.parquet(outdir).columns


def test_delta_tail_evolution_all_primitive_types(spark, tmp_path):
    """Typed null-fill covers EVERY primitive: evolving by short /
    byte / decimal / binary / timestamp_ntz columns must tail
    cleanly from startVersion=0 (the untyped-null fallback used to
    crash the positional arrow-to-Spark mapping for these)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from dataflowex_spark.sources.delta_reader import write_delta
    from dataflowex_spark.sources.manifest_ds import DeltaTailDataSource

    try:
        spark.dataSource.register(DeltaTailDataSource)
    except Exception:
        pass

    root = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame([(1,)], "k long"),
        root,
    )
    schema2 = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.ShortType()),
            T.StructField("b", T.ByteType()),
            T.StructField("d", T.DecimalType(10, 2)),
            T.StructField("raw", T.BinaryType()),
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )
    import datetime as _dt

    write_delta(
        spark,
        spark.createDataFrame(
            [
                (
                    2,
                    7,
                    3,
                    Decimal("12.34"),
                    b"\x01\x02",
                    _dt.datetime(2024, 6, 1, 12, 0, 0),
                )
            ],
            schema2,
        ),
        root,
        mode="append",
        merge_schema=True,
    )
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    q = (
        spark.readStream.format("delta_tail")
        .load(root)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.k, r.s, r.b, r.d, r.raw, r.ts)
        for r in spark.read.parquet(outdir).collect()
    )
    assert got == [
        (1, None, None, None, None, None),
        (
            2,
            7,
            3,
            Decimal("12.34"),
            b"\x01\x02",
            _dt.datetime(2024, 6, 1, 12, 0, 0),
        ),
    ], got


def test_bounded_state_scope_restores_conf(spark, events_stream, monkeypatch):
    """run_to_memory scopes the state-store partition count (the
    stateful shuffle) to the drain and restores the session value;
    the env override and the -1 opt-out are honored; results are
    partition-count-invariant (the parity tests above pin content)."""
    from dataflowex_spark.streaming.ops import run_to_memory, tumbling_counts

    before = spark.conf.get("spark.sql.shuffle.partitions")
    agg = tumbling_counts(events_stream, watermark=None)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "3")
    out3, _ = run_to_memory(agg, output_mode="complete")
    rows3 = sorted(map(tuple, out3.collect()))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "-1")
    out_off, _ = run_to_memory(agg, output_mode="complete")
    assert sorted(map(tuple, out_off.collect())) == rows3
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # a non-integer value fails up front, naming the variable
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "eight")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTS"):
        run_to_memory(agg, output_mode="complete")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _processes_forked():
    """The kernel's count of forks and clones since boot (the
    ``processes`` line of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("/proc/stat has no processes line")


@pytest.mark.skipif(
    not os.path.exists("/proc/stat"), reason="needs Linux /proc/stat"
)
def test_stateful_drain_does_not_fork_per_checkpoint_file(
    spark, sf_dir, tmp_path
):
    """A local stateful drain commits offsets, commit logs and one
    state delta per store per batch. Through Hadoop FileContext on
    ``file:`` (no libhadoop) every rename forks ``readlink`` for its
    source and destination, .crc sidecars included: ~1,200 forks and
    clones for this q367-shaped drain. The FileSystem-based checkpoint
    manager that ``configure`` selects renames in-process (~285 left:
    ``chmod`` on each file Hadoop creates, and JVM threads)."""
    from dataflowex_spark.streaming.ops import (
        ordered_event_replay,
        run_to_memory,
    )

    ev = Catalog(spark, sf_dir)["events"].select(
        "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    redelivered = ev.withColumn(
        "ts", F.col("ts") + F.expr("interval 5 seconds")
    )
    stream = ordered_event_replay(
        spark, ev.unionByName(redelivered), "ts", 4, str(tmp_path / "s")
    )
    before = _processes_forked()
    out, _ = run_to_memory(
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    forks = _processes_forked() - before
    assert out.count() == ev.select("event_id").distinct().count()
    assert forks < 600, f"{forks} forks for one 4-batch drain"


class _StubSession:
    """Only the ``spark.conf.get/set`` and the
    ``spark.sparkContext.environment`` that ``configure`` uses."""

    def __init__(self, **values):
        self.conf, self.values = self, dict(values)
        self.sparkContext = SimpleNamespace(environment={})

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value


def test_configure_scopes_checkpoint_manager_to_local_masters(spark):
    """Local sessions get the FileSystem-based checkpoint manager; a
    manager the session already chose is kept, and a cluster session
    keeps Spark's default."""
    from dataflowex_spark.session import (
        CHECKPOINT_MANAGER_CONF,
        FS_CHECKPOINT_MANAGER,
        configure,
    )

    assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER

    local = configure(_StubSession(**{"spark.master": "local[2]"}))
    assert local.values[CHECKPOINT_MANAGER_CONF] == FS_CHECKPOINT_MANAGER

    mine = "com.example.MyCheckpointFileManager"
    chosen = configure(
        _StubSession(**{"spark.master": "local[*]", CHECKPOINT_MANAGER_CONF: mine})
    )
    assert chosen.values[CHECKPOINT_MANAGER_CONF] == mine

    yarn = configure(_StubSession(**{"spark.master": "yarn"}))
    assert CHECKPOINT_MANAGER_CONF not in yarn.values


def test_q367_removes_its_replay_dir(spark, sf_dir, tmp_path, monkeypatch):
    """q367 stages its event-time-ordered replay in a temp dir and
    deletes it once the drain returns; the result still equals the
    batch per-type distinct count, since it reads the memory sink."""
    import tempfile
    from pathlib import Path

    from dataflowex_spark.queries import REGISTRY
    from dataflowex_spark.session import scratch_root

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    scratch = Path(scratch_root(spark))
    before = set(scratch.glob("q367_*"))
    fn, _ = REGISTRY["q367_stream_dedup_within_watermark"]
    got = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert not [p.name for p in tmp_path.glob("q367_*")]
    assert set(scratch.glob("q367_*")) == before
    want = sorted(
        (r.event_type, r.n)
        for r in Catalog(spark, sf_dir)["events"]
        .groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    )
    assert got == want


def test_drains_leave_no_checkpoint_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """A drain keeps a checkpoint only where the caller names one:
    q262's memory drain and an asof_join_stream foreachBatch drain
    without ``checkpoint_dir`` leave no checkpoint directory behind."""
    import tempfile
    from pathlib import Path

    from dataflowex_spark.queries import REGISTRY
    from dataflowex_spark.session import scratch_root
    from dataflowex_spark.streaming.ops import asof_join_stream

    clicks = Catalog(spark, sf_dir)["events"].select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    left = file_replay_stream(
        spark, f"{sf_dir}/events.parquet", n_chunks=2
    ).select("event_id", "user_id", "ts")
    private = tmp_path / "tmp"
    private.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(private))
    scratch = Path(scratch_root(spark))
    before = set(scratch.rglob("*ckpt*"))

    fn, _ = REGISTRY["q262_python_stream_source"]
    assert fn(spark, sf_dir).count() > 0
    got = asof_join_stream(
        left, clicks, on="user_id", left_ts="ts", right_ts="ts",
        tie_break="click_id", path=str(tmp_path / "asof_out"),
    )
    assert got.count() > 0
    assert not [p.name for p in private.glob("*ckpt*")]
    assert set(scratch.rglob("*ckpt*")) == before


def test_run_foreach_batch_handler_failure_raises(spark, tmp_path):
    """A handler that raises fails the drain: no timeout, no silent
    partial result."""
    from pyspark.errors import StreamingQueryException

    from dataflowex_spark.streaming.ops import run_foreach_batch

    src = tmp_path / "src"
    spark.range(10).write.parquet(str(src))
    stream = spark.readStream.schema("id long").parquet(str(src))

    def handle(batch_df, batch_id):
        raise RuntimeError("handler failed")

    with pytest.raises(StreamingQueryException):
        run_foreach_batch(stream, handle)


def test_one_await_point():
    """Every drain in the package waits in ``streaming.ops._drain``:
    ``awaitTermination(`` appears exactly once, inside it."""
    import ast
    import pathlib

    import dataflowex_spark

    root = pathlib.Path(dataflowex_spark.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        if "awaitTermination(" not in text:
            continue
        fns = [
            f for f in ast.walk(ast.parse(text))
            if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for no, line in enumerate(text.splitlines(), 1):
            for _ in range(line.count("awaitTermination(")):
                inner = min(
                    (f for f in fns if f.lineno <= no <= f.end_lineno),
                    key=lambda f: f.end_lineno - f.lineno,
                    default=None,
                )
                sites.append(
                    (path.relative_to(root).as_posix(), inner and inner.name)
                )
    assert sites == [("streaming/ops.py", "_drain")]
