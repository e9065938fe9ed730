"""E2E streaming tests mirroring the reference's four integration scenarios
(``EMQXSourceIntegrationTest.java:125-364``) on the spool transport — same
at-least-once/ack contract as the MQTT path, no broker required.

| reference test          | here                                        |
|-------------------------|---------------------------------------------|
| messageDelivery         | test_message_delivery (3 msgs, parallelism 3)|
| stopWithSavepoint       | test_graceful_stop_and_restart (checkpoint) |
| recoverAfterFailure     | test_redelivery_without_commit (reader-level)|
| startWithBrokerOffline  | test_broker_offline_at_start                |
"""

import time
import uuid

import pytest

from flink_emqx_connector_spark.sources.emqx import EMQXStreamReader
from flink_emqx_connector_spark.sources.transport import SpoolPublisher, SpoolTransport


def _spool(tmp_path):
    return str(tmp_path / "spool")


def _start_query(spark, spool_dir, tmp_path, name, partitions=3):
    from flink_emqx_connector_spark.streaming import start_wordcount_stream

    return start_wordcount_stream(
        spark,
        {
            "transport": "spool",
            "spool_dir": spool_dir,
            "partitions": str(partitions),
            "qos": "1",
        },
        query_name=name,
        checkpoint_dir=str(tmp_path / "ckpt" / name),
        trigger_ms=100,
    )


def _wait(predicate, timeout=30.0, step=0.2):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(step)
    return False


def test_message_delivery(spark, tmp_path):
    """3 published messages arrive at the sink with source parallelism 3
    (reference :125-170)."""
    spool = _spool(tmp_path)
    pub = SpoolPublisher(spool)
    for p in [b"1", b"2", b"3"]:
        pub.publish("t/1", p, qos=1)
    pub.flush()
    name = f"wc_{uuid.uuid4().hex[:8]}"
    q = _start_query(spark, spool, tmp_path, name)
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT sum(cnt) AS s FROM {name}").head()["s"] == 3
        ), spark.sql(f"SELECT * FROM {name}").collect()
        rows = {r.word: r.cnt for r in spark.sql(f"SELECT * FROM {name}").collect()}
        assert rows == {"1": 1, "2": 1, "3": 1}
    finally:
        q.stop()


def test_graceful_stop_and_restart(spark, tmp_path):
    """Stop after consuming 10 messages; restart from the same checkpoint
    and consume 5 more — no loss, no double-count (reference :172-217)."""
    spool = _spool(tmp_path)
    pub = SpoolPublisher(spool)
    for i in range(10):
        pub.publish("t/1", str(i).encode(), qos=1)
    pub.flush()
    name = f"wc_{uuid.uuid4().hex[:8]}"
    q = _start_query(spark, spool, tmp_path, name)
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT sum(cnt) AS s FROM {name}").head()["s"] == 10
        )
    finally:
        q.stop()
    # committed messages were acked (deleted from the spool backlog)
    assert _wait(lambda: SpoolTransport(spool).latest_seq() >= 10)

    for i in range(5):
        pub.publish("t/1", b"extra", qos=1)
    pub.flush()
    q2 = _start_query(spark, spool, tmp_path, name)
    try:
        assert _wait(
            lambda: (spark.sql(f"SELECT cnt FROM {name} WHERE word='extra'").head() or [0])[0] == 5
        ), spark.sql(f"SELECT * FROM {name}").collect()
        # restored aggregation state keeps 0..9 at cnt=1 each; the restarted
        # query must NOT have re-consumed the committed backlog (cnt would
        # jump to 2) — this is the no-double-count half of at-least-once
        rows = {r.word: r.cnt for r in spark.sql(f"SELECT * FROM {name}").collect()}
        assert rows.pop("extra") == 5
        assert rows == {str(i): 1 for i in range(10)}, rows
    finally:
        q2.stop()


def test_redelivery_without_commit(tmp_path):
    """At-least-once: a batch read but never committed is redelivered to
    the next reader incarnation (reference recoverAfterFailure :219-301)."""
    spool = _spool(tmp_path)
    pub = SpoolPublisher(spool)
    for i in range(10):
        pub.publish("t/1", str(i).encode(), qos=1)
    pub.flush()

    def drain(reader):
        rows = []
        for p in reader.partitions(reader.initialOffset(), reader.latestOffset()):
            for batch in reader.read(p):  # pyarrow RecordBatches
                rows.extend(batch.to_pylist())
        return rows

    opts = {"transport": "spool", "spool_dir": spool, "partitions": "2"}
    r1 = EMQXStreamReader(None, opts)
    end = r1.latestOffset()
    assert end == {"seq": 10}
    got1 = drain(r1)
    assert len(got1) == 10
    # crash before commit → nothing acked → full redelivery
    got2 = drain(EMQXStreamReader(None, opts))
    assert sorted(m["payload"] for m in got2) == sorted(m["payload"] for m in got1)

    # now commit → backlog acked → no redelivery
    r1.commit(end)
    assert drain(EMQXStreamReader(None, opts)) == []


def test_restart_mid_backlog_exactly_once(spark, tmp_path):
    """Replayable-offset source + checkpointed micro-batches = exactly-once
    counts across a restart that lands mid-backlog (admission control
    splits the backlog into several batches; the kill hits between them).
    Stronger than the broker path's at-least-once — the spool IS a
    seekable log, like Kafka."""
    spool = _spool(tmp_path)
    pub = SpoolPublisher(spool)
    N = 4000
    for i in range(N):
        pub.publish("t/1", f"w{i % 7}".encode(), qos=1)
    pub.flush()

    from flink_emqx_connector_spark.streaming import start_wordcount_stream

    name = f"eo_{uuid.uuid4().hex[:8]}"
    opts = {
        "transport": "spool",
        "spool_dir": spool,
        "partitions": "2",
        "qos": "1",
        "max_records_per_batch": "250",  # 500/batch → ~8 batches
    }
    ckpt = str(tmp_path / "ckpt_eo")
    q = start_wordcount_stream(
        spark, opts, query_name=name, checkpoint_dir=ckpt, trigger_ms=50
    )
    try:
        # wait until part of the backlog is consumed, then kill (usually
        # mid-backlog; if the machine races through all batches first the
        # restart still must not double-count)
        assert _wait(
            lambda: (
                lambda s: s is not None and 0 < s <= N
            )(spark.sql(f"SELECT sum(cnt) AS s FROM {name}").head()["s"]),
            timeout=60,
        )
    finally:
        q.stop()

    name2 = f"eo2_{uuid.uuid4().hex[:8]}"
    q2 = start_wordcount_stream(
        spark, opts, query_name=name2, checkpoint_dir=ckpt, trigger_ms=50
    )
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT sum(cnt) AS s FROM {name2}").head()["s"] == N,
            timeout=60,
        ), spark.sql(f"SELECT sum(cnt) AS s FROM {name2}").head()
        rows = {r.word: r.cnt for r in spark.sql(f"SELECT * FROM {name2}").collect()}
        # exact per-key counts — no loss, no duplicates
        want = {f"w{k}": N // 7 + (1 if k < N % 7 else 0) for k in range(7)}
        assert rows == want, rows
    finally:
        q2.stop()


def test_concurrent_publishers_all_delivered(tmp_path):
    """Two racing publishers (e.g. parallel sink tasks) sealing one
    segment per message: every message is delivered, under its own seq —
    seqs are assigned at seal time under the spool's lock, the way a
    broker serializes racing publishers."""
    import threading

    spool = _spool(tmp_path)

    def publish_every_other(first):
        pub = SpoolPublisher(spool)
        for i in range(first, 20, 2):
            pub.publish("t/1", f"m{i}".encode(), qos=1)
            pub.flush()

    threads = [
        threading.Thread(target=publish_every_other, args=(k,)) for k in (0, 1)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(30)
    assert not any(th.is_alive() for th in threads)
    assert SpoolTransport(spool).read_range_columns(0, 20, 0, 1)["seq"] == list(
        range(20)
    )

    opts = {"transport": "spool", "spool_dir": spool, "partitions": "2"}
    r = EMQXStreamReader(None, opts)
    payloads = []
    for p in r.partitions(r.initialOffset(), r.latestOffset()):
        for batch in r.read(p):
            payloads.extend(bytes(row["payload"]) for row in batch.to_pylist())
    assert sorted(payloads) == sorted(f"m{i}".encode() for i in range(20))


def test_backlog_admission_control(tmp_path):
    """A deep backlog is consumed in bounded micro-batches
    (max_records_per_batch × partitions per trigger), not one giant batch —
    the maxOffsetsPerTrigger analogue."""
    spool = _spool(tmp_path)
    pub = SpoolPublisher(spool)
    for i in range(5000):
        pub.publish("t/1", str(i).encode(), qos=1)
    pub.flush()

    r = EMQXStreamReader(
        None,
        {
            "transport": "spool",
            "spool_dir": spool,
            "partitions": "2",
            "max_records_per_batch": "1000",
        },
    )
    ends = [r.latestOffset()["seq"] for _ in range(4)]
    assert ends == [2000, 4000, 5000, 5000], ends

    # a restarted reader with everything committed plans from the frontier
    r.commit({"seq": 5000})
    r2 = EMQXStreamReader(
        None,
        {
            "transport": "spool",
            "spool_dir": spool,
            "partitions": "2",
            "max_records_per_batch": "1000",
        },
    )
    assert r2.latestOffset()["seq"] == 5000


def test_broker_offline_at_start(spark, tmp_path):
    """Query starts with no broker (spool dir absent), survives, and
    delivers all 10 messages once the broker appears (reference :303-364)."""
    spool = _spool(tmp_path)  # NOT created yet
    name = f"wc_{uuid.uuid4().hex[:8]}"
    q = _start_query(spark, spool, tmp_path, name)
    try:
        time.sleep(1.0)  # a few empty micro-batches
        assert q.isActive
        pub = SpoolPublisher(spool)  # broker comes online
        for i in range(10):
            pub.publish("t/1", str(i).encode(), qos=1)
        pub.flush()
        assert _wait(
            lambda: spark.sql(f"SELECT sum(cnt) AS s FROM {name}").head()["s"] == 10
        )
    finally:
        q.stop()


def test_envelope_schema(spark, tmp_path):
    """The source yields the canonical envelope (FIXTURES.md §1) including
    MQTT5 user-properties and binary payload."""
    spool = _spool(tmp_path)
    pub = SpoolPublisher(spool)
    pub.publish(
        "t/x/y", b"\x00\x01hello", qos=2, properties={"k1": "v1", "k2": "v2"}
    )
    pub.close()
    from flink_emqx_connector_spark.sources import register_emqx_source

    register_emqx_source(spark)
    name = f"env_{uuid.uuid4().hex[:8]}"
    df = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool)
        .option("partitions", "1")
        .load()
    )
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        assert _wait(lambda: spark.sql(f"SELECT count(*) c FROM {name}").head()["c"] == 1)
        row = spark.sql(f"SELECT * FROM {name}").head()
        assert row.topic == "t/x/y"
        assert row.qos == 2
        assert row.retained is False
        assert dict(row.properties) == {"k1": "v1", "k2": "v2"}
        assert bytes(row.payload) == b"\x00\x01hello"
        assert row.timestamp is not None
    finally:
        q.stop()


def test_qos_validation():
    """QoS outside 0..2 rejected at construction (EMQXSource.java:47)."""
    with pytest.raises(ValueError, match="QoS"):
        EMQXStreamReader(None, {"transport": "spool", "spool_dir": "/tmp/x", "qos": "3"})


def test_reader_options_reach_bridge(tmp_path):
    """The default transport is the bridge: the reader starts a
    driver-side MQTT → spool bridge (member clientid ``{clientid}-bridge-0``)
    and stops it with the query. Only ``bridge`` and ``spool`` exist, and
    ``properties_mode`` picks the envelope."""
    from flink_emqx_connector_spark.schema import (
        EMQX_MESSAGE_SCHEMA,
        EMQX_MESSAGE_SCHEMA_ORDERED_PROPS,
    )
    from flink_emqx_connector_spark.sources.emqx import _BRIDGES, EMQXDataSource
    from flink_emqx_connector_spark.sources.mqtt_wire import EmbeddedBroker

    spool = str(tmp_path / "spool")
    broker = EmbeddedBroker().start()
    try:
        r = EMQXStreamReader(
            None,
            {"spool_dir": spool, "port": str(broker.port), "clientid": "opt",
             "properties_mode": "list"},
        )
        assert (r.transport_kind, r.props_mode) == ("bridge", "list")
        assert _wait(lambda: broker.sessions.get("opt-bridge-0")
                     and broker.sessions["opt-bridge-0"].subs)
        r.stop()
        assert r._bridge_key not in _BRIDGES
    finally:
        broker.stop()

    with pytest.raises(ValueError, match="unknown transport: paho"):
        EMQXStreamReader(None, {"transport": "paho", "spool_dir": spool})
    with pytest.raises(ValueError, match="requires spool_dir"):
        EMQXStreamReader(None, {})
    with pytest.raises(ValueError, match="properties_mode"):
        EMQXStreamReader(
            None,
            {"transport": "spool", "spool_dir": spool, "properties_mode": "bogus"},
        )
    assert EMQXDataSource(options={"properties_mode": "list"}).schema() == (
        EMQX_MESSAGE_SCHEMA_ORDERED_PROPS
    )
    assert EMQXDataSource(options={}).schema() == EMQX_MESSAGE_SCHEMA
