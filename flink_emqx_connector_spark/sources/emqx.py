"""EMQX/MQTT Structured Streaming source — the Spark re-expression of the
reference connector (SURVEY.md §2.1 S1-S9, §2.3 ST1-ST9).

Mapping onto the reference:

- ``EMQXSource`` (factory, ``EMQXSource.java:33-105``) → ``EMQXDataSource``
  (a Python ``DataSource``); options replace constructor args, with the
  same qos validation.
- ``EMQXSplitEnumerator`` (one clientid per subtask,
  ``EMQXSplitEnumerator.java:50-55``) → the bridge's N shared-subscription
  members, clientid = ``{base}-bridge-{i}`` (``bridge_members`` option);
  ``partitions()`` splits each micro-batch's spool window N ways.
- ``EMQXSourceReader`` (``EMQXSourceReader.java:34-203``) → the bridge
  (client, ack after the message's segment is sealed) plus a
  per-partition ``read()`` of the spool; the spool's acked frontier
  advances in ``commit(offset)`` — Spark calls it after the micro-batch's
  offset is durably logged, the same point in the protocol as Flink's ``notifyCheckpointComplete`` (ST3).
- Delivery: broker → spool is at-least-once (a bridge crash between
  seal and ack redelivers, as the reference does after a crash, test
  ``EMQXSourceIntegrationTest.java:295-298``); spool → Spark is
  exactly-once through the offset WAL. Pair with ``dropDuplicates`` on a
  message key for effective exactly-once end to end.

Usage::

    from flink_emqx_connector_spark.sources import register_emqx_source
    register_emqx_source(spark)
    df = (spark.readStream.format("emqx")
          .option("host", "broker").option("topic", "sensors/#")
          .option("spool_dir", "/tmp/spool").option("partitions", "3").load())

Transports:

- ``bridge`` (default) — the MQTT path: driver-side shared-subscription
  clients drain the broker into a spool (ack after a durable seal),
  executors read the spool. MQTT 5 acks are connection-scoped, so the
  clients live in the one process that outlives every micro-batch; see
  ``sources/bridge.py``.
- ``spool`` — read a segment-log directory that something else fills
  (a sink, another bridge host, a test). Replayable; exactly-once via the
  offset WAL.

Per-micro-batch cost: ``read()`` runs in a Python worker, but the worker
round trip is no longer what a batch pays for. Most of it was each reused
worker re-reading pyspark.zip before every task, which the
``pyworker`` daemon that ``session.get_spark`` sets removes (see
``flink_emqx_connector_spark/pyworker``). What is left per batch is the
sink's commit worker and Spark's own ``walCommit`` and ``commitOffsets``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schema import EMQX_MESSAGE_SCHEMA, EMQX_MESSAGE_SCHEMA_ORDERED_PROPS
from .transport import SpoolTransport

#: Driver-side bridge registry (transport="bridge"): keyed off the reader,
#: never pickled to executors.
_BRIDGES: dict[str, object] = {}


@dataclass
class EMQXPartition(InputPartition):
    """One split = the ``index``-th of ``num_partitions`` equal seq slices
    of a micro-batch's spool window [start, end) (the reference's split is
    a clientid, ``EMQXSourceSplit.java:7-26``; here the bridge members hold
    them)."""

    index: int
    num_partitions: int
    start: int
    end: int


class EMQXStreamReader(DataSourceStreamReader):
    """Micro-batch reader over the spool.

    Offsets are ``{"seq": n}`` — a real replayable position (the spool is
    the broker's retained un-acked backlog).
    """

    def __init__(self, schema: StructType, options: dict):
        self.options = options
        self.transport_kind = options.get("transport", "bridge").lower()
        if self.transport_kind not in ("bridge", "spool"):
            raise ValueError(f"unknown transport: {self.transport_kind}")
        self.num_partitions = int(options.get("partitions", "1"))
        self.base_clientid = options.get("clientid", "emqx-spark")
        self.qos = int(options.get("qos", "1"))
        if not 0 <= self.qos <= 2:  # EMQXSource.java:47 validation parity
            raise ValueError(f"Invalid QoS: {self.qos}")
        self.max_per_batch = int(options.get("max_records_per_batch", "10000"))
        # "map" (default, MAP<STRING,STRING>, duplicate keys last-win) or
        # "list" (ordered ARRAY<STRUCT<key,value>> — full Mqtt5UserProperties
        # fidelity, EMQXMessage.java:3,9)
        self.props_mode = options.get("properties_mode", "map").lower()
        if self.props_mode not in ("map", "list"):
            raise ValueError(f"unknown properties_mode: {self.props_mode}")
        self.spool_dir = options.get("spool_dir", "")
        if not self.spool_dir:
            raise ValueError(f"{self.transport_kind} transport requires spool_dir")
        self._spool = SpoolTransport(self.spool_dir)
        # Seed batch planning at the acked frontier so a restarted
        # reader ramps from the committed position, not seq 0.
        self._planned = self._spool.frontier()
        self._bridge_key = None
        if self.transport_kind == "bridge":
            # The bridge lives on the DRIVER for the life of the query;
            # executors only ever read the spool. Held in a module
            # registry — reader instances are pickled to executors and
            # threads/sockets must not travel.
            from .bridge import MqttSpoolBridge

            self._bridge_key = f"{self.spool_dir}|{self.base_clientid}"
            if self._bridge_key not in _BRIDGES:
                _BRIDGES[self._bridge_key] = MqttSpoolBridge(
                    options.get("host", "127.0.0.1"),
                    int(options.get("port", "1883")),
                    options.get("topic", "#"),
                    options.get("group", "spark"),
                    self.base_clientid,
                    self.spool_dir,
                    qos=self.qos,
                    members=int(options.get("bridge_members", "1")),
                    # reference hard-codes 60 s (EMQXSourceReader.java:96 TODO)
                    session_expiry=int(options.get("session_expiry", "300")),
                    # §4.12 enhanced authentication: EMQX deployments that
                    # require SCRAM-class auth refuse plain CONNECTs with
                    # CONNACK 0x8C
                    auth_method=options.get("auth_method"),
                    auth_secret=options.get("auth_secret"),
                )

    # ---- driver side ------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def latestOffset(self) -> dict:
        bridge = _BRIDGES.get(self._bridge_key)
        if bridge is not None:
            if bridge.error is not None:
                raise bridge.error  # a seal failed; nothing of it was acked
            refused = bridge.refused()
            if refused:
                raise RuntimeError(
                    "every MQTT bridge member was refused by the broker "
                    f"(CONNACK {', '.join(f'0x{c:02x}' for c in refused)}); "
                    "check the clientid, auth_method and auth_secret options"
                )
        # Admission control (Kafka's maxOffsetsPerTrigger analogue):
        # after a restart with a deep un-acked backlog, cap each
        # micro-batch at max_records_per_batch × partitions instead of
        # swallowing the whole log in one giant batch — bounded batch
        # memory and steady checkpoint cadence at any backlog depth.
        head = self._spool.latest_seq()
        cap = self._planned + self.max_per_batch * self.num_partitions
        self._planned = min(head, max(cap, self._planned))
        return {"seq": self._planned}

    def partitions(self, start: dict, end: dict):
        return [
            EMQXPartition(
                index=i,
                num_partitions=self.num_partitions,
                start=start["seq"],
                end=end["seq"],
            )
            for i in range(self.num_partitions)
        ]

    def commit(self, end: dict) -> None:
        """Micro-batch durably committed → ack everything below it (the
        reference's notifyCheckpointComplete, EMQXSourceReader.java:182-202):
        the frontier advances and fully-acked segments are deleted."""
        self._spool.ack_upto(end["seq"])

    def stop(self) -> None:
        if self._bridge_key is not None:
            bridge = _BRIDGES.pop(self._bridge_key, None)
            if bridge is not None:
                bridge.stop()

    # ---- executor side ----------------------------------------------------

    def read(self, partition: EMQXPartition):
        # Arrow batches, not per-row tuples: the row path pickles one row at
        # a time (~5k rows/s); a RecordBatch crosses the Python→JVM boundary
        # vectorized (~10× source throughput).
        cols = self._spool.read_range_columns(
            partition.start,
            partition.end,
            partition.index,
            partition.num_partitions,
        )
        yield from columns_to_record_batches(
            cols, self.max_per_batch, props_mode=self.props_mode
        )


def _props_arrow_field(props_mode: str):
    import pyarrow as pa

    if props_mode == "list":
        return pa.field(
            "properties_list",
            pa.list_(
                pa.struct([("key", pa.string()), ("value", pa.string())])
            ),
        )
    return pa.field("properties", pa.map_(pa.string(), pa.string()))


def _arrow_schema(props_mode: str = "map"):
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("topic", pa.string()),
            pa.field("qos", pa.int32()),
            pa.field("retained", pa.bool_()),
            _props_arrow_field(props_mode),
            pa.field("payload", pa.binary()),
            pa.field("timestamp", pa.timestamp("us")),
        ]
    )


def _props_arrow_array(pairs_per_row: list, props_mode: str):
    """Ordered (key, value) pair rows → the mode's Arrow array: list mode
    keeps order + duplicates; map mode dedups last-wins (Spark's map
    reader rejects duplicate keys under the default EXCEPTION policy)."""
    import pyarrow as pa

    if props_mode == "list":
        return pa.array(
            [[{"key": k, "value": v} for k, v in row] for row in pairs_per_row],
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.string())])),
        )
    return pa.array(
        [list(dict(row).items()) for row in pairs_per_row],
        pa.map_(pa.string(), pa.string()),
    )


def columns_to_record_batches(
    cols: dict[str, list], chunk: int = 10000, props_mode: str = "map"
):
    """Columnar spool output → pyarrow RecordBatches matching
    EMQX_MESSAGE_SCHEMA (or the ordered-props variant); no per-message
    objects anywhere on this path."""
    import pyarrow as pa

    schema = _arrow_schema(props_mode)
    n = len(cols["topic"])
    for i in range(0, n, chunk):
        sl = slice(i, i + chunk)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(cols["topic"][sl], pa.string()),
                pa.array(cols["qos"][sl], pa.int32()),
                pa.array(cols["retained"][sl], pa.bool_()),
                _props_arrow_array(cols["properties"][sl], props_mode),
                pa.array(cols["payload"][sl], pa.binary()),
                pa.array(cols["timestamp"][sl], pa.timestamp("us")),
            ],
            schema=schema,
        )


class EMQXDataSource(DataSource):
    """``spark.readStream.format("emqx")`` entry point (S1)."""

    @classmethod
    def name(cls) -> str:
        return "emqx"

    def schema(self) -> StructType:
        if self.options.get("properties_mode", "map").lower() == "list":
            return EMQX_MESSAGE_SCHEMA_ORDERED_PROPS
        return EMQX_MESSAGE_SCHEMA

    def streamReader(self, schema: StructType) -> EMQXStreamReader:
        return EMQXStreamReader(schema, dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool):
        """``df.writeStream.format("emqx")`` — rows (topic, payload) are
        published back to the broker/spool (S11 + SURVEY §7 step 6)."""
        from ..sinks.emqx import _stream_writer

        return _stream_writer(dict(self.options), overwrite)


def register_emqx_source(spark) -> None:
    spark.dataSource.register(EMQXDataSource)


__all__ = [
    "EMQXDataSource",
    "EMQXStreamReader",
    "EMQXPartition",
    "register_emqx_source",
]
