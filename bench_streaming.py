"""Sustained streaming-ingestion bench: the MQTT path, leg by leg.

Measures the two legs of the streaming pipeline separately, because they
have wildly different ceilings and only one of them ships to production
unchanged:

1. **spool → Spark ingestion** (the scale-relevant leg): SpoolPublisher
   pre-writes N messages, then a Structured Streaming query on the
   ``emqx`` source (transport=spool) counts them through a real
   micro-batch pipeline. This is the leg that runs on the cluster at
   100 TB — in production the spool frontier is fed by real EMQX
   (Erlang, millions of msg/s), not by this process.
2. **full MQTT path** (publisher → embedded broker → bridge → spool),
   sustained for ``--seconds`` (default 60): the embedded broker is a
   correctness vehicle — a spec-faithful MQTT 5 double living in the
   same CPython process as the publishers and the bridge, so the
   per-message packet path is GIL-bound. Round-5 wire work (TCP_NODELAY:
   342 → 1,600 msg/s; buffered packet reads: → ~2,300 msg/s full-path,
   ~7,700 broker-only) moved it from pathological to merely honest;
   numbers here are a floor for protocol-correctness testing, NOT a
   claim about EMQX.

Prints ONE JSON line:
{"metric":"streaming_ingest","spark_leg_msgs_per_sec":..., "full_path_msgs_per_sec":...,
 "broker_leg_msgs_per_sec":..., "seconds":..., "n_messages":...}
"""

from __future__ import annotations

import json
import sys
import tempfile
import threading
import time
import uuid

REPO = "/root/repo"
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _spark_ingest_leg(n: int = 1_000_000) -> float:
    """msgs/s for spool → Spark (arrow batches, real micro-batches)."""
    from pyspark.sql import SparkSession

    from flink_emqx_connector_spark.sources import register_emqx_source
    from flink_emqx_connector_spark.sources.transport import SpoolPublisher

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("bench-streaming")
        .getOrCreate()
    )
    register_emqx_source(spark)
    spool = tempfile.mkdtemp(prefix="bench-ingest-")
    pub = SpoolPublisher(spool)
    for i in range(n):
        pub.publish("t/1", b"m%07d" % i, qos=1)
    pub.close()

    name = f"ing_{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    q = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool)
        .option("partitions", "4")
        .option("max_records_per_batch", "100000")
        .load()
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )

    def counted() -> int:
        row = spark.sql(f"SELECT max(count) c FROM {name}").head()
        return int(row["c"] or 0) if row else 0

    # the reader caps each micro-batch at max_records_per_batch ×
    # partitions; run micro-batches until the whole backlog is through
    deadline = time.time() + 300
    got = counted()
    while got < n and time.time() < deadline:
        time.sleep(0.25)
        got = counted()
    el = time.time() - t0
    q.stop()
    assert got == n, (got, n)
    return n / el


def _full_path_leg(seconds: float = 60.0, n_pub: int = 4):
    """(full_path msgs/s, broker msgs/s est) sustained for `seconds`."""
    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge
    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        EmbeddedBroker,
        MQTTv5,
    )
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    broker = EmbeddedBroker().start()
    spool = tempfile.mkdtemp(prefix="bench-mqtt-")
    MqttSpoolBridge(
        "127.0.0.1", broker.port, "t/#", "gbench", "bench", spool, qos=1, members=2
    )
    time.sleep(0.5)

    stop = threading.Event()
    sent = [0] * n_pub

    def pub_thread(i):
        cli = Client(
            CallbackAPIVersion.VERSION2, client_id=f"bpub{i}", protocol=MQTTv5
        )
        cli.connect("127.0.0.1", broker.port)
        cli.loop_start()
        j = 0
        while not stop.is_set():
            info = cli.publish(f"t/{i}", b"m%09d" % j, qos=1)
            j += 1
            sent[i] = j
            # bounded inflight: without periodic PUBACK waits the
            # publishers outrun the bridge and the broker's session
            # queues grow without bound — the bench must measure a
            # steady state, not a memory balloon
            if j % 64 == 0:
                info.wait_for_publish(30)
        cli.disconnect()

    ths = [threading.Thread(target=pub_thread, args=(i,)) for i in range(n_pub)]
    for t in ths:
        t.start()
    st = SpoolTransport(spool)
    time.sleep(5.0)  # warmup: connections up, first segments rolling
    seq0, t0 = st.latest_seq(), time.time()
    time.sleep(seconds)
    seq1, t1 = st.latest_seq(), time.time()
    stop.set()
    for t in ths:
        t.join(timeout=30)
    broker.stop()
    return (seq1 - seq0) / (t1 - t0), seq1 - seq0, t1 - t0


def _latency_leg(
    seconds: float = 20.0, rate_hz: float = 50.0, trigger: str = "100 milliseconds"
) -> dict:
    """Publish→sink latency distribution on the full bridge path.

    The reference's only latency statement is its integration-test bound —
    10 messages visible at the sink within ≤2.5 s of polling
    (``EMQXSourceIntegrationTest.java:166``) under a 500 ms checkpoint
    interval. This leg measures the same end-to-end path for THIS engine:
    publisher → embedded broker → bridge → spool → 100 ms-trigger
    micro-batch → foreachBatch sink, with the publish wall-clock embedded
    in each payload, and reports p50/p99/max over a sustained
    ``rate_hz`` stream (not a 10-message burst). foreachBatch runs on the
    driver in local mode, so the sink timestamp is taken in-process right
    after the batch's rows are collected.
    """
    from pyspark.sql import SparkSession

    from flink_emqx_connector_spark.sources import register_emqx_source
    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge
    from flink_emqx_connector_spark.sources.mqtt_wire import (
        CallbackAPIVersion,
        Client,
        EmbeddedBroker,
        MQTTv5,
    )

    broker = EmbeddedBroker().start()
    spool = tempfile.mkdtemp(prefix="bench-lat-")
    bridge = MqttSpoolBridge(
        "127.0.0.1", broker.port, "t/#", "glat", "lat", spool, qos=1, members=1
    )
    time.sleep(0.5)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("bench-streaming")
        .getOrCreate()
    )
    register_emqx_source(spark)
    samples: list[tuple[float, float]] = []  # (publish_ts, latency)

    def sink(df, _bid):
        rows = df.select("payload").collect()
        now = time.time()
        samples.extend(
            (ts, now - ts) for ts in (float(bytes(r.payload)) for r in rows)
        )

    q = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool)
        .option("partitions", "1")
        .load()
        .writeStream.foreachBatch(sink)
        .trigger(processingTime=trigger)
        .start()
    )

    stop = threading.Event()
    n_sent = [0]

    def pub_thread():
        cli = Client(CallbackAPIVersion.VERSION2, client_id="latpub", protocol=MQTTv5)
        cli.connect("127.0.0.1", broker.port)
        cli.loop_start()
        period = 1.0 / rate_hz
        nxt = time.time()
        while not stop.is_set():
            cli.publish("t/0", b"%.6f" % time.time(), qos=1)
            n_sent[0] += 1
            nxt += period
            delay = nxt - time.time()
            if delay > 0:
                time.sleep(delay)
        cli.disconnect()

    th = threading.Thread(target=pub_thread)
    # let the empty-batch cycle settle (session/python-worker spin-up)
    time.sleep(3.0)
    th.start()
    pub_start = time.time()
    time.sleep(seconds)
    stop.set()
    th.join(timeout=30)
    # drain what's already spooled, then stop
    deadline = time.time() + 15
    while len(samples) < n_sent[0] and time.time() < deadline:
        time.sleep(0.2)
    q.stop()
    # bridge BEFORE broker (mirrors _cell/_full_path_leg): otherwise the
    # member client + watchdog keep reconnect-looping with backoff for
    # the rest of the bench process and the flusher never exits
    bridge.stop()
    broker.stop()
    # The first data-carrying micro-batches pay one-time streaming-plan
    # codegen + Arrow worker startup; the reference's 2.5 s bound is about
    # steady-state delivery, so the first 5 s of published messages are a
    # documented warmup window, excluded from the distribution.
    warm = pub_start + 5.0
    lat = sorted(l for ts, l in samples if ts >= warm)

    def pct(p: float) -> float:
        return lat[min(int(p * len(lat)), len(lat) - 1)] if lat else float("nan")

    return {
        "n": len(lat),
        "n_delivered": len(samples),
        "n_sent": n_sent[0],
        "p50_ms": round(pct(0.50) * 1000, 1),
        "p99_ms": round(pct(0.99) * 1000, 1),
        "max_ms": round(lat[-1] * 1000, 1) if lat else float("nan"),
        "trigger": trigger,
        "rate_hz": rate_hz,
    }


def _cell(seconds: float) -> None:
    """One self-contained broker+bridge+publishers stack (= one host of
    the multi-bridge scale-out posture), run to completion in THIS
    process; prints one JSON line for the parent to aggregate."""
    rate, n, el = _full_path_leg(seconds=seconds)
    print(json.dumps({"cell_msgs_per_sec": round(rate), "n": n, "s": round(el, 1)}))


def _multi_bridge_leg(
    seconds: float, cells: tuple[int, ...] = (1, 2, 4, 8)
) -> dict[int, float]:
    """{n_cells: aggregate msgs/s} for each point of the scale-out curve.

    Each cell is a separate OS process running its own broker + bridge +
    publishers — the 'one bridge per topic-filter on any stable host'
    scale-out unit from sources/bridge.py, executed rather than claimed.
    Near-linear aggregate (≈ n_cells × single) shows the single-process
    ingest ceiling is a per-host ceiling, not a design ceiling. The
    8-cell point (VERDICT r8 item 5) probes whether a shared host
    resource — the spool filesystem above all — bends the curve before
    CPU does (32 cores, ~3 threads/cell: 8 cells ≈ 24 threads is the
    first point where scheduler pressure is plausible).
    """
    import subprocess

    def run_cells(k: int) -> float:
        procs = [
            subprocess.Popen(
                [sys.executable, __file__, "--cell", str(seconds)],
                stdout=subprocess.PIPE, text=True, cwd=REPO,
            )
            for _ in range(k)
        ]
        total = 0.0
        # ONE deadline shared by all cells (they run concurrently): k
        # wedged cells time out together after seconds+120, not k times
        # sequentially.
        deadline = time.time() + seconds + 120
        try:
            for i, p in enumerate(procs):
                out, _ = p.communicate(timeout=max(deadline - time.time(), 1.0))
                lines = (out or "").strip().splitlines()
                if not lines:
                    raise RuntimeError(
                        f"cell {i}/{k} exited rc={p.returncode} with no JSON"
                    )
                total += json.loads(lines[-1])["cell_msgs_per_sec"]
        finally:
            # a wedged cell must not leak its broker+publishers — kill the
            # whole batch before propagating TimeoutExpired
            for p in procs:
                if p.poll() is None:
                    p.kill()
        return total

    return {k: run_cells(k) for k in cells}


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--cell":
        _cell(float(sys.argv[2]) if len(sys.argv) > 2 else 20.0)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--latency":
        secs = float(sys.argv[2]) if len(sys.argv) > 2 else 20.0
        print(json.dumps({"metric": "streaming_latency", **_latency_leg(secs)}))
        return
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 60.0
    spark_leg = _spark_ingest_leg()
    latency = _latency_leg(seconds=min(seconds, 20.0))
    full_path, n_msgs, el = _full_path_leg(seconds=seconds)
    # scale-out probe at a shorter window: the numbers that matter are the
    # RATIOS aggregate/single, which stabilize quickly
    curve = _multi_bridge_leg(seconds=min(seconds, 20.0))
    print(
        json.dumps(
            {
                "metric": "streaming_ingest",
                "spark_leg_msgs_per_sec": round(spark_leg),
                "full_path_msgs_per_sec": round(full_path),
                "bridge_cells_msgs_per_sec": {
                    str(k): round(v) for k, v in curve.items()
                },
                # legacy keys for cross-round comparison
                "two_bridge_aggregate_msgs_per_sec": round(curve.get(2, 0)),
                "one_bridge_msgs_per_sec": round(curve.get(1, 0)),
                "latency": latency,
                "seconds": round(el, 1),
                "n_messages": n_msgs,
            }
        )
    )


if __name__ == "__main__":
    main()
