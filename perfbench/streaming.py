"""The streaming workload, and the layer probe every traced run ends with.

The workload runs two phases in one session.

``mqtt_live`` offers an open loop at a fixed rate: generator -> broker ->
bridge (the ``emqx`` source with ``transport=bridge``) -> spool ->
micro-batch -> ``foreachBatch`` sink. Batches stay small, so it stresses the
fixed cost of each micro-batch (planning, offset log, spool scans, commit
and ack, the Python-worker read) and the bridge's per-message path. It
gives the latency metrics.

``spool_roundtrip`` then ingests a backlog closed-loop through the bridge
into a spool (phase A) and drains it with an admission cap through
micro-batches that decode each payload, re-topic it and write it with the
``emqx`` sink into an output spool (phase B). The batches are larger than
the live ones, and the live-latency path is bypassed. It gives the
throughput metric.
"""

from __future__ import annotations

import ast
import datetime as dt
import glob
import json
import os
import shutil
import statistics
import time

from gen import MASK64, payload_hash
from tracing import CallTimer, percentile, read_event_log, spark_metrics

#: Offered rate of ``mqtt_live`` in messages per second, fixed so runs stay
#: comparable. On a 4-core host the full path falls behind at 1.5k msg/s;
#: at this rate a micro-batch carries ~100 messages and the backlog stays
#: flat, so latency shows the fixed per-batch cost.
LIVE_RATE = 250.0
LIVE_TRIGGER = "200 milliseconds"
#: Open-loop traffic each ``mqtt_live`` set-up sends and waits for.
LIVE_WARM_S = 0.5
#: A run whose generator ran later than this is invalid, not slow.
MAX_LAG_MS = 250.0

#: The reader's admission cap per partition, and the micro-batches the
#: ``spool_roundtrip`` backlog and the traced run's probe backlog drain in
#: (one partition per core): the roundtrip's drain rate is taken over three
#: batch intervals. On 4 cores the backlogs are 4,800 and 2,400 messages.
MAX_PER_BATCH = 300
ROUND_BATCHES = 4
PROBE_BATCHES = 2
#: Closed-loop window of unacknowledged publishes.
INFLIGHT = 64

PAYLOAD_SCHEMA = "seq LONG, k STRING, v LONG, ts DOUBLE"


def _parse_ts(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _wait(pred, within: float, what: str, step: float = 0.02) -> None:
    deadline = time.monotonic() + within
    while not pred():
        if time.monotonic() > deadline:
            raise TimeoutError(f"timed out after {within:.0f} s waiting for {what}")
        time.sleep(step)


def data_batches(progress: list[dict]) -> list[dict]:
    """Micro-batches that carried rows, in batch order."""
    return sorted(
        (p for p in progress if p.get("numInputRows", 0) > 0),
        key=lambda p: p["batchId"],
    )


def microbatch_metrics(batches: list[dict]) -> dict[str, float]:
    """Trigger percentiles and per-phase means of ``recentProgress``
    durations. Spark reports whole milliseconds; means of the phases keep
    their fractions and add up to the mean trigger time."""

    def mean(key: str) -> float:
        return statistics.fmean(b["durationMs"].get(key, 0) for b in batches)

    trig = [b["durationMs"]["triggerExecution"] for b in batches]
    return {
        "microbatch.batches": len(batches),
        "microbatch.trigger_ms.p50": statistics.median(trig),
        "microbatch.trigger_ms.p99": percentile(trig, 99),
        "microbatch.addBatch_ms.mean": mean("addBatch"),
        "microbatch.walCommit_ms.mean": mean("walCommit"),
        "microbatch.commitOffsets_ms.mean": mean("commitOffsets"),
        "microbatch.latestOffset_ms.mean": mean("latestOffset"),
        "microbatch.queryPlanning_ms.mean": mean("queryPlanning"),
        "plans.build_ms.mean": mean("queryPlanning"),
        "plans.exec_ms.mean": mean("addBatch"),
    }


def trace_batches(tracer, batches: list[dict], trace_prefix: str) -> None:
    for b in batches:
        start = _parse_ts(b["timestamp"])
        tracer.add(
            "microbatch", start, start + b["durationMs"]["triggerExecution"] / 1000,
            trace=f"{trace_prefix}{b['batchId']}", rows=b["numInputRows"],
            durations=b["durationMs"],
        )


def read_spool(spool_dir: str) -> dict[str, list]:
    """Every record of a spool, read back through the consumer API (seqs
    from concurrent sink tasks collide, so the head seq is no count)."""
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    return SpoolTransport(spool_dir).read_range_columns(0, 1 << 62, 0, 1)


class Ledger:
    """Sent versus delivered messages: loss, duplicates and payload hashes."""

    def __init__(self):
        self.expected: dict[int, int] = {}  # first seq -> count, per batch of sends
        self.hashes: dict[int, int] = {}
        self.seen: dict[int, int] = {}
        self.seen_hash: dict[int, int] = {}
        self.wrong = 0

    def sent(self, start: int, n: int, hash_sum: int) -> None:
        self.expected[start] = n
        self.hashes[start] = hash_sum

    def delivered(self, payload: bytes) -> dict:
        rec = json.loads(payload)
        seq = rec["seq"]
        if seq not in self.seen:
            self.seen_hash[seq] = payload_hash(payload)
        self.seen[seq] = self.seen.get(seq, 0) + 1
        return rec

    def count(self, start: int, n: int) -> int:
        return sum(1 for s in range(start, start + n) if s in self.seen)

    def failures(self) -> int:
        """Messages lost, or whose send batch's delivered bytes differ."""
        failed = self.wrong
        for start, n in self.expected.items():
            lost = n - self.count(start, n)
            acc = sum(self.seen_hash.get(s, 0) for s in range(start, start + n))
            if lost:
                failed += lost
            elif acc & MASK64 != self.hashes[start]:
                failed += n
        return failed

    def attempted(self) -> int:
        return sum(self.expected.values())

    def dup_ratio(self) -> float:
        distinct = len(self.seen)
        return (sum(self.seen.values()) - distinct) / max(distinct, 1)


def ingest(ctx, gen, ledger: Ledger, prefix: str, start: int, n: int, spool: str):
    """Closed-loop publish of ``n`` messages through a bridge hosted in this
    process into ``spool``; returns (msgs/s until all are appended, bridge
    respawns). The bridge is stopped before the broker ever is."""
    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge
    from flink_emqx_connector_spark.sources.transport import SpoolTransport

    bridge = MqttSpoolBridge(
        "127.0.0.1", gen.port, f"{prefix}/#", "perfbench", prefix, spool, qos=1
    )
    try:
        if not gen.call("wait_sub", prefix=prefix, within=60)["ok"]:
            raise RuntimeError("the bridge never subscribed")
        st = SpoolTransport(spool)
        with ctx.tracer.span("ingest", trace=prefix, n=n):
            t0 = time.perf_counter()
            gen.send("closed", prefix=prefix, n=n, inflight=INFLIGHT, start=start)
            _wait(lambda: st.latest_seq() >= n, 120, "ingest", step=0.005)
            secs = time.perf_counter() - t0
        out = gen.recv(60)
        ledger.sent(start, out["sent"], out["hash"])
    finally:
        bridge.stop()
    return n / secs, bridge.respawns


def _end_seq(progress: dict) -> int:
    """The spool seq a micro-batch read up to (its source's end offset,
    which Spark reports as the reader's offset dict in Python repr)."""
    end = progress["sources"][0]["endOffset"]
    if not end:
        return 0
    return ast.literal_eval(end)["seq"] if isinstance(end, str) else end["seq"]


def drain(ctx, in_dir: str, out_dir: str, n: int, partitions: int) -> list[dict]:
    """Drain an ``n``-message spool into an output spool with the ``emqx``
    sink; returns the query's progress."""
    from pyspark.sql import functions as F

    from flink_emqx_connector_spark.functions.decode import decode_json

    src = (
        ctx.spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", in_dir)
        .option("partitions", str(partitions))
        .option("max_records_per_batch", str(MAX_PER_BATCH))
        .load()
    )
    key = decode_json("payload", PAYLOAD_SCHEMA).getField("k")
    q = (
        src.select(F.concat(F.lit("out/"), key).alias("topic"), "payload")
        .writeStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", out_dir)
        .option("checkpointLocation", ctx.fresh_dir("drain-ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )

    def done() -> bool:
        if q.exception() is not None:
            raise RuntimeError(f"drain query failed: {q.exception()}")
        return any(_end_seq(p) >= n for p in q.recentProgress)

    try:
        with ctx.tracer.span(
            "drain", trace=os.path.basename(in_dir), n=n, partitions=partitions
        ):
            _wait(done, 120, "drain", step=0.05)
    finally:
        progress = list(q.recentProgress)
        q.stop()
    return progress


def drain_rate(batches: list[dict]) -> float:
    """Rows per second after the first data batch, from batch end times."""
    if len(batches) < 2:
        raise RuntimeError(f"drain ran in {len(batches)} batch(es); need two")
    ends = [
        _parse_ts(b["timestamp"]) + b["durationMs"]["triggerExecution"] / 1000
        for b in batches
    ]
    return sum(b["numInputRows"] for b in batches[1:]) / (ends[-1] - ends[0])


def check_output(ledger: Ledger, out_dir: str) -> list[float]:
    """Record every output row in the ledger; returns per-row latency (ms)
    from the payload's send time to the row's write into the output."""
    cols = read_spool(out_dir)
    lat = []
    for topic, payload, ts in zip(cols["topic"], cols["payload"], cols["timestamp"]):
        rec = ledger.delivered(payload)
        if topic != f"out/{rec['k']}":
            ledger.wrong += 1
        lat.append(ts / 1000 - rec["ts"] * 1000)
    return lat


# --------------------------------------------------------------------------
# The streaming workload
# --------------------------------------------------------------------------


def roundtrip(ctx, gen, ledger: Ledger, tag: str, start: int, n: int) -> dict:
    """Phase A: closed-loop ingest of ``n`` messages through the bridge.
    Phase B: drain the backlog with the ``emqx`` sink, then check every
    output row."""
    in_dir, out_dir = ctx.fresh_dir("rt-in"), ctx.fresh_dir("rt-out")
    ingest_rate, respawns = ingest(ctx, gen, ledger, tag, start, n, in_dir)
    batches = data_batches(drain(ctx, in_dir, out_dir, n, ctx.nproc))
    trace_batches(ctx.tracer, batches, f"{tag}-batch")
    return {
        "ingest_msgs_per_s": ingest_rate,
        "drain_msgs_per_s": drain_rate(batches),
        "latency_ms": check_output(ledger, out_dir),
        "batches": batches,
        "respawns": respawns,
    }


def streaming(ctx) -> dict:
    """``mqtt_live`` for ``ctx.seconds`` in two windows, with one
    ``spool_roundtrip`` round between them. Latency comes from the live
    windows, throughput from the drain."""
    gen = ctx.start_generator()
    ledger = Ledger()
    arrivals: dict[int, tuple[float, float]] = {}  # seq -> (due, first arrival)
    next_seq = [0]

    def sink(df, _batch_id):
        rows = df.select("payload").collect()
        now = time.time()
        for r in rows:
            rec = ledger.delivered(bytes(r.payload))
            arrivals.setdefault(rec["seq"], (rec["ts"], now))

    def send(prefix: str, seconds: float) -> tuple[int, dict]:
        start = next_seq[0]
        out = gen.call(
            "open", timeout=seconds + 60, prefix=prefix, rate=LIVE_RATE,
            seconds=seconds, start=start,
        )
        next_seq[0] += out["sent"]
        ledger.sent(start, out["sent"], out["hash"])
        return start, out

    def setup(k: int):
        prefix = f"live{k}"
        q = (
            ctx.spark.readStream.format("emqx")
            .option("transport", "bridge")
            .option("host", "127.0.0.1")
            .option("port", str(gen.port))
            .option("topic", f"{prefix}/#")
            .option("group", "perfbench")
            .option("clientid", prefix)
            .option("spool_dir", ctx.fresh_dir("live-spool"))
            .option("partitions", "1")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ctx.fresh_dir("live-ckpt"))
            .trigger(processingTime=LIVE_TRIGGER)
            .start()
        )
        if not gen.call("wait_sub", prefix=prefix, within=60)["ok"]:
            raise RuntimeError("the bridge never subscribed")
        start, out = send(prefix, LIVE_WARM_S)
        _wait(lambda: ledger.count(start, out["sent"]) == out["sent"], 60,
              "warm-up delivery")
        return q, prefix

    setup_s, setup_times, (q, prefix) = ctx.setups(setup, lambda st: st[0].stop())

    def live_window(seconds: float) -> dict:
        """Open-loop traffic for ``seconds``; its latencies (ms) and how
        far behind the system fell."""
        with ctx.tracer.span("live", trace=prefix):
            start, out = send(prefix, seconds)
            n = out["sent"]
            try:
                _wait(lambda: ledger.count(start, n) == n, 30, "delivery", step=0.05)
            except TimeoutError:
                pass  # what never arrived counts as lost
        t0 = out["t0"]
        window = [arrivals[s] for s in range(start, start + n) if s in arrivals]
        if not window:
            raise RuntimeError("no message of a live window arrived")

        lost_dues = [
            t0 + (s - start) / LIVE_RATE
            for s in range(start, start + n) if s not in arrivals
        ]

        def backlog(lo: float, hi: float) -> float:
            """Mean count of messages due and not yet delivered, over
            [lo, hi); it swings with each batch, so it is averaged."""
            grid = [lo + (hi - lo) * i / 50 for i in range(50)]
            return statistics.fmean(
                sum(1 for due, arr in window if due <= t < arr)
                + sum(1 for due in lost_dues if due <= t)
                for t in grid
            )

        # the first third fills the pipeline from empty; compare the
        # middle third with the last
        third = seconds / 3
        return {
            "t0": t0,
            "latency_ms": [(arr - due) * 1000 for due, arr in window],
            "max_lag_ms": out["max_lag_ms"],
            "backlog_growth": (
                backlog(t0 + 2 * third, t0 + seconds)
                - backlog(t0 + third, t0 + 2 * third)
            ),
            "delivered_msgs_per_s": len(window) / (max(a for _d, a in window) - t0),
        }

    # the live time is split in two windows around the roundtrip, so the
    # latency samples span more of the run than one window would
    live = [live_window(ctx.seconds / 2)]
    round_n = ROUND_BATCHES * ctx.nproc * MAX_PER_BATCH
    with ctx.tracer.span("roundtrip", trace="roundtrip"):
        rt = roundtrip(ctx, gen, ledger, "rt", next_seq[0], round_n)
        next_seq[0] += round_n
    live.append(live_window(ctx.seconds / 2))
    progress = list(q.recentProgress)
    q.stop()
    t0, t2 = live[0]["t0"], time.time()
    peak_rss = ctx.rss.stop()
    lat_ms = [x for w in live for x in w["latency_ms"]]
    max_lag = max(w["max_lag_ms"] for w in live)
    growth = max(w["backlog_growth"] for w in live)
    # invalid, not slow: the generator ran late, or the backlog grew by
    # more than a quarter second of traffic between a window's last thirds
    valid = max_lag <= MAX_LAG_MS and growth <= LIVE_RATE / 4
    # the live query carries data only in the live windows
    live_batches = [
        b for b in data_batches(progress) if _parse_ts(b["timestamp"]) >= t0
    ]
    trace_batches(ctx.tracer, live_batches, "live-batch")

    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat_ms),
        "latency_tail_ms": percentile(lat_ms, 99),
        "throughput_per_s": rt["drain_msgs_per_s"],
        "peak_rss_mb": peak_rss,
    }
    layers = {
        "setup.first_s": setup_times[0],
        **microbatch_metrics(live_batches),
    }
    detail = {
        "setup_times_s": setup_times,
        "live": {
            "offered_msgs_per_s": LIVE_RATE,
            "trigger": LIVE_TRIGGER,
            "latency_samples": len(lat_ms),
            "delivered_msgs_per_s": [w["delivered_msgs_per_s"] for w in live],
            "gen.max_lag_ms": max_lag,
            "backlog_growth_msgs": growth,
        },
        "roundtrip": {
            "msgs": round_n,
            "max_records_per_batch": MAX_PER_BATCH,
            "partitions": ctx.nproc,
            "ingest_msgs_per_s": rt["ingest_msgs_per_s"],
            "drain_msgs_per_s": rt["drain_msgs_per_s"],
            "latency_p50_ms": statistics.median(rt["latency_ms"]),
            "latency_p99_ms": percentile(rt["latency_ms"], 99),
            **{
                f"drain.{k}": v
                for k, v in microbatch_metrics(rt["batches"]).items()
            },
        },
    }
    if ctx.traced:
        probe = layer_probe(ctx, gen, ledger, next_seq[0])
        probe.pop("batches")
        layers.update(spark_metrics(probe.pop("events"), t0, t2))
        layers.update(probe)
    layers["check.dup_ratio"] = ledger.dup_ratio()
    layers["check.failed_ratio"] = ledger.failures() / ledger.attempted()
    return {
        "e2e": e2e, "layers": layers, "detail": detail, "valid": valid,
        "attempted": ledger.attempted(), "failed": ledger.failures(),
    }


# --------------------------------------------------------------------------
# Layer probe of the traced run
# --------------------------------------------------------------------------


def _spool_bytes(spool_dir: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(spool_dir, "*seg"))
    )


def layer_probe(ctx, gen, ledger: Ledger, start: int) -> dict:
    """Per-layer figures from direct, timed calls into each streaming layer
    over one seeded backlog of ``PROBE_BATCHES`` micro-batches, so that
    every workload's traced run reports them: the bridge's append path, the
    spool's public methods, Arrow conversion, a drain on ``nproc`` cores and
    on one core, and the sink. Ends with the workload's session stopped; returns the
    event log of the run under ``"events"`` and the probe drain's
    micro-batches under ``"batches"``."""
    from flink_emqx_connector_spark.sinks.emqx import publish_dataframe
    from flink_emqx_connector_spark.sources.emqx import columns_to_record_batches
    from flink_emqx_connector_spark.sources.transport import (
        SpoolPublisher,
        SpoolTransport,
    )
    from pyspark.sql import functions as F

    probe_n = PROBE_BATCHES * ctx.nproc * MAX_PER_BATCH
    out: dict[str, float] = {}
    in_dir = ctx.fresh_dir("probe-in")
    appends = CallTimer(SpoolPublisher, "publish")
    try:
        rate, respawns = ingest(ctx, gen, ledger, "probe", start, probe_n, in_dir)
    finally:
        appends.close()
    d = appends.durations
    out.update({
        "bridge.ingest_msgs_per_s": rate,
        "bridge.append_calls": len(d),
        "bridge.append_busy_s": sum(d),
        "bridge.append_p99_us": percentile(d, 99) * 1e6,
        "bridge.respawns": respawns,
    })
    direct_dir, one_core_dir = ctx.fresh_dir("probe-direct"), ctx.fresh_dir("probe-1core")
    shutil.copytree(in_dir, direct_dir, dirs_exist_ok=True)
    shutil.copytree(in_dir, one_core_dir, dirs_exist_ok=True)

    st = SpoolTransport(direct_dir)
    with ctx.tracer.span("transport.latest_seq", trace="probe"):
        lat = []
        for _ in range(20):
            t0 = time.perf_counter()
            head = st.latest_seq()
            lat.append(time.perf_counter() - t0)
    parts = ctx.nproc
    with ctx.tracer.span("transport.read_range_columns", trace="probe"):
        t0 = time.perf_counter()
        cols = [st.read_range_columns(0, head, p, parts) for p in range(parts)]
        read_s = time.perf_counter() - t0
    with ctx.tracer.span("emqx.columns_to_record_batches", trace="probe"):
        t0 = time.perf_counter()
        rows = sum(
            b.num_rows for c in cols for b in columns_to_record_batches(c, MAX_PER_BATCH)
        )
        arrow_s = time.perf_counter() - t0
    if rows != head:
        ledger.wrong += abs(head - rows)
    size = _spool_bytes(direct_dir)
    with ctx.tracer.span("transport.ack_upto", trace="probe"):
        acks, gc = [], 0
        for i in range(1, 9):
            t0 = time.perf_counter()
            gc += st.ack_upto(head * i // 8)
            acks.append(time.perf_counter() - t0)
    out.update({
        "transport.latest_seq_ms.p50": statistics.median(lat) * 1000,
        "transport.read_msgs_per_s": head / read_s,
        "transport.arrow_msgs_per_s": rows / arrow_s,
        "transport.bytes_per_msg": size / head,
        "transport.ack_upto_ms.p50": statistics.median(acks) * 1000,
        "transport.segments_gc": gc,
    })

    drained_dir = ctx.fresh_dir("probe-out")
    batches = data_batches(drain(ctx, in_dir, drained_dir, probe_n, ctx.nproc))
    check_output(ledger, drained_dir)
    out["drain.msgs_per_s"] = drain_rate(batches)
    out["batches"] = batches

    sink_dir = ctx.fresh_dir("probe-sink")
    frame = ctx.spark.range(probe_n).select(
        F.concat(F.lit("out/d"), (F.col("id") % 64).cast("string")).alias("topic"),
        F.col("id").cast("string").cast("binary").alias("payload"),
    ).localCheckpoint()
    with ctx.tracer.span("sink.publish_dataframe", trace="probe"):
        t0 = time.perf_counter()
        publish_dataframe(frame, "spool", sink_dir)
        sink_s = time.perf_counter() - t0
    written = len(read_spool(sink_dir)["payload"])
    ledger.wrong += abs(written - probe_n)
    out.update({"sink.rows_written": written, "sink.write_msgs_per_s": written / sink_s})

    # single-threaded baseline: the same backlog on one core, one partition
    ctx.session(cpus=1)
    one_core_out = ctx.fresh_dir("probe-1core-out")
    batches = data_batches(drain(ctx, one_core_dir, one_core_out, probe_n, 1))
    out["drain.1core_msgs_per_s"] = drain_rate(batches)
    ledger.wrong += abs(len(read_spool(one_core_out)["payload"]) - probe_n)
    ctx.spark.stop()
    ctx.spark = None
    out["events"] = read_event_log(ctx.event_log_dir)
    return out
