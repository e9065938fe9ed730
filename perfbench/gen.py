"""Load generator process: the EMQX stand-in and one publisher connection.

Runs apart from the system under test so that the offered load does not
slow down when the system does. It hosts
``sources.mqtt_wire.EmbeddedBroker`` and one MQTT 5 publisher client, and
takes one JSON command per line on stdin, answering with one JSON line on
stdout:

- ``{"cmd": "wait_sub", "prefix": p, "within": s}``: wait until a connected
  session holds a subscription on a filter naming ``p`` (the bridge is
  ready to receive).
- ``{"cmd": "open", "prefix": p, "rate": r, "seconds": s, "start": i}``:
  open loop. Message ``i`` is due at ``t0 + (i - start) / r`` and carries
  its due time; answers with the count sent and how late the loop ran.
- ``{"cmd": "closed", "prefix": p, "n": n, "inflight": w, "start": i}``:
  closed loop, at most ``w`` unacknowledged publishes; each payload
  carries its actual send time.
- ``{"cmd": "stop"}``: stop the broker and exit.

Payloads are ``{"seq", "k", "v", "ts"}`` JSON; the key and value come from
``--seed``. Every answer carries an order-insensitive hash of the payloads
sent, so the benchmark can check delivered bytes without keeping them.
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_emqx_connector_spark.sources.mqtt_wire import (  # noqa: E402
    CallbackAPIVersion,
    Client,
    EmbeddedBroker,
    MQTTv5,
)

N_KEYS = 64
MASK64 = (1 << 64) - 1


def payload_hash(payload: bytes) -> int:
    return int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")


class Generator:
    def __init__(self, seed: int):
        self.seed = seed
        self.broker = EmbeddedBroker().start()
        self.client = Client(
            CallbackAPIVersion.VERSION2, client_id="perfbench-gen", protocol=MQTTv5
        )
        self.client.connect("127.0.0.1", self.broker.port)
        self.client.loop_start()

    def _message(self, prefix: str, seq: int, ts: float) -> tuple[str, bytes]:
        rng = random.Random(self.seed * 1_000_003 + seq)
        k = rng.randrange(N_KEYS)
        payload = b'{"seq":%d,"k":"d%02d","v":%d,"ts":%.6f}' % (
            seq, k, rng.randrange(1 << 30), ts
        )
        return f"{prefix}/d{k:02d}", payload

    def wait_sub(self, prefix: str, within: float) -> dict:
        # the stand-in broker has no public readiness probe, so read its
        # session table: messages published before the bridge subscribes
        # would be dropped, not queued
        deadline = time.monotonic() + within
        while time.monotonic() < deadline:
            with self.broker._lock:
                ready = any(
                    s.conn is not None and any(prefix in f for f in s.subs)
                    for s in self.broker.sessions.values()
                )
            if ready:
                return {"ok": True}
            time.sleep(0.01)
        return {"ok": False}

    def open_loop(self, prefix: str, rate: float, seconds: float, start: int) -> dict:
        n = int(rate * seconds)
        t0 = time.time() + 0.05
        max_lag = 0.0
        acc = 0
        for i in range(n):
            due = t0 + i / rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            topic, payload = self._message(prefix, start + i, due)
            self.client.publish(topic, payload, qos=1)
            max_lag = max(max_lag, time.time() - due)
            acc = (acc + payload_hash(payload)) & MASK64
        return {"sent": n, "t0": t0, "max_lag_ms": max_lag * 1000.0, "hash": acc}

    def closed_loop(self, prefix: str, n: int, inflight: int, start: int) -> dict:
        window: collections.deque = collections.deque()
        acc = 0
        t0 = time.time()
        for i in range(n):
            if len(window) >= inflight:
                window.popleft().wait_for_publish(30)
            topic, payload = self._message(prefix, start + i, time.time())
            window.append(self.client.publish(topic, payload, qos=1))
            acc = (acc + payload_hash(payload)) & MASK64
        while window:
            window.popleft().wait_for_publish(30)
        return {"sent": n, "secs": time.time() - t0, "hash": acc}

    def stop(self) -> None:
        self.client.disconnect()
        self.broker.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    gen = Generator(args.seed)
    print(json.dumps({"port": gen.broker.port}), flush=True)
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd.pop("cmd")
        if op == "stop":
            gen.stop()
            print(json.dumps({"stopped": True}), flush=True)
            return 0
        if op == "wait_sub":
            out = gen.wait_sub(**cmd)
        elif op == "open":
            out = gen.open_loop(**cmd)
        elif op == "closed":
            out = gen.closed_loop(**cmd)
        else:
            raise SystemExit(f"unknown command {op!r}")
        print(json.dumps(out), flush=True)
    gen.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
