"""Standalone bridge runner: one MqttSpoolBridge in its own OS process.

This is the multi-driver scale-out unit from sources/bridge.py's scale
posture ("one bridge per topic-filter on any stable host; the spool
directory is the handoff point") — run N of these on N hosts (or N
processes), each with a disjoint topic filter or its own $share group,
and point one Spark streaming query at the union of the spool dirs.

Usage: python dev/run_bridge.py <host> <port> <topic_filter> <group> \
           <clientid> <spool_dir> [qos] [members]

Runs until SIGTERM/SIGINT; acks follow the fsynced seal of each
message's spool segment (the at-least-once broker→spool contract; Spark's offset WAL upgrades the
spool→query leg to exactly-once).
"""

from __future__ import annotations

import os
import signal
import sys
import threading

# runnable from a checkout without `pip install -e .`
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main(argv: list[str]) -> int:
    host, port, topic, group, clientid, spool_dir = argv[:6]
    qos = int(argv[6]) if len(argv) > 6 else 1
    members = int(argv[7]) if len(argv) > 7 else 1

    from flink_emqx_connector_spark.sources.bridge import MqttSpoolBridge

    bridge = MqttSpoolBridge(
        host, int(port), topic, group=group, clientid=clientid,
        spool_dir=spool_dir, qos=qos, members=members,
    )
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    signal.signal(signal.SIGINT, lambda *_: stop.set())
    print(f"bridge up: {topic} -> {spool_dir}", flush=True)
    stop.wait()
    bridge.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
