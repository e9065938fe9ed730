"""The segment-log spool: the durable handoff between MQTT ingest and the
EMQX source.

A spool is a directory of sealed segments, ``{first:012d}-{last:012d}.seg``
with one NDJSON line per message, plus a ``FRONTIER`` file. A segment
appears once, complete, under its final name, and never changes after.

- ``SpoolPublisher`` buffers messages and seals the buffer as one segment
  on ``flush()``. The driver-side bridge (``sources/bridge.py``) is its
  MQTT-facing writer; the sink's ``transport=spool`` leg is another.
- ``SpoolTransport`` is the consumer view the source reads: a partition
  claims whole segments by file name, *ack* advances the ``FRONTIER`` file
  (the broker's session state) and garbage-collects fully-acked segments.
  Un-acked messages survive restarts and are redelivered — the reference's
  at-least-once contract (``EMQXSourceReader.java:168-202``) on a seekable
  log, which the micro-batch offset WAL upgrades to exactly-once.
  A segment holds one seal: a bridge under a trickle seals a few messages
  each, a burst or a sink task up to ``SEGMENT_SIZE``, so a batch of many
  segments spreads over all partitions.

Seals and acks hold an ``flock`` on the spool directory. A seal takes the
next seq range, writes and fsyncs ``{segment}.tmp``, renames it to its
final name and fsyncs the directory, all under the lock. So segments
become visible in seq order and no reader commits past a seq that a slower
writer makes visible later; a seq is never reused, also after a crash
(``FRONTIER`` is made durable before the segments below it are unlinked).

Records are ``{seq, topic, qos, retained, properties, payload_hex,
timestamp}``; ``_load_mqtt`` picks the MQTT client the bridge and the sink
speak through.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import time
import zlib


def _prop_pairs(raw) -> list[tuple[str, str]]:
    """Normalize user properties (dict or iterable of pairs) to an ordered
    (key, value) list — MQTT 5 allows duplicate keys (EMQXMessage.java:9),
    which only the pair form can represent."""
    if raw is None:
        return []
    if isinstance(raw, dict):
        return list(raw.items())
    return [(k, v) for k, v in raw]


# --------------------------------------------------------------------------
# Spool transport ("broker as a directory")
# --------------------------------------------------------------------------


#: Most messages a publisher buffers before it seals them: bounds its
#: memory and the size of one partition's claim; 50k messages are ~100
#: files at least, not 50k.
SEGMENT_SIZE = 512


@contextlib.contextmanager
def _locked_dir(spool_dir: str):
    """Hold an exclusive ``flock`` on the spool directory; yields the
    directory's fd so the holder can fsync it after a rename."""
    os.makedirs(spool_dir, exist_ok=True)
    fd = os.open(spool_dir, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield fd
    finally:
        os.close(fd)  # releases the lock


def _write_synced(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


def _scan_segments(spool_dir: str) -> list[tuple[int, int, str]]:
    """(first_seq, last_seq, path) of every segment, in seq order."""
    try:
        names = os.listdir(spool_dir)
    except FileNotFoundError:
        return []
    segs = []
    for f in names:
        if f.endswith(".seg"):
            first, last = f[: -len(".seg")].split("-")
            segs.append((int(first), int(last), os.path.join(spool_dir, f)))
    segs.sort()
    return segs


def _scan_segment_seqs(path: str) -> list[tuple[int, str]]:
    """(seq, json_body) per line WITHOUT parsing the JSON — each line is
    ``{seq:012d} {json}``, so consumers can filter on the cheap integer
    prefix and json-parse only the lines they own."""
    try:
        with open(path) as f:
            lines = f.read().splitlines()
    except FileNotFoundError:
        return []  # collected by a concurrent ack: all below the frontier
    return [(int(line[:12]), line[13:]) for line in lines]


def _claims_segment(path: str, partition_id: int, num_partitions: int) -> bool:
    """Whole-file partition claim: each segment is read by exactly one
    partition, so aggregate read cost over N partitions is ~1× the log —
    the earlier per-seq interleave made every partition read EVERY file
    (N× raw I/O, the first streaming bottleneck at 32+ partitions). The
    key is the file name, which never changes once a segment is visible."""
    name = os.path.basename(path).encode()
    return zlib.crc32(name) % num_partitions == partition_id


class SpoolPublisher:
    """Buffers messages and seals them into the spool, one segment per
    ``flush()``; ``close()`` and every ``segment_size``-th ``publish`` seal
    too. ``publish`` alone makes nothing visible.

    Seqs (the spool's order, the broker's arrival order) are assigned at
    seal time, under the directory lock, from the spool's head: any number
    of publishers — concurrent sink tasks, several bridges — can share one
    directory, and one that starts after ack GC collected every segment
    still lands above the ``FRONTIER`` floor.
    """

    def __init__(self, spool_dir: str, segment_size: int = SEGMENT_SIZE):
        self.dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)
        self.segment_size = segment_size
        self._buf: list[str] = []

    def publish(
        self,
        topic: str,
        payload: bytes,
        qos: int = 1,
        retained: bool = False,
        properties: dict[str, str] | list[tuple[str, str]] | None = None,
    ) -> None:
        rec = {
            "topic": topic,
            "qos": qos,
            "retained": retained,
            # stored as ordered pairs so duplicate keys survive the spool
            # (readers accept both this and the legacy dict form)
            "properties": _prop_pairs(properties),
            "payload_hex": payload.hex(),
            "timestamp": time.time(),
        }
        # encoded now, outside the seal's lock, minus the opening brace:
        # the seal prepends ``{"seq": n, `` once it knows n
        self._buf.append(json.dumps(rec)[1:])
        if len(self._buf) >= self.segment_size:
            self.flush()

    def flush(self) -> tuple[int, int] | None:
        """Seal the buffered messages as one segment; returns its (first,
        last) seq, or None when nothing was buffered. A seal that raises
        has still taken the buffer: none of it is in the spool."""
        if not self._buf:
            return None
        bodies, self._buf = self._buf, []
        with _locked_dir(self.dir) as dir_fd:
            first = SpoolTransport(self.dir).latest_seq()
            last = first + len(bodies) - 1
            path = os.path.join(self.dir, f"{first:012d}-{last:012d}.seg")
            _write_synced(path + ".tmp", "".join(
                f'{seq:012d} {{"seq": {seq}, {body}\n'
                for seq, body in enumerate(bodies, first)
            ))
            os.rename(path + ".tmp", path)
            os.fsync(dir_fd)
        return first, last

    def close(self) -> None:
        """Seal whatever is still buffered."""
        self.flush()


class SpoolTransport:
    """Consumer view of the segment-log spool.

    Offsets are ``{"seq": n}`` — messages with seq < n are part of committed
    or in-flight batches. ``ack_upto`` advances the ``FRONTIER`` file (the
    broker's per-session acked position, exactly like PUBACKs on checkpoint
    completion, ``EMQXSourceReader.java:182-202``) and deletes segments
    wholly below it. Reads never return messages below the frontier, so a
    fresh reader incarnation sees only the un-acked backlog; crash before
    commit → frontier unmoved → full redelivery.
    """

    def __init__(self, spool_dir: str):
        self.dir = spool_dir

    def _frontier_path(self) -> str:
        return os.path.join(self.dir, "FRONTIER")

    def frontier(self) -> int:
        try:
            with open(self._frontier_path()) as f:
                return int(f.read().strip() or "0")
        except (FileNotFoundError, ValueError):
            return 0

    def latest_seq(self) -> int:
        """One past the newest segment's last seq, from the file names
        alone; never below the frontier, so a fully collected spool keeps
        its position."""
        segs = _scan_segments(self.dir)
        return max(segs[-1][1] + 1 if segs else 0, self.frontier())

    def _claimed_rows(
        self, lo: int, end: int, partition_id: int, num_partitions: int
    ) -> list[tuple[int, str]]:
        """(seq, json_body) rows of [lo, end) owned by this partition, in
        seq order (segments are disjoint and listed in order). Segments are
        whole-file claimed — see ``_claims_segment``. A batch that spans
        many segments spreads over all partitions; one small segment lands
        on one partition, which is fine (3 messages don't need 32 tasks)."""
        rows: list[tuple[int, str]] = []
        for first, last, path in _scan_segments(self.dir):
            if last < lo or first >= end:
                continue
            if num_partitions > 1 and not _claims_segment(
                path, partition_id, num_partitions
            ):
                continue
            rows.extend(
                (seq, body)
                for seq, body in _scan_segment_seqs(path)
                if lo <= seq < end
            )
        return rows

    def read_range_columns(
        self, start: int, end: int, partition_id: int, num_partitions: int
    ) -> dict[str, list]:
        """Messages in [start, end) claimed by this partition — the spool
        analogue of the broker's shared-subscription load balancing
        (EMQXSourceReader.java:103) — as one dict of plain lists in seq
        order, the shape the Arrow source path builds its columns from.
        ``timestamp`` is epoch microseconds."""
        lo = max(start, self.frontier())
        cols: dict[str, list] = {
            "seq": [], "topic": [], "qos": [], "retained": [],
            "properties": [], "payload": [], "timestamp": [],
        }
        if lo >= end:
            return cols
        for seq, body in self._claimed_rows(lo, end, partition_id, num_partitions):
            rec = json.loads(body)
            cols["seq"].append(seq)
            cols["topic"].append(rec["topic"])
            cols["qos"].append(rec["qos"])
            cols["retained"].append(rec["retained"])
            cols["properties"].append(_prop_pairs(rec["properties"]))
            cols["payload"].append(bytes.fromhex(rec["payload_hex"]))
            cols["timestamp"].append(int(rec["timestamp"] * 1_000_000))
        return cols

    def ack_upto(self, end: int) -> int:
        """Advance the acked frontier to ``end`` and collect the segments
        wholly below it; returns the number of segments collected.

        Under the directory lock, the new ``FRONTIER`` is durable (file
        fsync, rename, directory fsync) before anything is unlinked. A
        ``*.tmp`` found under the lock belongs to a dead writer (seals
        write theirs only while holding it), so it goes too."""
        n = 0
        with _locked_dir(self.dir) as dir_fd:
            if end > self.frontier():
                tmp = self._frontier_path() + ".tmp"
                _write_synced(tmp, str(end))
                os.rename(tmp, self._frontier_path())
                os.fsync(dir_fd)
            for path in glob.glob(os.path.join(glob.escape(self.dir), "*.tmp")):
                os.remove(path)
            for _first, last, path in _scan_segments(self.dir):
                if last < end:
                    os.remove(path)
                    n += 1
        return n


# --------------------------------------------------------------------------
# MQTT client (bridge and sink)
# --------------------------------------------------------------------------


def _load_mqtt():
    """paho-mqtt when installed, else the embedded MQTT 5 client
    (``mqtt_wire.Client``, same callback surface, real sockets)."""
    try:
        import paho.mqtt.client as mqtt
        from paho.mqtt.packettypes import PacketTypes
        from paho.mqtt.properties import Properties

        return mqtt, PacketTypes, Properties
    except ImportError:
        from . import mqtt_wire

        return mqtt_wire, mqtt_wire.PacketTypes, mqtt_wire.Properties
