"""The segment-log spool: the durable handoff between MQTT ingest and the
EMQX source.

A spool is a directory of sealed segments, ``{first:012d}-{last:012d}.seg``,
plus a ``FRONTIER`` file. A segment is plain NDJSON, one line per message,
and line ``i`` has seq ``first + i``: the name is the only place a seq is
stored. A segment appears once, complete, under its final name, and never
changes after; one whose line count differs from ``last - first + 1``
makes the read raise, and so does a line of the earlier
``{seq:012d} {json}`` form (drain a spool written by that version before
upgrading).

- ``SpoolPublisher`` buffers messages and seals the buffer as one segment
  on ``flush()``. The driver-side bridge (``sources/bridge.py``) is its
  MQTT-facing writer; the sink's ``transport=spool`` leg is another.
- ``SpoolTransport`` is the consumer view the source reads: partition i of
  N reads the i-th equal slice of a batch's seq window, opening only the
  segments that overlap it; *ack* advances the ``FRONTIER`` file (the
  broker's session state) and garbage-collects fully-acked segments.
  Un-acked messages survive restarts and are redelivered — the reference's
  at-least-once contract (``EMQXSourceReader.java:168-202``) on a seekable
  log, which the micro-batch offset WAL upgrades to exactly-once.
  A segment holds one seal: a bridge under a trickle seals a few messages
  each, a burst or a sink task up to ``SEGMENT_SIZE``.

Seals and acks hold an ``flock`` on the spool directory. A seal takes the
next seq range, writes and fsyncs ``{segment}.tmp``, renames it to its
final name and fsyncs the directory, all under the lock. So segments
become visible in seq order and no reader commits past a seq that a slower
writer makes visible later; a seq is never reused, also after a crash
(``FRONTIER`` is made durable before the segments below it are unlinked).

Records are ``{topic, qos, retained, properties, payload_hex, timestamp}``
with ``properties`` as ordered ``[key, value]`` pairs.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import time


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
            "properties": _prop_pairs(properties),
            "payload_hex": payload.hex(),
            "timestamp": time.time(),
        }
        self._buf.append(json.dumps(rec))  # encoded outside the seal's lock
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
            _write_synced(path + ".tmp", "\n".join(bodies) + "\n")
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

    def read_range_columns(
        self, start: int, end: int, partition_id: int, num_partitions: int
    ) -> dict[str, list]:
        """This partition's share of the window [start, end) — the spool
        analogue of the broker's shared-subscription load balancing
        (EMQXSourceReader.java:103) — as one dict of plain lists in seq
        order, the shape the Arrow source path builds its columns from.
        ``timestamp`` is epoch microseconds.

        Partition i of N reads [start + span·i//N, start + span·(i+1)//N),
        never below the frontier: equal shares that depend only on the
        window, so every partition of a batch, replayed or not, agrees on
        them. It opens only the segments that overlap its share; a segment
        that straddles a cut is opened by both sides, so a batch opens at
        most its segments plus N − 1 files."""
        span = max(end - start, 0)
        lo = max(start + span * partition_id // num_partitions, self.frontier())
        hi = start + span * (partition_id + 1) // num_partitions
        cols: dict[str, list] = {
            "seq": [], "topic": [], "qos": [], "retained": [],
            "properties": [], "payload": [], "timestamp": [],
        }
        if lo >= hi:
            return cols
        for first, last, path in _scan_segments(self.dir):
            if last < lo or first >= hi:
                continue
            try:
                with open(path) as f:
                    lines = f.read().splitlines()
            except FileNotFoundError:
                continue  # collected by a concurrent ack: all below the frontier
            if len(lines) != last - first + 1:
                raise ValueError(f"{path}: {len(lines)} lines, not {last - first + 1}")
            a = max(lo, first)
            for seq, line in enumerate(lines[a - first : hi - first], a):
                rec = json.loads(line)
                cols["seq"].append(seq)
                cols["topic"].append(rec["topic"])
                cols["qos"].append(rec["qos"])
                cols["retained"].append(rec["retained"])
                cols["properties"].append([tuple(p) for p in rec["properties"]])
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

