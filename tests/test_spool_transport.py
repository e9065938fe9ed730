"""Unit tests for the segment-log spool transport (no Spark needed).

Regression coverage for the publisher/frontier interaction: the FRONTIER
file is the only durable record of position once ack GC has collected the
segments it subsumes, so seal-time seq assignment must honor it; and for
the sealed-segment invariants that keep racing writers and readers from
losing rows.
"""

import os

import pytest

from flink_emqx_connector_spark.sources.transport import (
    SpoolPublisher,
    SpoolTransport,
)


def _payloads(t, lo, hi, partition=0, num_partitions=1):
    return t.read_range_columns(lo, hi, partition, num_partitions)["payload"]


def _seqs(t, lo, hi, partition=0, num_partitions=1):
    return t.read_range_columns(lo, hi, partition, num_partitions)["seq"]


def test_publisher_seq_resumes_from_frontier_after_gc(tmp_path):
    """A fresh publisher after full ack+GC must NOT restart below the
    frontier — reads clamp lo to the frontier, so seqs below it
    would be permanently masked (silent message loss)."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool, segment_size=2)
    for i in range(6):
        pub.publish("t/1", str(i).encode())
    pub.close()

    t = SpoolTransport(spool)
    assert _payloads(t, 0, t.latest_seq()) == [str(i).encode() for i in range(6)]
    t.ack_upto(6)
    # every closed segment is below the frontier → all GC'd
    assert not [f for f in os.listdir(spool) if f.endswith(".seg")]

    pub2 = SpoolPublisher(spool)
    pub2.publish("t/1", b"after-gc")
    assert pub2.flush() == (6, 6)  # not 0
    assert _payloads(t, 0, t.latest_seq()) == [b"after-gc"]


def test_consume_republish_reconsume_pipeline(tmp_path):
    """The long-running consume→ack→publish→consume loop never loses a
    message across publisher incarnations (the sink creates one publisher
    per partition per micro-batch)."""
    spool = str(tmp_path / "spool")
    t = SpoolTransport(spool)
    seen = []
    for round_ in range(5):
        pub = SpoolPublisher(spool, segment_size=2)
        for i in range(3):
            pub.publish("t/1", f"{round_}-{i}".encode())
        pub.close()
        end = t.latest_seq()
        seen.extend(p.decode() for p in _payloads(t, 0, end))
        t.ack_upto(end)
    assert seen == [f"{r}-{i}" for r in range(5) for i in range(3)]


def test_ack_gc_collects_dead_writer_tmp(tmp_path, monkeypatch):
    """A writer that dies between writing its fsynced ``.tmp`` and the
    rename leaves the tmp behind, invisible to readers; the next ack
    collects it (seals write their tmp only under the directory lock, so
    an ack holding that lock never sees a live writer's)."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    pub.publish("t/1", b"lost")

    def die(src, dst):
        raise OSError("writer died before the rename")

    monkeypatch.setattr(os, "rename", die)
    with pytest.raises(OSError, match="died"):
        pub.flush()
    monkeypatch.undo()
    assert [f for f in os.listdir(spool) if f.endswith(".tmp")]

    t = SpoolTransport(spool)
    assert t.latest_seq() == 0
    assert t.ack_upto(0) == 0  # no segment collected, only the tmp
    assert not [f for f in os.listdir(spool) if f.endswith(".tmp")]
    pub.publish("t/1", b"next")
    pub.close()
    assert _payloads(t, 0, t.latest_seq()) == [b"next"]


def test_racing_publishers_never_land_under_the_frontier(tmp_path):
    """Two publishers open on one spool; A's rows are read and acked
    before B seals. Seqs are taken at seal time, so B's rows land above
    the frontier and are read, not masked under it."""
    spool = str(tmp_path / "spool")
    a, b = SpoolPublisher(spool), SpoolPublisher(spool)
    for i in range(10):
        a.publish("t/a", b"a%d" % i)
    a.close()
    t = SpoolTransport(spool)
    assert _payloads(t, 0, t.latest_seq()) == [b"a%d" % i for i in range(10)]
    t.ack_upto(10)
    for i in range(10):
        b.publish("t/b", b"b%d" % i)
    b.close()
    assert t.latest_seq() == 20
    assert _payloads(t, 0, t.latest_seq()) == [b"b%d" % i for i in range(10)]


def test_listing_taken_earlier_reads_every_row_it_covered(tmp_path):
    """A partition lists the spool once and then opens each listed file.
    Whatever writers do in between, the files of that listing still hold
    every row it covered: a visible segment is never renamed or changed."""
    from unittest import mock

    import flink_emqx_connector_spark.sources.transport as tr

    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool, segment_size=8)
    for i in range(5):
        pub.publish("t/1", b"%d" % i)
    pub.flush()
    t = SpoolTransport(spool)
    covered = t.latest_seq()
    listing = tr._scan_segments(spool)
    for i in range(5, 8):
        pub.publish("t/1", b"%d" % i)
    pub.close()
    with mock.patch.object(tr, "_scan_segments", lambda _dir: listing):
        assert _seqs(t, 0, covered) == list(range(5))


def test_sink_partition_seals_segments(tmp_path):
    """The sink's per-partition publisher seals its rows, so readers see
    them and ack GC can collect them."""
    from flink_emqx_connector_spark.sinks.emqx import _publish_partition

    spool = str(tmp_path / "spool")
    rows = [{"topic": "t/1", "payload": f"m{i}".encode()} for i in range(3)]
    _publish_partition(iter(rows), "spool", spool, "", 0, qos=1)
    assert [f for f in os.listdir(spool) if f.endswith(".seg")]
    t = SpoolTransport(spool)
    assert _payloads(t, 0, t.latest_seq()) == [b"m0", b"m1", b"m2"]
    assert t.ack_upto(t.latest_seq()) >= 1
    assert not [f for f in os.listdir(spool) if f.endswith(".seg")]


def _share(lo, hi, p, n_parts):
    """Partition p's equal slice of the window [lo, hi)."""
    span = max(hi - lo, 0)
    return lo + span * p // n_parts, lo + span * (p + 1) // n_parts


def _counting_segment_opens(tr):
    """Patch the transport module's ``open`` to record every segment it
    opens; returns (patcher, list of opened paths)."""
    from unittest import mock

    opened = []

    def counting(path, *a, **kw):
        if path.endswith(".seg"):
            opened.append(path)
        return open(path, *a, **kw)

    return mock.patch.object(tr, "open", counting, create=True), opened


def test_partition_claims_disjoint_and_complete(tmp_path):
    """Every message in a window is delivered by exactly one of N
    partitions, each partition reads exactly its equal slice of the window,
    and a batch opens at most its segments plus N - 1 files (a segment is
    opened twice only where a cut between two slices falls inside it)."""
    import flink_emqx_connector_spark.sources.transport as tr

    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool, segment_size=16)
    for i in range(200):
        pub.publish("t/1", str(i).encode())
    pub.flush()  # the short tail segment: claims must cover it too
    t = SpoolTransport(spool)
    end = t.latest_seq()
    n_parts = 8

    patcher, opened = _counting_segment_opens(tr)
    got = []
    with patcher:
        for p in range(n_parts):
            cols = t.read_range_columns(0, end, p, n_parts)
            assert cols["seq"] == list(range(*_share(0, end, p, n_parts)))
            got += cols["payload"]
    assert sorted(got) == sorted(str(i).encode() for i in range(200))
    n_files = len([f for f in os.listdir(spool) if f.endswith(".seg")])
    assert len(opened) <= n_files + n_parts - 1, (len(opened), n_files)


def test_claims_property_random_schedules():
    """Property: for ANY publisher schedule (message count, segment size,
    multiple publishers, an unsealed tail), ANY window, ANY acked frontier
    and ANY partition count, each partition reads exactly its equal slice
    of the window above the frontier, so the partitions are a disjoint
    complete cover of it, and the batch opens at most its segments plus
    N - 1 files."""
    import tempfile

    from hypothesis import given, settings, strategies as st

    import flink_emqx_connector_spark.sources.transport as tr

    @settings(max_examples=25, deadline=None)
    @given(
        seg_size=st.integers(min_value=1, max_value=7),
        counts=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=4),
        n_parts=st.integers(min_value=1, max_value=9),
        seal_last=st.booleans(),
        window=st.tuples(
            st.integers(min_value=0, max_value=10),
            st.integers(min_value=0, max_value=60),
        ),
        acked=st.integers(min_value=0, max_value=30),
    )
    def check(seg_size, counts, n_parts, seal_last, window, acked):
        with tempfile.TemporaryDirectory() as d:
            spool = str(d) + "/s"
            total = 0
            for pi, cnt in enumerate(counts):
                pub = SpoolPublisher(spool, segment_size=seg_size)
                for _ in range(cnt):
                    pub.publish("t/1", str(total).encode())
                    total += 1
                if seal_last or pi < len(counts) - 1:
                    pub.close()
            t = SpoolTransport(spool)
            frontier = min(acked, t.latest_seq())
            t.ack_upto(frontier)
            lo, span = window
            hi = min(lo + span, t.latest_seq())
            n_files = len([f for f in os.listdir(spool) if f.endswith(".seg")])
            patcher, opened = _counting_segment_opens(tr)
            seen = []
            with patcher:
                for p in range(n_parts):
                    a, b = _share(lo, hi, p, n_parts)
                    part = _seqs(t, lo, hi, p, n_parts)
                    assert part == list(range(max(a, frontier), b))
                    seen += part
            assert sorted(seen) == list(range(max(lo, frontier), hi))
            assert len(opened) <= n_files + n_parts - 1, (len(opened), n_files)

    check()


def test_segment_with_wrong_line_count_raises(tmp_path):
    """A segment's name gives the seq of every line, so one whose line
    count differs from its name's range must fail the read, never shift
    seqs onto the wrong messages."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    for i in range(3):
        pub.publish("t/1", b"%d" % i)
    first, last = pub.flush()
    path = os.path.join(spool, f"{first:012d}-{last:012d}.seg")
    with open(path) as f:
        lines = f.readlines()
    with open(path, "w") as f:
        f.writelines(lines[:2])
    t = SpoolTransport(spool)
    with pytest.raises(ValueError, match="2 lines, not 3"):
        t.read_range_columns(0, 3, 0, 1)


def test_earlier_prefixed_line_format_raises(tmp_path):
    """A segment in the earlier ``{seq:012d} {json}`` line form (written by
    a previous version) fails the read instead of being misparsed."""
    import json

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    rec = {"seq": 0, "topic": "t/1", "qos": 1, "retained": False,
           "properties": [], "payload_hex": b"x".hex(), "timestamp": 1.0}
    with open(os.path.join(spool, "000000000000-000000000000.seg"), "w") as f:
        f.write(f"{0:012d} {json.dumps(rec)}\n")
    t = SpoolTransport(spool)
    assert t.latest_seq() == 1
    with pytest.raises(ValueError):
        t.read_range_columns(0, 1, 0, 1)


def test_concurrent_seals_and_acks_lose_nothing(tmp_path):
    """Stress: more writer threads than cores seal small segments while a
    reader reads and acks whatever is visible. Every message is read
    exactly once, and the seqs read are exactly 0..n-1 in order."""
    import sys
    import threading

    spool = str(tmp_path / "spool")
    t = SpoolTransport(spool)
    writers, per = 8, 30
    seen = []
    done = threading.Event()

    def write(w):
        pub = SpoolPublisher(spool, segment_size=3)
        for i in range(per):
            pub.publish("t/1", b"%d-%d" % (w, i))
        pub.close()

    def read():
        lo = 0
        while True:
            last_pass = done.is_set()
            head = t.latest_seq()
            cols = t.read_range_columns(lo, head, 0, 1)
            seen.extend(zip(cols["seq"], cols["payload"]))
            t.ack_upto(head)
            lo = head
            if last_pass:
                return

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        reader = threading.Thread(target=read)
        reader.start()
        threads = [threading.Thread(target=write, args=(w,)) for w in range(writers)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
        done.set()
        reader.join(60)
        assert not reader.is_alive()
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert [s for s, _p in seen] == list(range(writers * per))
    assert sorted(p for _s, p in seen) == sorted(
        b"%d-%d" % (w, i) for w in range(writers) for i in range(per)
    )
