"""MQTT → spool bridge: the MQTT ingest path of the EMQX source.

Why the clients live on the driver (measured, not theoretical): MQTT 5
manual acks are CONNECTION-scoped — only the connection that received a
message can ack it. A client per partition inside Spark's Python workers
assumes each partition's tasks keep landing on the same worker process.
Spark's worker pool makes no such promise: under load, tasks rotate
across workers, each new worker opens a client with the same clientid,
the broker's session takeover kicks the previous one, its reconnect loop
fights back, and every takeover redelivers the un-acked backlog that no
surviving connection can ever ack — an earlier executor-resident reader
measured 34× duplicate delivery on a 100k-message pump. The reference
never hits this because a Flink subtask IS a stable long-lived process
(``EMQXSourceReader.java:34-66``).

So the bridge runs N shared-subscription clients as threads in the
DRIVER (which lives exactly as long as the streaming query). Their
network callbacks only queue each message. One flusher thread seals
whatever is queued as one spool segment (``SpoolPublisher.flush``: fsync,
rename, directory fsync) as soon as its previous seal returns — group
commit, with no delay or size setting — and only then acks the group's
messages to the broker: the same ack-after-durable contract as
checkpoint-gated acks, moved one hop earlier. A message whose member died
before its seal returned is not acked; the broker redelivers it. If a
seal raises, nothing of that group is acked, the flusher stops, and the
source's ``latestOffset`` raises the error (``error``). Downstream,
executors read the spool, which is a seekable replayable log, so
Structured Streaming's offset WAL upgrades delivery to exactly-once from
the spool onward; the broker→spool hop stays at-least-once (bridge crash
before ack → redelivery → duplicate spool rows, deduplicable by key
downstream). Queued messages are bounded by the broker's per-session
in-flight window (EMQX ``max_inflight``): nothing more arrives until
acks go out, and acks wait for the seal.

Scale posture: the bridge is ingestion I/O only (no decode, no compute) —
one thread per shared-subscription member plus the flusher, fan-in
bounded by broker delivery. Heavy lifting stays in executors reading the
spool in parallel (each reads an equal slice of a batch's seqs, however
the seals cut them into segments). For multi-driver scale-out, run one
bridge per topic-filter on any stable host; the spool directory is the
handoff point, and any number of bridges can seal into one.
"""

from __future__ import annotations

import threading
import time

from . import mqtt_wire
from .transport import SpoolPublisher


class MqttSpoolBridge:
    """N manual-ack shared-subscription clients draining a broker into a
    spool directory; acks follow the seal of each message's segment."""

    #: Watchdog poll period (seconds). A respawn is driven by broker
    #: session resume, so a couple of seconds of detection latency only
    #: delays redelivery, never loses it.
    WATCHDOG_INTERVAL = 2.0

    def __init__(
        self,
        host: str,
        port: int,
        topic_filter: str,
        group: str,
        clientid: str,
        spool_dir: str,
        qos: int = 1,
        members: int = 1,
        status_topic: str | None = None,
        session_expiry: int = 300,
        auth_method: str | None = None,
        auth_secret: "str | bytes | None" = None,
    ):
        self.spool_dir = spool_dir
        self._pub = SpoolPublisher(spool_dir)
        #: (client, message) pairs the callbacks queued for the flusher.
        self._queue: list = []
        self._queued = threading.Condition()
        #: The exception a seal raised; the flusher has stopped.
        self.error: Exception | None = None
        self._host, self._port, self._qos = host, port, qos
        self._clientid = clientid
        #: How long the broker keeps each member's subscription and
        #: un-acked messages across a disconnect; size it to survive the
        #: longest expected driver restart.
        self._session_expiry = session_expiry
        #: §4.12 enhanced authentication (method name + shared secret)
        #: for every member CONNECT.
        self._auth = (auth_method, auth_secret)
        #: When set, every member maintains a RETAINED liveness record at
        #: ``{status_topic}/{member-clientid}``: "online" on each connect,
        #: "offline" on graceful departure (scale-in / stop), and a
        #: retained WILL "dead" the broker publishes if the member dies
        #: without a clean DISCONNECT — so a monitor subscribed to
        #: ``{status_topic}/#`` (or arriving late, via the retained
        #: snapshot) learns member health from the BROKER, not from its
        #: own timeouts. This is the operational telemetry leg the
        #: reference leaves to Flink's metrics system.
        self._status_topic = status_topic
        self._sub_topic = (
            f"$share/{group}/{topic_filter}" if group else topic_filter
        )
        self._stopped = threading.Event()
        self.respawns = 0
        # written by the flusher thread only; read through the properties
        self._appended = self._acked = self._seals = 0
        self._seal_s = 0.0
        self._flusher = threading.Thread(target=self._flush_loop, daemon=True)
        self._flusher.start()
        self._clients = [self._spawn_member(i) for i in range(members)]
        # Member supervision — the dynamic-rebalancing leg BOTH the
        # reference and the pre-round-8 engine lacked (the reference's
        # EMQXSplitEnumerator.addSplitsBack is a no-op stub,
        # EMQXSplitEnumerator.java:37-47): if a member's network loop
        # thread dies for any reason OTHER than session takeover, its
        # clientid's share of the shared subscription would go unserved
        # until session expiry. The watchdog respawns the member with
        # the SAME clientid and clean_start=False, so broker session
        # resume redelivers everything un-acked — no coordination needed
        # beyond the clientid itself. Takeover-superseded members are
        # deliberately NOT respawned: a new owner holds the clientid and
        # a respawn would ping-pong the takeover (the round-2 storm).
        self._watchdog = threading.Thread(target=self._watch, daemon=True)
        self._watchdog.start()

    def _spawn_member(self, i: int):
        cli = mqtt_wire.Client(
            mqtt_wire.CallbackAPIVersion.VERSION2,
            client_id=f"{self._clientid}-bridge-{i}",
            protocol=mqtt_wire.MQTTv5,
            manual_ack=True,
        )
        props = mqtt_wire.Properties(mqtt_wire.PacketTypes.CONNECT)
        props.SessionExpiryInterval = self._session_expiry
        status = (
            f"{self._status_topic}/{self._clientid}-bridge-{i}"
            if self._status_topic
            else None
        )
        if status:
            # retained will: an abnormal death leaves "dead" as the
            # topic's last-known state for monitors that subscribe later
            cli.will_set(status, b"dead", qos=1, retain=True)

        def on_connect(client, userdata, flags, reason, properties=None):
            if reason != 0:
                return  # CONNACK refusal — never subscribe into it
            if status:
                # overwrite any stale "dead"/"offline" record — a watchdog
                # respawn self-heals the status topic on reconnect
                client.publish(status, b"online", qos=1, retain=True)
            if not flags.session_present:
                client.subscribe(self._sub_topic, qos=self._qos)

        def on_message(client, userdata, msg):
            with self._queued:
                if self._stopped.is_set():
                    return  # spool closed; leave un-acked → redelivery
                self._queue.append((client, msg))
                self._queued.notify()

        cli.on_connect = on_connect
        cli.on_message = on_message
        auth_method, auth_secret = self._auth
        if auth_method is not None:
            cli.enhanced_auth(auth_method, auth_secret or b"")
        cli._graft_status = status  # for graceful-departure announcements
        cli.reconnect_delay_set(min_delay=1, max_delay=10)
        try:
            cli.connect(
                self._host, self._port, clean_start=False,
                properties=props, keepalive=30,
            )
        except OSError:
            cli.connect_async(
                self._host, self._port, clean_start=False,
                properties=props, keepalive=30,
            )
        cli.loop_start()
        return cli

    def _flush_loop(self) -> None:
        """Seal whatever is queued, then ack it; until ``stop`` has set
        the stop flag and the queue is drained, or a seal raises."""
        while True:
            with self._queued:
                while not self._queue and not self._stopped.is_set():
                    self._queued.wait()
                group, self._queue = self._queue, []
            if not group:
                return
            try:
                for _cli, msg in group:
                    # ordered (key, value) pairs — duplicate keys preserved
                    # end-to-end (EMQXMessage.java:9 Mqtt5UserProperties)
                    self._pub.publish(
                        msg.topic, bytes(msg.payload), qos=msg.qos,
                        properties=msg.properties.UserProperty,
                    )
                t0 = time.perf_counter()
                self._pub.flush()
            except Exception as e:  # nothing of the group is acked
                self.error = e
                return
            self._seal_s += time.perf_counter() - t0
            self._seals += 1
            self._appended += len(group)
            for cli, msg in group:
                if self._member_dead(cli):
                    continue  # the broker redelivers it to the respawn
                try:
                    cli.ack(msg.mid, msg.qos)
                except OSError:
                    continue  # connection gone: the broker redelivers it
                self._acked += 1

    @property
    def appended(self) -> int:
        """Messages durably sealed into the spool."""
        return self._appended

    @property
    def acked(self) -> int:
        """Sealed messages acked to the broker; the rest are redelivered."""
        return self._acked

    @property
    def seals(self) -> int:
        """Segments sealed, one per group the flusher committed."""
        return self._seals

    @property
    def seal_s(self) -> float:
        """Seconds spent in seals: the segment write, its fsync, the
        rename and the directory fsync."""
        return self._seal_s

    def refused(self) -> list[int]:
        """The CONNACK codes when EVERY member was permanently refused
        (bad clientid, credentials or auth method; the members cede and
        nothing will ever arrive), else []."""
        codes = [cli.connect_refused for cli in self._clients]
        if codes and all(c in mqtt_wire._CONNACK_PERMANENT for c in codes):
            return codes
        return []

    @staticmethod
    def _member_dead(cli) -> bool:
        """True when the member's network loop is permanently gone (the
        auto-reconnect loop covers transient failures internally)."""
        return cli._thread is not None and not cli._thread.is_alive()

    def _watch(self) -> None:
        while not self._stopped.wait(self.WATCHDOG_INTERVAL):
            for i, cli in enumerate(self._clients):
                if self._stopped.is_set():
                    return
                if cli.superseded:
                    continue  # new owner holds the clientid — cede
                if cli.connect_refused is not None:
                    # permanent CONNACK refusal (bad clientid/credentials/
                    # not authorized) stopped the loop — respawning would
                    # storm doomed CONNECTs; transient refusals never kill
                    # the loop, so they never reach this branch
                    continue
                if self._member_dead(cli):
                    self.respawns += 1
                    self._clients[i] = self._spawn_member(i)

    def scale_to(self, members: int, drain_s: float = 1.0) -> None:
        """Dynamic resize of the shared-subscription group (round-10).

        Scale OUT spawns new members (broker round-robins new work to
        them immediately). Scale IN is the graceful three-step the
        broker's departure semantics expect: each departing member
        UNSUBSCRIBEs its ``$share`` filter (no new work; the broker
        immediately re-dispatches its never-delivered queue), gets a
        ``drain_s`` window in which deliveries already in flight keep
        flowing through the normal seal-then-ack path, then
        disconnects — whatever it never acked re-dispatches to the
        surviving members (EMQX behavior, pinned by
        ``test_shared_group_graceful_scale_in_no_loss``). No message is
        lost or stranded in either direction; duplicates follow the
        at-least-once contract the spool consumer already de-dups.

        Retired member indices are reused on a later scale-out (same
        clientids, ``clean_start=False``) — safe because departure left
        their sessions empty.
        """
        import time as _time

        members = max(int(members), 0)
        cur = len(self._clients)
        if members > cur:
            fresh = [self._spawn_member(i) for i in range(cur, members)]
            self._clients.extend(fresh)
            # A reused index resumes its old session (clean_start=False,
            # session_present=1) so on_connect skips the subscribe — but
            # graceful departure REMOVED the subscription from that
            # session. Re-subscribe explicitly; harmless duplicate when
            # on_connect also subscribed (fresh session).
            for cli in fresh:
                deadline = _time.monotonic() + 10.0
                while _time.monotonic() < deadline:
                    try:
                        cli.subscribe(self._sub_topic, qos=self._qos)
                        break
                    except Exception:
                        _time.sleep(0.05)  # CONNACK not in yet
            return
        if members == cur:
            return
        departing = self._clients[members:]
        # shrink FIRST so the watchdog stops supervising departing
        # members (a respawn mid-departure would undo the unsubscribe)
        self._clients = self._clients[:members]
        for cli in departing:
            try:
                cli.unsubscribe(self._sub_topic)
            except Exception:
                pass  # already dead → broker detach re-dispatch covers it
        _time.sleep(drain_s)  # in-flight deliveries seal+ack normally
        for cli in departing:
            self._announce_offline(cli)
            try:
                cli.disconnect()
            except Exception:
                pass

    @staticmethod
    def _announce_offline(cli) -> None:
        """Graceful departure: a clean DISCONNECT discards the will, so
        the last-known state is published explicitly (retained) first —
        monitors distinguish planned 'offline' from crashed 'dead'."""
        if cli._graft_status:
            try:
                info = cli.publish(
                    cli._graft_status, b"offline", qos=1, retain=True
                )
                # Wait for the PUBACK before the caller's clean
                # DISCONNECT, so 'offline' is on the broker before the
                # connection goes: a clean DISCONNECT discards the will,
                # and nothing would correct a stale retained 'online'.
                info.wait_for_publish(timeout=1.0)
            except Exception:
                pass  # dead socket: the retained WILL tells the truth

    def stop(self) -> None:
        """Seal and ack everything queued, then disconnect every member;
        a message that arrives after this starts stays un-acked."""
        with self._queued:
            self._stopped.set()
            self._queued.notify()
        self._flusher.join()
        self._watchdog.join(timeout=2 * self.WATCHDOG_INTERVAL + 1)
        for cli in self._clients:
            self._announce_offline(cli)
            try:
                cli.disconnect()
            except Exception:
                pass
