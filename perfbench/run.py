"""Outside-in benchmark of the engine: the MQTT -> spool -> micro-batch path
and the batch query engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It drives the engine only through its
public surface (``session.get_spark``, the ``emqx`` source and sink,
``functions.decode``, ``plans.QUERIES`` and ``plans.check.compare_query``),
makes every input from ``--seed``, checks every output, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics listed in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and
the span file and a detail file go to ``.perfbench/`` in the checkout.

Workloads (see ``streaming.py`` and ``batch.py`` for why each exists):

- ``streaming``: open-loop MQTT traffic at a fixed rate through broker ->
  bridge -> spool -> micro-batch -> ``foreachBatch`` sink, then a backlog
  ingested closed-loop through the bridge and drained through
  micro-batches into the ``emqx`` sink;
- ``batch``: dedup, similarity and TPC-H queries on a seeded corpus.

The end-to-end metrics have one meaning per workload:

- ``setup_s``: the median of three set-ups, each a fresh session, the
  workload's inputs and its warm-up. The first set-up also launches the JVM
  and is reported on its own as ``setup.first_s`` in the traced run.
- ``latency_p50_ms`` / ``latency_tail_ms``: the median and 99th percentile
  of a live message's time from its scheduled send time to the sink
  (``streaming``); the median over queries of a query's steady wall time,
  and the slowest query's (``batch``).
- ``throughput_per_s``: backlog messages drained into the sink per second
  after the first micro-batch (``streaming``); queries per second, the
  query count over the sum of their steady wall times (``batch``).
- ``peak_rss_mb``: peak summed RSS of the driver process, its JVM and the
  JVM's Python workers, read from ``/proc``; the load generator is left out.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

#: Set-ups per run; ``setup_s`` is their median.
N_SETUPS = 3


class Generator:
    """The load generator process (``gen.py``): broker plus publisher."""

    def __init__(self, seed: int, env: dict):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            cwd=ROOT,
            env=env,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.port = self.recv(60)["port"]

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def send(self, cmd: str, **args) -> None:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **args}) + "\n")
        self.proc.stdin.flush()

    def recv(self, timeout: float) -> dict:
        line = self._lines.get(timeout=timeout)
        if line is None:
            raise RuntimeError(f"generator exited with {self.proc.wait()}")
        return json.loads(line)

    def call(self, cmd: str, timeout: float = 60, **args) -> dict:
        self.send(cmd, **args)
        return self.recv(timeout)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call("stop", timeout=20)
            except (OSError, queue.Empty, RuntimeError):
                pass
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


class Context:
    """What a workload needs: arguments, scratch space, the session, the
    tracer and the resident-memory sampler."""

    def __init__(self, args, scratch: str):
        from tracing import RssSampler, Tracer, event_log_conf

        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.scratch = scratch
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(self.traced)
        self.rss = RssSampler()
        self.spark = None
        self.generator: Generator | None = None
        self._dirs = 0
        self.conf = {
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": self.fresh_dir("warehouse"),
            # keep every micro-batch of a run in recentProgress
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            # an interrupted run must not wait forever on a stuck query
            "spark.sql.streaming.stopTimeout": "30s",
        }
        self.event_log_dir = os.path.join(scratch, "eventlog")
        if self.traced:
            self.conf.update(event_log_conf(self.event_log_dir))
        self.env = dict(os.environ)

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        path = os.path.join(self.scratch, f"{tag}-{self._dirs}")
        os.makedirs(path)
        return path

    def session(self, cpus: int | None = None):
        """A fresh SparkSession (the previous one is stopped first)."""
        from flink_emqx_connector_spark.session import get_spark
        from flink_emqx_connector_spark.sources import register_emqx_source

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            "perfbench", cpus=cpus or self.nproc, extra_conf=self.conf
        )
        register_emqx_source(self.spark)
        return self.spark

    def start_generator(self) -> Generator:
        self.generator = Generator(self.seed, self.env)
        self.rss.exclude.add(self.generator.proc.pid)
        return self.generator

    def setups(self, setup, teardown=None) -> tuple[float, list[float], object]:
        """Run ``setup(k)`` after a fresh session, N_SETUPS times; returns
        the median time, all times, and the last set-up's state. Earlier
        states are passed to ``teardown`` outside the timing."""
        times, state = [], None
        for k in range(N_SETUPS):
            if state is not None and teardown is not None:
                teardown(state)
            with self.tracer.span("setup", trace=f"setup{k}"):
                t0 = time.perf_counter()
                self.session()
                state = setup(k)
                times.append(time.perf_counter() - t0)
        return statistics.median(times), times, state

    def close(self) -> None:
        """Stop the queries and the session, end the JVM and wait for it,
        then stop the generator (the bridge is gone before the broker)."""
        from pyspark import SparkContext

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when this pipe closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        if self.generator is not None:
            self.generator.close()
            self.generator = None


def _environment(scratch: str) -> None:
    """Keep every file the run writes inside ``scratch`` and let Python
    workers import the package from the checkout."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher's too: no perf-data files, and
    # temporary files in the scratch directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops what it started and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the engine must be importable from the checkout; without it there is
    # nothing to measure and the run fails here, before any work
    import flink_emqx_connector_spark.session  # noqa: F401

    import batch
    import streaming

    workloads = {"streaming": streaming.streaming, "batch": batch.batch}
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    e2e_units, layer_units = _metric_specs()

    out_dir = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(scratch)
    ctx = None
    try:
        _environment(scratch)
        ctx = Context(args, scratch)
        res = workloads[args.workload](ctx)
        ctx.close()
        if ctx.traced:
            # the traced run's own end-to-end figures; less the untraced
            # runs' figures, they give the tracing overhead
            res["layers"].update(
                (f"traced.{k}", v) for k, v in res["e2e"].items()
            )
    except BaseException:
        traceback.print_exc()
        if ctx is not None:
            try:
                ctx.close()
            except Exception:
                traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    units = layer_units if ctx.traced else e2e_units
    values = res["layers"] if ctx.traced else res["e2e"]
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    tag = f"{args.workload}-seed{args.seed}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": ctx.nproc,
        "valid": res["valid"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "end_to_end": res["e2e"],
        "per_layer": res["layers"],
        **res["detail"],
    }
    if ctx.traced:
        ctx.tracer.write(os.path.join(out_dir, f"spans-{tag}.json"))
        with open(os.path.join(out_dir, f"detail-{tag}.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail, sort_keys=True), file=sys.stderr)
    print(
        json.dumps({
            "correct": res["valid"] and res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {
                name: {"value": float(values[name]), "unit": unit}
                for name, unit in units.items()
            },
        }),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
