"""SparkSession builder tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow on (every
Pandas-UDF boundary is vectorized), UTC session timezone (oracle parity with
DuckDB), and shuffle partitions sized to the machine rather than the Spark
default of 200.

At 100 TB the only knobs that change are ``spark.sql.shuffle.partitions``
(→ ~2-3× total executor cores) and ``spark.sql.files.maxPartitionBytes``;
everything else here is scale-invariant.

Python workers fork from ``flink_emqx_connector_spark.pyworker`` instead
of pyspark's stock daemon. Before Python 3.13, a reused worker re-reads
the whole central directory of pyspark.zip once per importer before every
task, about 200 ms of CPU per source read, sink write, UDF task and sink
commit; the daemon installs a fix that re-reads only an archive that
changed (see ``pyworker``). Once the engine requires Python ≥ 3.13, which
no longer re-reads eagerly, the daemon module and ``pyworker`` can go.
Workers start in the JVM's working directory with a PYTHONPATH of their
own, so ``get_spark`` also puts this package's parent directory on it:
the daemon, and every engine UDF, must import the package from wherever
the driver did.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _defaults_conf_java_options() -> str:
    """spark.driver.extraJavaOptions from spark-defaults.conf, read from
    the FILE: SparkConf(loadDefaults=True) is backed by the JVM system
    properties and silently returns nothing before the JVM exists — which
    is exactly when get_spark runs — so a cold start through SparkConf
    would still clobber the user's options."""
    home = os.environ.get("SPARK_HOME")
    conf_dir = os.environ.get("SPARK_CONF_DIR") or (
        os.path.join(home, "conf") if home else None
    )
    if not conf_dir:
        return ""
    path = os.path.join(conf_dir, "spark-defaults.conf")
    found = ""
    try:
        with open(path, encoding="utf-8") as f:
            for line in f:
                parts = line.strip().split(None, 1)
                # Exact key match (prefix matching would also capture e.g.
                # spark.driver.extraJavaOptionsExtra); Spark honors the LAST
                # occurrence of a repeated key, so scan the whole file.
                if parts and parts[0] == "spark.driver.extraJavaOptions":
                    found = parts[1] if len(parts) == 2 else ""
    except OSError:
        pass
    return found


def _driver_java_options() -> str:
    """Our code-cache sizing MERGED with whatever the environment already
    sets (spark-defaults.conf / SPARK_GRAFT_JAVA_OPTS), not clobbering it.

    If the environment already chose a ReservedCodeCacheSize, it is kept
    verbatim; otherwise ours is prepended, and because HotSpot takes the
    LAST occurrence of a repeated flag, every other environment-provided
    option still wins any conflict with ours.
    """
    existing = " ".join(
        part
        for part in (
            _defaults_conf_java_options(),
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""),
        )
        if part
    ).strip()
    ours = "-XX:ReservedCodeCacheSize=1g"
    if "-XX:ReservedCodeCacheSize" in existing:
        return existing  # caller chose a size — respect it
    return f"{ours} {existing}".strip()


def _worker_pythonpath(prior: str) -> str:
    """``prior`` (a caller's worker PYTHONPATH) with this package's parent
    directory in front, unless it is already there."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = [p for p in prior.split(os.pathsep) if p]
    return os.pathsep.join(parts if root in parts else [root, *parts])


def get_spark(
    app_name: str = "flink-emqx-connector-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS); Spark refuses it unless
        # mapped to long (load_events() converts back to micros timestamps,
        # matching DuckDB's truncate-to-micros behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Long-session codegen hygiene, measured on the full 136-query
        # registry (two pathologies, both re-pay whole-stage-codegen on
        # plans that already ran):
        #  - the generated-class cache defaults to 100 entries, so a
        #    session serving many plans evicts and recompiles its widest
        #    ones (MinHash signatures: ~3 s each re-compile);
        #  - the JVM's 240 MB default code cache fills after ~100 wide
        #    plans, flushing/disabling JIT — random queries then run
        #    interpreted (observed: 2.2 s queries ballooning to 29 s).
        # Together these cut the full-registry bench 107-136 s → ~93 s.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.extraJavaOptions", _driver_java_options())
        .config("spark.ui.enabled", "false")
        # see the module docstring
        .config("spark.python.daemon.module", "flink_emqx_connector_spark.pyworker")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The oracle gate collects both engines' full outputs to compare;
        # at sf10 a per-user/per-hour result exceeds the 1g default. Only
        # gate/bench collects ever get near this — engine plans never
        # funnel data through the driver (audited: bounded build-sides).
        # Default 4g < driver heap (8g) so a runaway collect on an
        # ordinary session raises a clean size error instead of OOMing
        # the JVM (ADVICE r9); sf10 gate runs export
        # SPARK_GRAFT_MAX_RESULT alongside the 64g heap.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = _worker_pythonpath(
        conf.get("spark.executorEnv.PYTHONPATH", "")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver-generated parquet table.

    Plain parquet scan → Catalyst predicate pushdown / column pruning apply
    to every query built on top. TIMESTAMP(NANOS) columns (events.ts) arrive
    as long under the nanosAsLong conf and are truncated to micros
    timestamps here — bit-identical to DuckDB's nanos→micros truncation on
    the oracle side (integer division, no double round-trip).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
