"""PySpark-native streaming analytics engine with the capabilities of the
reference Flink EMQX connector (``thalesmg/flink-emqx-connector``).

The reference is a Flink FLIP-27 source connector that turns an EMQX MQTT 5
broker into an unbounded stream of typed ``EMQXMessage`` envelopes, plus a
streaming WordCount example. This package re-expresses that surface
Spark-first:

- ``sources.emqx``       — Python ``DataSource``/``DataSourceStreamReader``
  MQTT source (parity with ``EMQXSource``/``EMQXSourceReader``/
  ``EMQXSplitEnumerator``, reference ``EMQXSource.java:33-105``).
- ``schema``             — canonical envelope schema (``EMQXMessage.java:5-18``).
- ``functions.decode``   — the payload decode layer (``DeserializationSchema``
  equivalent, ``EMQXSourceReader.java:71-82``).
- ``operators``          — the relational + LLM-data-pipeline operator surface
  (WordCount parity per ``WordCount.java:28-32``; dedup / similarity /
  text-analysis / multimodal extensions are new, Spark-first designs).
- ``sinks.emqx``         — MQTT publisher sink (the reference only has
  test/console sinks; this closes the loop).

Everything is DataFrame/Catalyst-first; Python UDFs appear only where the
semantics genuinely require them (MinHash, SimHash, multimodal feature
extraction) and are always Arrow-vectorized.
"""

from . import pyworker

__version__ = "0.1.0"

# Spark's planner workers (data-source planning, the sink's commit) fork
# from pyspark's stock daemon, not ``pyworker``; they import this package
# when they unpickle the source or the writer.
pyworker.install()
