"""WordCount — the reference's one example analytics job, Spark-first.

Reference pipeline (``WordCount.java:28-32``):
``flatMap(Keyer)`` (envelope → (payload, 1)) → ``keyBy(f0)`` →
``sum(1)`` (rolling per-key sum) → ``print()``.

Spark mapping (SURVEY.md §2.2 T1-T4):

- T1 ``flatMap``   → ``explode(split(...))`` for 1→N, plain ``select`` for
  1→1 — declarative, so Catalyst prunes the scan to just the payload column.
- T2 ``keyBy``     → the implicit hash shuffle of ``groupBy``.
- T3 ``sum(1)``    → ``groupBy(word).agg(count/sum)``. Flink emits an updated
  running sum per *record*; Structured Streaming emits updated rows per
  *micro-batch* in ``update`` output mode — identical materialized state
  (FIXTURES.md §2 checks final counts).
- T4 ``name()``    → ``queryName`` on the streaming query.

Scale: a groupBy-count is a partial (map-side) agg + shuffle on the key +
final agg — the textbook minimal-shuffle plan; AQE coalesces the post-shuffle
partitions. No Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.decode import decode_string


def word_count(messages: DataFrame, payload_is_text: bool = True) -> DataFrame:
    """Batch/streaming WordCount over envelope rows.

    Each payload is one word in the reference fixture; we generalize to
    whitespace-splitting (true flatMap 1→N) which degrades to the reference
    behavior on single-word payloads.

    Returns ``word STRING, cnt BIGINT``.
    """
    words = messages.select(
        F.explode(F.split(decode_string("payload"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count("*").alias("cnt"))
