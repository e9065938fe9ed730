"""Payload decode layer — the Spark equivalent of the reference's pluggable
``DeserializationSchema`` (reference ``EMQXSource.java:43``,
``EMQXSourceReader.java:71-82``, ``StringDeserializer.java:8-10``).

The reference decodes ``byte[] → OUT`` per record on the reader thread and
*drops* malformed payloads with a log line (``EMQXSourceReader.java:80-82``).
Here decoding is a column expression over the envelope DataFrame, so it runs
JVM-side inside whole-stage codegen; malformed rows become NULLs that can be
split into a dead-letter DataFrame instead of silently dropped — a strict
improvement the survey calls for (SURVEY.md §2 S9).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_string(payload: Column | str = "payload", charset: str = "UTF-8") -> Column:
    """``byte[] → String`` — parity with the reference's ``StringDeserializer``."""
    col = F.col(payload) if isinstance(payload, str) else payload
    return F.decode(col, charset)


def decode_json(
    payload: Column | str,
    schema: T.StructType | str,
    charset: str = "UTF-8",
    options: dict[str, str] | None = None,
) -> Column:
    """``byte[] → struct`` via ``from_json``. Malformed input → NULL struct
    (PERMISSIVE), never a task failure."""
    return F.from_json(decode_string(payload, charset), schema, options or {})


def decode_csv(payload: Column | str, schema: str, charset: str = "UTF-8") -> Column:
    """``byte[] → struct`` via ``from_csv`` (DDL schema string)."""
    return F.from_csv(decode_string(payload, charset), F.lit(schema))
