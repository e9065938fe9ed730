"""Effective exactly-once on top of at-least-once delivery: redelivered
duplicates are eliminated by keyed dedup before the sink — the upgrade
path the reference documents as out of scope (duplicates possible,
EMQXSourceIntegrationTest.java:295-298)."""

import time
import uuid

from pyspark.sql import functions as F

from flink_emqx_connector_spark.sources import register_emqx_source
from flink_emqx_connector_spark.sources.transport import SpoolPublisher


def _wait(predicate, timeout=30.0, step=0.2):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(step)
    return False


def test_dedup_on_message_key_absorbs_redelivery(spark, tmp_path):
    """Publish the same message id twice (simulating broker redelivery
    after a crash); dropDuplicates on the message key inside the stream
    yields exactly-once results in the sink."""
    spool = str(tmp_path / "spool")
    pub = SpoolPublisher(spool)
    # msg_id rides in MQTT5 user-properties; ids 0..4, id 2 delivered twice
    for i in [0, 1, 2, 2, 3, 4]:
        pub.publish("t/1", f"payload-{i}".encode(), properties={"msg_id": str(i)})
    pub.flush()

    register_emqx_source(spark)
    df = (
        spark.readStream.format("emqx")
        .option("transport", "spool")
        .option("spool_dir", spool)
        .option("partitions", "2")
        .load()
    )
    deduped = df.select(
        F.col("properties")["msg_id"].alias("msg_id"),
        F.decode("payload", "UTF-8").alias("body"),
    ).dropDuplicates(["msg_id"])
    name = f"eo_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql(f"SELECT count(*) c FROM {name}").head()["c"] >= 5
        )
        time.sleep(0.5)  # would-be duplicates had time to arrive
        rows = spark.sql(f"SELECT msg_id, count(*) c FROM {name} GROUP BY msg_id").collect()
        assert {r.msg_id: r.c for r in rows} == {str(i): 1 for i in range(5)}
    finally:
        q.stop()
