"""``python -m flink_emqx_connector_spark.pyworker``: install the fix, then
run pyspark's daemon. It lives in ``__main__`` rather than in ``pyworker``
itself because the package ``__init__`` imports ``pyworker``, and runpy
would then execute that module a second time as main."""

if __name__ == "__main__":
    from flink_emqx_connector_spark.pyworker import install

    install()
    from pyspark.daemon import manager

    manager()
