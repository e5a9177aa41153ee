"""The engine session's static confs that shape every shuffle.

The block codec is read once, when the JVM starts, so a session that does
not carry it from the builder never gets it. This test pins it, and runs
one shuffle and one broadcast through it so that a codec that cannot load
fails here, with its own message, before it fails every other test.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError

from pyspark.sql import functions as F


def test_session_compresses_blocks_with_zstd(spark):
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"

    try:
        counts = (
            spark.range(1000)
            .groupBy((F.col("id") % 7).alias("k"))
            .count()
            .orderBy("k")
            .collect()
        )
        dim = spark.range(7).withColumn("name", F.concat(F.lit("k"), F.col("id")))
        joined = spark.range(1000).withColumn("k", F.col("id") % 7).join(
            F.broadcast(dim), F.col("k") == dim["id"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_joined = joined.count()
    except Py4JJavaError as e:
        pytest.fail(
            "a shuffle or broadcast failed under spark.io.compression.codec=zstd "
            f"(does the zstd-jni native library load on this platform?): {e}"
        )

    assert [(r.k, r["count"]) for r in counts] == [
        (k, len(range(k, 1000, 7))) for k in range(7)
    ]
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert n_joined == 1000
