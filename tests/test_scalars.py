from __future__ import annotations

from pyspark.sql import functions as F

from fluent_bit_spark.functions import scalars as SC


def test_url_normalize(spark):
    rows = [
        (1, "/users/12345/orders/99?page=2"),
        (2, "/files/550e8400-e29b-41d4-a716-446655440000/meta"),
        (3, "/static/app.js"),
        (4, "/blob/deadbeefdeadbeefdeadbeef"),
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    got = {r.id: r.u for r in df.select("id", SC.url_normalize(F.col("url")).alias("u")).collect()}
    assert got == {
        1: "/users/*/orders/*",
        2: "/files/*/meta",
        3: "/static/app.js",
        4: "/blob/*",
    }


