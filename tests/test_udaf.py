"""User-extensible aggregates (the registry the reference lacks, SURVEY
§2.10): an Arrow-batched grouped-agg pandas UDAF must agree with the
built-in exact aggregate it reimplements."""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def test_grouped_agg_pandas_udaf_matches_builtin(spark, sf_dir):
    from changegen_spark.sources.tables import load_table

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("double")
    custom = li.groupBy("l_returnflag").agg(
        F.round(median_udaf(qty), 6).alias("m")
    )
    builtin = li.groupBy("l_returnflag").agg(
        F.round(F.percentile(qty, F.lit(0.5)), 6).alias("m")
    )
    assert sorted(map(tuple, custom.collect())) == sorted(map(tuple, builtin.collect()))


def test_udaf_in_window(spark, sf_dir):
    """The same UDAF applied over a window frame — the reference has no
    equivalent extension point at all."""
    from pyspark.sql import Window

    from changegen_spark.sources.tables import load_table

    @pandas_udf("double")
    def mean_udaf(v: pd.Series) -> float:
        return float(v.mean())

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 0)
    w = Window.partitionBy("l_orderkey")
    out = li.select(
        "l_orderkey",
        F.round(mean_udaf(F.col("l_quantity").cast("double")).over(w), 6).alias("m"),
        F.round(F.avg(F.col("l_quantity").cast("double")).over(w), 6).alias("b"),
    )
    assert out.filter(F.col("m") != F.col("b")).count() == 0
