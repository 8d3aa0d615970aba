"""Z-order clustering layout: key correctness + measured data-skipping
benefit vs a linear layout (sources/layout.py)."""

import pyspark.sql.functions as F

from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import rowgroup_stats
from dea05_e2e_kafka_streaming_pipeline_spark.sources.layout import (
    rowgroups_matching_box,
    write_zordered,
    zorder_key,
)
from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

from tests.conftest import SF_SMOKE


def test_zorder_key_interleaves_bits(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (65535, 65535)], "x long, y long"
    )
    got = {
        (r.x, r.y): r.zval
        for r in df.select("x", "y", zorder_key(["x", "y"])).collect()
    }

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y)
    # locality sanity: neighbors in both dims stay near in z
    assert got[(1, 1)] == 3 and got[(1, 0)] == 1 and got[(0, 1)] == 2


def test_zorder_key_rejects_overflow(spark):
    import pytest

    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c", "d"], bits=16)


def test_zorder_layout_prunes_more_rowgroups(spark, tmp_path):
    """Write orders linear (by date — the natural ingestion order) and
    z-ordered on (custkey, order day); for a 2-D box predicate the
    z-layout's zone maps must let strictly more row-groups be skipped.
    This is the measured claim behind the 100 TB story: same bytes,
    same row-group count, fewer groups any selective 2-D scan reads."""
    orders = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01")).alias(
            "order_day"
        ),
        "o_totalprice",
    )
    small_groups = {"parquet.block.size": str(16 * 1024)}  # many row-groups

    linear = str(tmp_path / "linear")
    (
        orders.repartitionByRange(4, "order_day")
        .sortWithinPartitions("order_day")
        .write.options(**small_groups)
        .mode("overwrite")
        .parquet(linear)
    )
    zord = str(tmp_path / "zord")
    keyed = orders.withColumn("_zval", zorder_key(["o_custkey", "order_day"]))
    (
        keyed.repartitionByRange(4, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zval")
        .write.options(**small_groups)
        .mode("overwrite")
        .parquet(zord)
    )

    cols = ["o_custkey", "order_day"]
    stats_lin = rowgroup_stats(spark, linear, cols)
    stats_z = rowgroup_stats(spark, zord, cols)
    total_lin = stats_lin.select("file_name", "row_group").distinct().count()
    total_z = stats_z.select("file_name", "row_group").distinct().count()
    assert total_lin > 4 and total_z > 4  # small blocks took effect

    # a selective box on BOTH dims: one customer-decile x one year
    box = {"o_custkey": (0.0, 150.0), "order_day": (1000.0, 1365.0)}
    hit_lin = rowgroups_matching_box(stats_lin, box).count()
    hit_z = rowgroups_matching_box(stats_z, box).count()
    frac_lin = hit_lin / total_lin
    frac_z = hit_z / total_z
    # the linear-by-date layout prunes the date dim but reads ~every
    # group in the date range regardless of customer; z-order prunes
    # on both dims at once
    assert frac_z < frac_lin, (hit_z, total_z, hit_lin, total_lin)

    # and the pruning decision is sound: groups it keeps contain every
    # matching row (spot-check by reading with the real predicate)
    want = orders.filter(
        (F.col("o_custkey").between(0, 150))
        & (F.col("order_day").between(1000, 1365))
    ).count()
    got = (
        spark.read.parquet(zord)
        .filter(
            (F.col("o_custkey").between(0, 150))
            & (F.col("order_day").between(1000, 1365))
        )
        .count()
    )
    assert got == want


def test_write_zordered_round_trips(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "zo")
    write_zordered(
        orders,
        out,
        [F.col("o_custkey"), F.dayofyear(F.col("o_orderdate").cast("date"))],
        num_files=4,
    )
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)


def test_hilbert_matches_reference_and_unit_steps(spark):
    """Exhaustive 16x16 check against the classic xy2d fold, plus THE
    Hilbert property Morton lacks: consecutive ranks are always
    adjacent cells (unit L1 step) — the locality claim behind using it
    as a clustering key."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.layout import with_hilbert

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x int, y int"
    )
    got = {
        (r.x, r.y): r.hval for r in with_hilbert(grid, "x", "y", bits=4).collect()
    }
    want = {(x, y): xy2d(16, x, y) for x in range(16) for y in range(16)}
    assert got == want

    inv = {d: xy for xy, d in want.items()}
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(255)
    )


def test_with_hilbert_8bit_plans_and_is_bijective_on_diagonal(spark):
    """The DataFrame fold survives 8 levels (a single Column form cannot),
    stays shuffle-free, and distinct inputs map to distinct ranks."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.layout import with_hilbert

    df = spark.range(0, 4096).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("int").alias("y")
    )
    out = with_hilbert(df, "x", "y", bits=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection
    vals = [r.hval for r in out.collect()]
    assert len(set(vals)) == 4096
    assert all(0 <= v < 65536 for v in vals)
