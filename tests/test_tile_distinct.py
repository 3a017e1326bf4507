"""Mergeable distinct pyramid (operators/tiles.py::tile_distinct /
tile_distinct_hll).

The invariant under test is the one that makes the pyramid legal at
100 TB: per-tile distinct counts derived by MERGING child-tile state
(bitmap OR / HLL union) must equal counting each tile's rows directly —
including ids that appear in several child tiles of one parent, the
case where summing counts double-counts.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from osm_notes_ingestion_spark.functions.mercator import tile_xy_np
from osm_notes_ingestion_spark.operators.tiles import (
    tile_counts,
    tile_distinct,
    tile_distinct_hll,
)


def _pts(spark, rows):
    return spark.createDataFrame(rows, "user_id long, lat double, lon double")


def _direct(df, z):
    """Direct per-zoom COUNT(DISTINCT) oracle — re-bins the fact rows at
    the requested zoom (the plan shape the pyramid exists to avoid)."""
    from osm_notes_ingestion_spark.functions.mercator import tile_x_col, tile_y_col

    return (
        df.select(
            F.lit(z).alias("z"),
            tile_x_col(F.col("lon"), z).alias("x"),
            tile_y_col(F.col("lat"), z).alias("y"),
            "user_id",
        )
        .groupBy("z", "x", "y")
        .agg(F.count("*").alias("cnt"), F.countDistinct("user_id").alias("uniq"))
    )


def test_parent_does_not_double_count(spark):
    # one user with points in two different z2 children of one z1 tile;
    # additive rollup would say 2, the bitmap OR must say 1
    rows = [
        (7, 10.0, 10.0),   # z2 tile (2, 1)
        (7, 10.0, 100.0),  # z2 tile (3, 1) — same z1 parent (1, 0)
        (8, 10.0, 10.0),
    ]
    got = {
        (r["z"], r["x"], r["y"]): (r["cnt"], r["uniq"])
        for r in tile_distinct(_pts(spark, rows), max_zoom=2, min_zoom=1).collect()
    }
    assert got[(2, 2, 1)] == (2, 2)
    assert got[(2, 3, 1)] == (1, 1)
    # parent: 3 points, but only users {7, 8}
    assert got[(1, 1, 0)] == (3, 2)


def test_pyramid_equals_direct_all_zooms(spark):
    # ids chosen to straddle bitmap bucket boundaries (32767/32768),
    # include 0 and negatives (bucket <= 0, mirrored positions), and
    # wide 64-bit-ish ids
    ids = [0, 1, 2, 77, 32766, 32767, 32768, 32769, 99999, 2**40, 2**40 + 1,
           -1, -32768, -32769, -(2**40)]
    rows = []
    for i in range(400):
        u = ids[i % len(ids)]
        lat = -80.0 + (i * 37 % 160) + 0.25
        lon = -179.0 + (i * 91 % 358) + 0.5
        rows.append((u, lat, lon))
    df = _pts(spark, rows)
    pyr = tile_distinct(df, max_zoom=4, min_zoom=0)
    got = {
        (r["z"], r["x"], r["y"]): (r["cnt"], r["uniq"]) for r in pyr.collect()
    }
    for z in range(5):
        want = {
            (r["z"], r["x"], r["y"]): (r["cnt"], r["uniq"])
            for r in _direct(df, z).collect()
        }
        assert {k: v for k, v in got.items() if k[0] == z} == want, f"z={z}"


def test_cnt_column_matches_tile_counts(spark):
    # the cnt leg must be bit-identical to the additive pyramid so the
    # gate fold (tiles_z4 keeps its cnt column) is a strict superset
    rows = [((i * 7) % 23, -60.0 + i * 0.7, -170.0 + i * 1.7) for i in range(200)]
    df = _pts(spark, rows)
    a = {
        (r["z"], r["x"], r["y"]): r["cnt"]
        for r in tile_distinct(df, max_zoom=3, min_zoom=1).collect()
    }
    b = {
        (r["z"], r["x"], r["y"]): r["cnt"]
        for r in tile_counts(df, max_zoom=3, min_zoom=1).collect()
    }
    assert a == b


def test_null_coords_dropped(spark):
    rows = [(1, 0.0, 0.0), (2, None, 0.0), (3, 0.0, None)]
    got = tile_distinct(_pts(spark, rows), max_zoom=0).collect()
    assert len(got) == 1 and got[0]["cnt"] == 1 and got[0]["uniq"] == 1


def test_single_fact_scan_plan(spark, tmp_path):
    # the whole point: one scan of the fact table no matter how many
    # zoom levels, and a fixed number of exchanges whatever the span —
    # finest (tile, bucket) bitmaps, their merge per ancestor tile, and
    # the per-tile bucket sum. Pinned with AQE off so the plan string is
    # the static plan, not the adaptive wrapper.
    p = str(tmp_path / "pts")
    _pts(spark, [(i % 5, 10.0 + i * 0.01, 20.0 + i * 0.01) for i in range(100)]).write.parquet(p)
    df = spark.read.parquet(p)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plans = [
            tile_distinct(df, max_zoom=hi, min_zoom=lo)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            for lo, hi in ((2, 6), (0, 8))
        ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    for plan in plans:
        assert plan.count("FileScan parquet") == 1, plan
        assert plan.count("Exchange hashpartitioning") == 3, plan


def test_hll_pyramid_tracks_exact_every_level(spark):
    # union-merged estimates are NOT bit-identical to sketching a
    # tile's rows directly (sparse->dense representation promotions
    # differ along the two paths — measured here: a few per mille at
    # z=1), so the pinned contract is accuracy against the EXACT
    # distinct count at every level, well inside the lgk=12 error bound
    rows = []
    for i in range(3000):
        rows.append((i % 701, -70.0 + (i * 13 % 140) + 0.1, -170.0 + (i * 29 % 340) + 0.1))
    df = _pts(spark, rows)
    pyr = {
        (r["z"], r["x"], r["y"]): r["uniq_est"]
        for r in tile_distinct_hll(df, max_zoom=3, min_zoom=1, lgk=12).collect()
    }
    for z in (1, 2, 3):
        exact = {
            (r["z"], r["x"], r["y"]): r["uniq"] for r in _direct(df, z).collect()
        }
        assert set(exact) == {k for k in pyr if k[0] == z}
        for k, want in exact.items():
            assert math.isclose(pyr[k], want, rel_tol=0.05), (k, pyr[k], want)


def test_hll_estimate_tolerance(spark):
    # ~1.04/sqrt(2^12) ≈ 1.6% standard error; assert a loose 5% band on
    # a 20k-distinct single tile
    rows = [(i, 10.001 + (i % 7) * 1e-6, 20.001) for i in range(20000)]
    got = tile_distinct_hll(_pts(spark, rows), max_zoom=0, lgk=12).collect()
    assert len(got) == 1
    est = got[0]["uniq_est"]
    assert got[0]["cnt"] == 20000
    assert math.isclose(est, 20000, rel_tol=0.05), est


def test_binning_matches_numpy_twin(spark):
    import numpy as np

    rows = [((i % 11), -84.0 + i * 0.83, -179.5 + i * 1.79) for i in range(200)]
    df = _pts(spark, rows)
    got = sorted(
        (r["x"], r["y"])
        for r in tile_distinct(df, max_zoom=5, min_zoom=5).collect()
    )
    lat = np.array([r[1] for r in rows])
    lon = np.array([r[2] for r in rows])
    x, y = tile_xy_np(lat, lon, 5)
    want = sorted(set(zip(x.tolist(), y.tolist())))
    assert got == want


def test_extra_dims_carried_and_scoped(spark):
    # distinct is per (tile, dims) cell: the same user under two dim
    # values counts once in EACH cell; the pyramid merge stays inside a
    # cell (same contract as tile_counts' year buckets)
    rows = [
        (7, 10.0, 10.0, 2023),
        (7, 10.0, 100.0, 2023),   # other z2 child, same z1 parent
        (7, 10.0, 10.0, 2024),
        (8, 10.0, 10.0, 2024),
    ]
    df = spark.createDataFrame(rows, "user_id long, lat double, lon double, yr long")
    got = {
        (r["z"], r["x"], r["y"], r["yr"]): (r["cnt"], r["uniq"])
        for r in tile_distinct(df, max_zoom=2, min_zoom=1, extra_dims=("yr",)).collect()
    }
    assert got[(1, 1, 0, 2023)] == (2, 1)   # user 7 merged across children
    assert got[(1, 1, 0, 2024)] == (2, 2)   # users 7 and 8
    assert got[(2, 2, 1, 2023)] == (1, 1)
    assert got[(2, 3, 1, 2023)] == (1, 1)
