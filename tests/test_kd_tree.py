"""Tile-assignment parity: distributed kd-tree vs the pure-Python oracle
(same semantics as /root/reference/py3dtilers/Common/kd_tree.py:4-42 with the
documented image_id tie-break; see operators/kd_tree.py docstring)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from py3dtilers_spark.data import features_df
from py3dtilers_spark.operators.kd_tree import (
    _split_tree, _tree_walk, kd_assign, kd_leaf_index, kd_oracle, kd_sample_walk,
)


@pytest.mark.parametrize("kd_tree_max,sample_mod", [(1, 20), (50, 1), (500, 1)])
def test_kd_assignment_matches_oracle(spark, sf_smoke, kd_tree_max, sample_mod):
    feats = features_df(spark, sf_smoke).where(
        f"h2 % {sample_mod} = 0"
    ).select("image_id", "x", "y")
    got = {
        r["image_id"]: r["tile_id"]
        for r in kd_assign(feats, kd_tree_max=kd_tree_max).collect()
    }
    pts = [(r["image_id"], r["x"], r["y"]) for r in feats.collect()]
    want = kd_oracle(pts, kd_tree_max)
    assert len(got) == len(pts)
    mismatches = {k for k in want if got.get(k) != want[k]}
    assert not mismatches, f"{len(mismatches)} mismatched of {len(want)}"


def test_kd_leaf_sizes_and_split(spark, sf_smoke):
    feats = features_df(spark, sf_smoke).select("image_id", "x", "y")
    tiled = kd_assign(feats, kd_tree_max=500)
    sizes = tiled.groupBy("tile_id").count().collect()
    # always at least one split (reference always splits the root once)
    assert len(sizes) >= 2
    assert all(r["count"] <= 500 for r in sizes)


def test_kd_leaf_index_is_dfs_order(spark, sf_smoke):
    feats = features_df(spark, sf_smoke).select("image_id", "x", "y")
    tiled = kd_leaf_index(kd_assign(feats, kd_tree_max=200))
    rows = (
        tiled.select("tile_id", "tile_index").distinct().orderBy("tile_id").collect()
    )
    assert [r["tile_index"] for r in rows] == list(range(len(rows)))


def _node_depths(left):
    depth = np.zeros(len(left), dtype=np.int64)
    stack = [(0, 0)]
    while stack:
        n, d = stack.pop()
        depth[n] = d
        if left[n] >= 0:
            stack += [(left[n], d + 1), (left[n] + 1, d + 1)]
    return depth


def _numpy_walk(tree, xs, ys):
    """Reference walk of a `_split_tree` tree: the vectorized numpy walk the
    scale path ran in a pandas UDF before the walk moved into the JVM, with
    each node's split axis from its depth in the tree. A null coordinate
    arrives as NaN, and NaN fails `<`, so it goes right."""
    thr, left, leaf_path = tree
    thr, left = np.asarray(thr), np.asarray(left)
    axis = _node_depths(left) % 2
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    cur = np.zeros(len(xs), dtype=np.int64)
    live = left[cur] >= 0
    while live.any():
        node = cur[live]
        vals = np.where(axis[node] == 0, xs[live], ys[live])
        with np.errstate(invalid="ignore"):
            go_left = vals < thr[node]
        cur[live] = np.where(go_left, left[node], left[node] + 1)
        live = left[cur] >= 0
    return [leaf_path[c] for c in cur]


def _column_walk(spark, tree, xs, ys):
    def f(v):
        return None if v is None else float(v)

    rows = [(i, f(x), f(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "i long, x double, y double")
    walk = _tree_walk(tree)
    got = df.select("i", walk(F.col("x"), F.col("y")).alias("t")).collect()
    return [r["t"] for r in sorted(got, key=lambda r: r["i"])]


def test_kd_approx_mode_partitions_everything(spark, sf_smoke):
    feats = features_df(spark, sf_smoke).select("image_id", "x", "y")
    n = feats.count()
    walk = kd_sample_walk(feats, 100, n)
    tiled = feats.withColumn("tile_id", walk(F.col("x"), F.col("y")))
    got = {r["image_id"]: r["tile_id"] for r in tiled.collect()}
    assert len(got) == n
    sizes = [r["count"] for r in tiled.groupBy("tile_id").count().collect()]
    # approx mode: leaf rule fires at <= 2*max before the final split
    assert max(sizes) <= 2 * 100
    # n is below sample_cap, so the walk's tree is the full-data tree (the
    # split tree does not depend on row order): the JVM walk must put every
    # row in the numpy walk's leaf
    pts = feats.collect()
    xs = np.array([r["x"] for r in pts])
    ys = np.array([r["y"] for r in pts])
    tree = _split_tree(xs, ys, 100, 1.0)
    want = _numpy_walk(tree, xs, ys)
    assert [got[r["image_id"]] for r in pts] == want


def _grid_tree(n, kd_tree_max, seed=7):
    """Split tree of integer-grid points (many ties, so medians sit exactly
    on sample coordinates) plus query points placed exactly on every split
    threshold, just below it, and with NaN, null and infinite coordinates."""
    rng = np.random.default_rng(seed)
    sx = rng.integers(0, 64, n).astype(np.float64)
    sy = rng.integers(0, 64, n).astype(np.float64)
    tree = _split_tree(sx, sy, kd_tree_max, 1.0)
    thr, left, _ = tree
    inner = [(t, d % 2) for t, k, d in zip(thr, left, _node_depths(left)) if k >= 0]
    xt = sorted({t for t, a in inner if a == 0})
    yt = sorted({t for t, a in inner if a == 1})
    qx = list(sx) + [x for x in xt for _ in yt]
    qy = list(sy) + [y for _ in xt for y in yt]
    qx += [np.nextafter(t, -np.inf) for t in xt] + [32.0] * len(yt)
    qy += [32.0] * len(xt) + [np.nextafter(t, -np.inf) for t in yt]
    nan, inf = float("nan"), float("inf")
    qx += [nan, None, 10.0, 10.0, nan, None, inf, -inf, 10.0]
    qy += [10.0, 10.0, nan, None, nan, None, 10.0, -inf, inf]
    return tree, qx, qy


def test_tree_walk_matches_numpy_on_thresholds_nan_null(spark):
    tree, qx, qy = _grid_tree(3000, 40)
    assert sum(k >= 0 for k in tree[1]) >= 31  # a tree, not a stump
    assert _column_walk(spark, tree, qx, qy) == _numpy_walk(tree, qx, qy)


def test_tree_walk_single_leaf(spark):
    tree, qx, qy = _grid_tree(50, 500)
    assert tree[1] == [-1]  # one node: the root is the only leaf
    assert set(_column_walk(spark, tree, qx, qy)) == {"1"}
    assert _numpy_walk(tree, qx, qy) == ["1"] * len(qx)


def test_tree_walk_many_leaves(spark):
    rng = np.random.default_rng(11)
    sx, sy = rng.random(20_000), rng.random(20_000)
    tree = _split_tree(sx, sy, 5, 1.0)
    n_leaves = sum(1 for p in tree[2] if p)
    assert n_leaves >= 2048
    qx = np.concatenate([sx, rng.random(2_000)])
    qy = np.concatenate([sy, rng.random(2_000)])
    got = _column_walk(spark, tree, qx, qy)
    assert got == _numpy_walk(tree, qx, qy)
    assert len(set(got)) == n_leaves
