"""Distributed kd-tree tile partitioning.

Semantics follow the reference 2-D kd-tree
(/root/reference/py3dtilers/Common/kd_tree.py:4-42):

- alternate split axis x/y by depth
- stable sort by centroid[axis]; split at ``len // 2`` (left gets floor)
- ALWAYS split the root once; a split pair becomes two leaves iff BOTH
  halves are <= kd_tree_max, else BOTH halves recurse
- empty left halves (n == 1) vanish

One deliberate deviation, required for a distributed table (where "input
list order" does not exist): sort ties are broken by ``image_id`` instead of
by prior list position. The pytest oracle (``kd_oracle``) implements the
identical rule, and on tie-free data the assignment equals the reference's.

Tile id = the left/right path bitstring ('0' = left); the reference's DFS
tile numbering (tileset_creation.py:23,130) equals the lexicographic rank of
the path, exposed via ``kd_leaf_index``.

Scale notes: exact mode costs one hash-shuffle + in-partition sort per level
(log2(N / kd_tree_max) levels; ~11 at 10^12 rows with max=500 it is 31 levels
— each a single window over cells that halve in size every level, so total
shuffled bytes per level stay constant ~= dataset size; AQE coalesces the
tail). Scale mode (``kd_sample_walk``) replaces the per-level shuffles with
a split tree built from a bounded sample and one map-side tree walk, a JVM
expression over the tree's constant array literals (no broadcast, no Python
UDF): leaf sizes are approximate within sampling error.
"""
from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def kd_assign(
    df: DataFrame,
    kd_tree_max: int = 500,
    id_col: str = "image_id",
    x_col: str = "x",
    y_col: str = "y",
    local_cap: int = 1_000_000,
) -> DataFrame:
    """Assign each row a kd-leaf ``tile_id`` path bitstring.

    Exact mode is HYBRID: distributed exact-median splits run only until
    every live cell fits ``local_cap`` rows (executor-memory sized); each
    such cell is then finished in a single applyInPandas task running the
    identical recursion locally. Total distributed levels =
    log2(N / local_cap) (e.g. ~20 for 10^12 rows at cap 1M) instead of
    log2(N / kd_tree_max); the local phase is embarrassingly parallel.

    local_cap default (round 6): 1M rows. Every distributed level is a
    full-dataset range shuffle + materialization, so the hybrid switch
    should come as soon as a cell comfortably fits one task: the finisher
    is now the vectorized ``kd_rank.kd_finish_numpy`` (~3 us/row, n log n,
    ~40 B/row working set — a 1M-row cell is ~40 MB of pandas and ~4 s of
    task CPU). The former 200k cap was sized to the old pure-Python
    finisher (~7.4 us/row measured at 150k rows).

    Since round 5 the shallow split levels use the range-partitioned
    exact-rank step (operators/kd_rank.py): at depth 0-1 a
    ``Window.partitionBy("tile_id")`` key is (nearly) constant, Catalyst
    constant-folds it away and the whole dataset flows through ONE
    WindowExec task — measured 2.6x slower at 5M rows and unbounded in N
    (BENCH/BASELINE.md round-5 notes). The rank step keeps every level a
    normal shuffle; deep levels (many small cells) keep the window step,
    which hash-partitions well there. Parity of both paths with the
    Python oracle is pinned by tests/test_kd_rank.py.
    """
    from .kd_rank import kd_assign_rank

    return kd_assign_rank(
        df, kd_tree_max, id_col=id_col, x_col=x_col, y_col=y_col,
        local_cap=local_cap,
    )


def _kd_exact_window(df, kd_tree_max, id_col, x_col, y_col, local_cap):
    """Round-4 window-only exact path, retained as the independent parity
    twin for tests/test_kd_rank.py (NOT in the job path: its depth-0/1
    window partitions by a constant key -> single-task WindowExec)."""
    local_cap = max(local_cap, 2 * kd_tree_max + 1)
    cur = df.withColumn("tile_id", F.lit(""))
    out_schema = cur.schema
    cols = [f.name for f in out_schema.fields]
    done_parts: list[DataFrame] = []
    depth = 0
    while True:
        mx_row = (
            cur.groupBy("tile_id").agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n").alias("mx")).collect()
        )
        mx = mx_row[0]["mx"] if mx_row else None
        if mx is None or mx <= local_cap:
            break
        axis = x_col if depth % 2 == 0 else y_col
        w_order = Window.partitionBy("tile_id").orderBy(
            F.col(axis).asc(), F.col(id_col).asc()
        )
        w_cell = Window.partitionBy("tile_id")
        stepped = (
            cur.withColumn("_rn", F.row_number().over(w_order))
            .withColumn("_n", F.count(F.lit(1)).over(w_cell))
            .withColumn("_m", F.floor(F.col("_n") / 2))
            .withColumn(
                "tile_id",
                F.concat(
                    F.col("tile_id"),
                    F.when(F.col("_rn") <= F.col("_m"), F.lit("0")).otherwise(F.lit("1")),
                ),
            )
            # right half size ceil(n/2) >= left; leaf iff it fits
            .withColumn("_leaf", (F.col("_n") - F.col("_m")) <= F.lit(kd_tree_max))
            .drop("_rn", "_n", "_m")
        )
        stepped = stepped.localCheckpoint(eager=True)  # truncate iterative lineage
        done_parts.append(stepped.where("_leaf").drop("_leaf"))
        cur = stepped.where("NOT _leaf").drop("_leaf")
        depth += 1

    def finish_cell(pdf):
        path = pdf["tile_id"].iloc[0]
        pts = list(zip(pdf[id_col], pdf[x_col], pdf[y_col]))
        assign = kd_oracle(pts, kd_tree_max, path=path)
        out = pdf.copy()
        out["tile_id"] = out[id_col].map(assign)
        return out[cols]

    finished = cur.groupBy("tile_id").applyInPandas(finish_cell, schema=out_schema)
    out = finished
    for p in done_parts:
        out = out.unionByName(p)
    return out


def kd_sample_walk(
    df_xy: DataFrame,
    kd_tree_max: int,
    n_total: int,
    x_col: str = "x",
    y_col: str = "y",
    sample_cap: int = 100_000,
):
    """Build the sample split-tree from a slim (x, y) source and return
    `walk(x, y) -> tile_id`, a Catalyst Column expression.

    Like Spark's RangePartitioner: medians of a bounded sample, leaf-size
    estimates scaled by the sampling fraction, and ZERO shuffles for the
    assignment — versus one shuffle per level for the exact path.
    Splitting the tree build from the assignment lets a payload-heavy table
    be assigned map-side while the sample scan reads only the centroid
    columns from the file source. The walk runs in the JVM (no broadcast,
    no Python task, no x/y Arrow round trip): the tree rides in the plan
    as constant array literals, so the map stage is scan -> project ->
    shuffle write."""
    frac = min(1.0, sample_cap / max(n_total, 1))
    sample = df_xy.select(x_col, y_col)
    if frac < 1.0:
        sample = sample.sample(fraction=frac, seed=42)
    spts = sample.toPandas()
    sx = spts[x_col].to_numpy()
    sy = spts[y_col].to_numpy()
    scale = n_total / max(len(sx), 1)
    return _tree_walk(_split_tree(sx, sy, kd_tree_max, scale))


def _split_tree(sx: np.ndarray, sy: np.ndarray, kd_tree_max: int, scale: float):
    """Median split tree of the sample points (sx, sy), where each sample
    point stands for `scale` rows. Returns (thr, left, leaf_path) as
    node-indexed lists with node 0 the root: an inner node at depth d goes
    to `left[n]` when its x (d even) or y (d odd) coordinate is `< thr[n]`,
    else to `left[n] + 1` (siblings are allocated as a pair); a leaf has
    `left[n] == -1` and its tile id in `leaf_path[n]`."""
    thr: list[float] = [0.0]
    left: list[int] = [-1]
    leaf_path: list[str] = [""]

    def build(node: int, idx: np.ndarray, depth: int, path: str) -> None:
        est = len(idx) * scale
        if est <= kd_tree_max or len(idx) <= 1 or depth > 40:
            leaf_path[node] = path or "1"  # degenerate single-node tree
            return
        vals = sx[idx] if depth % 2 == 0 else sy[idx]
        med = float(np.median(vals))
        lo = idx[vals < med]
        hi = idx[vals >= med]
        if len(lo) == 0 or len(hi) == 0:  # all-equal axis values
            leaf_path[node] = path or "1"
            return
        li = len(thr)
        thr[node], left[node] = med, li
        thr.extend((0.0, 0.0))
        left.extend((-1, -1))
        leaf_path.extend(("", ""))
        build(li, lo, depth + 1, path + "0")
        build(li + 1, hi, depth + 1, path + "1")

    import sys

    old_limit = sys.getrecursionlimit()
    sys.setrecursionlimit(10000)
    try:
        build(0, np.arange(len(sx)), 0, "")
    finally:
        sys.setrecursionlimit(old_limit)
    return thr, left, leaf_path


def _tree_walk(tree):
    """`walk(x, y) -> tile_id` Column over a `_split_tree` tree: one
    `node -> child` step per depth d, folded with `aggregate` over d; a
    row that already reached its leaf stays there. A leaf's path length is
    its depth, so the longest path bounds the steps (the single-node
    tree's "1" adds one no-op step). Comparisons are `<` and a null or NaN
    coordinate fails them, so it goes right — the same leaf as a numpy
    walk of the tree.

    Each array is ONE JSON string literal parsed by `from_json`, which
    Catalyst constant-folds once on the driver: `F.lit` of a Python list or
    ndarray is converted by py4j one element at a time (seconds at 64k
    nodes). Python's float repr round-trips exactly."""
    thr, left, leaf_path = tree
    steps = max(len(p) for p in leaf_path)

    def array_lit(values: list, elem: str) -> Column:
        return F.from_json(F.lit(json.dumps(values)), f"array<{elem}>")

    thr_a = array_lit(thr, "double")
    left_a = array_lit(left, "int")
    path_a = array_lit(leaf_path, "string")

    def walk(x: Column, y: Column) -> Column:
        def step(node: Column, depth: Column) -> Column:
            kid = F.get(left_a, node)
            val = F.when(depth % 2 == 0, x).otherwise(y)
            return (
                F.when(kid < 0, node)
                .when(val < F.get(thr_a, node), kid)
                .otherwise(kid + 1)
            )

        leaf = F.aggregate(F.sequence(F.lit(0), F.lit(steps - 1)), F.lit(0), step)
        return F.get(path_a, leaf)

    return walk


def kd_leaf_index(tiles: DataFrame) -> DataFrame:
    """Dense 0-based tile index in DFS order = lex order of path bitstrings
    (reproduces FromGeometryTreeToTileset.tile_index,
    /root/reference/py3dtilers/Common/tileset_creation.py:23,130).
    Indexing is distributed (range-partitioned prefix sum, never a
    single-task global window — operators/indexing.py)."""
    from .indexing import dense_index

    idx = dense_index(
        tiles.select("tile_id").distinct(), ["tile_id"], "tile_index"
    )
    return tiles.join(F.broadcast(idx), "tile_id")


def kd_oracle(points, kd_tree_max, path=""):
    """Pure-Python oracle with the engine's exact semantics (mirrors the
    reference algorithm at kd_tree.py:4-42 with the documented id tie-break).
    Doubles as the local finisher of the hybrid kd split (depth resumes from
    len(path), preserving axis alternation).

    points: iterable of (id, x, y). Returns {id: tile_id_path}.
    """
    out = {}
    stack = [(path, list(points), len(path))]
    while stack:
        path, pts, depth = stack.pop()
        axis = 1 + depth % 2
        pts = sorted(pts, key=lambda p: (p[axis], p[0]))
        m = len(pts) // 2
        left, right = pts[:m], pts[m:]
        if len(right) > kd_tree_max:  # len(right) >= len(left) always
            stack.append((path + "0", left, depth + 1))
            stack.append((path + "1", right, depth + 1))
        else:
            for p in left:
                out[p[0]] = path + "0"
            for p in right:
                out[p[0]] = path + "1"
    return out
