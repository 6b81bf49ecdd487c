"""Bottom-up bounding-volume hierarchy + tileset manifest.

Reference: FromGeometryTreeToTileset
(/root/reference/py3dtilers/Common/tileset_creation.py:27-139) walks the
GeometryTree depth-first on the driver, unioning child bounding volumes into
parents (:117-119) and hard-coding root geometric error 500 (:39).

Engine version: tile ids are kd-path bitstrings, so EVERY ancestor of a leaf
is a prefix of its path. One ``explode(prefixes)`` + one hash aggregation
computes the whole tree bottom-up — the treeAggregate-shaped roll-up of the
north rule collapsed into a single shuffle (partial min/max/sum combine
map-side, so shuffled bytes ~ #nodes, not #rows). No driver recursion.

Geometric errors: leaves = 1.0; internal level L = 1 + 499 * 0.5^L, hence
root (L=0) = 500.0 exactly, and GE strictly decreases root -> leaf along
every path (the invariant the reference's tests pin: root 500, LOA 20 >
LOD1 5 > leaf 1; see lod.py for the parity chain).
"""
from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LEAF_GE = 1.0


def tile_stats(tiled: DataFrame) -> DataFrame:
    """Per-leaf-tile bbox + count (reference A2/A3 aggregations)."""
    return tiled.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
        F.min("z").alias("zmin"),
        F.max("z").alias("zmax"),
    )


def tile_tree(tiled: DataFrame) -> DataFrame:
    """Full tile tree (leaves + all ancestors) in ONE aggregation.

    Input: rows with ``tile_id`` path + x/y/z. Output columns:
    (tile_id, parent_id, level, is_leaf, geometric_error, n_features,
    xmin..zmax). Root has tile_id '' and parent_id null.
    """
    return tile_tree_from_stats(tile_stats(tiled))


def tile_tree_from_stats(leaf_stats: DataFrame) -> DataFrame:
    """Tree roll-up from PRE-AGGREGATED leaf stats (tile_id, n_features,
    xmin..zmax) — e.g. the bbox columns the tile encoder emits. Input is
    O(#tiles), so the whole hierarchy costs one tiny explode+agg."""
    leaves = leaf_stats.select(
        "tile_id", "n_features",
        "xmin", "xmax", "ymin", "ymax", "zmin", "zmax",
    ).withColumn("is_leaf", F.lit(True))

    # every prefix of the path, including '' (root); '' for the leaf itself
    # is excluded because the leaf row carries is_leaf=True already
    ancestors = (
        leaves.select(
            F.explode(
                F.concat(
                    F.array(F.lit("")),
                    # sequence(1, 0) would generate a DESCENDING [1, 0] in
                    # Spark, so guard length-1 leaves explicitly
                    F.expr(
                        "CASE WHEN length(tile_id) <= 1 THEN array()"
                        " ELSE transform(sequence(1, length(tile_id) - 1),"
                        " i -> substring(tile_id, 1, i)) END"
                    ),
                )
            ).alias("tile_id"),
            "n_features",
            "xmin", "xmax", "ymin", "ymax", "zmin", "zmax",
        )
        .groupBy("tile_id")
        .agg(
            F.sum("n_features").alias("n_features"),
            F.min("xmin").alias("xmin"),
            F.max("xmax").alias("xmax"),
            F.min("ymin").alias("ymin"),
            F.max("ymax").alias("ymax"),
            F.min("zmin").alias("zmin"),
            F.max("zmax").alias("zmax"),
        )
        .withColumn("is_leaf", F.lit(False))
    )

    tree = leaves.unionByName(ancestors)
    return (
        tree.withColumn("level", F.length("tile_id"))
        .withColumn(
            "parent_id",
            F.when(F.col("level") > 0, F.expr("substring(tile_id, 1, length(tile_id) - 1)")),
        )
        .withColumn(
            "geometric_error",
            F.when(F.col("is_leaf"), F.lit(LEAF_GE)).otherwise(
                F.lit(1.0) + F.lit(499.0) * F.pow(F.lit(0.5), F.col("level"))
            ),
        )
    )


def _node_dict(rows: dict, children: dict, tid: str) -> dict:
    """One tileset.json node from a plain row dict (shared by the driver
    manifest build and the per-shard executor build)."""
    r = rows[tid]
    cx = (r["xmin"] + r["xmax"]) / 2.0
    cy = (r["ymin"] + r["ymax"]) / 2.0
    cz = (r["zmin"] + r["zmax"]) / 2.0
    hx = (r["xmax"] - r["xmin"]) / 2.0
    hy = (r["ymax"] - r["ymin"]) / 2.0
    hz = (r["zmax"] - r["zmin"]) / 2.0
    return {
        "boundingVolume": {
            # 3D Tiles spec box: center + three half-axis vectors (the
            # 12-number form py3dtiles emits for the reference)
            "box": [cx, cy, cz, hx, 0.0, 0.0, 0.0, hy, 0.0, 0.0, 0.0, hz],
        },
        # engine-internal min/max sextuple (merge + tests read this)
        "bboxMinMax": [
            r["xmin"], r["ymin"], r["zmin"], r["xmax"], r["ymax"], r["zmax"]
        ],
        "geometricError": r["geometric_error"],
        "refine": "ADD",
        "tile_id": tid,
        "n_features": r["n_features"],
        "children": [
            _node_dict(rows, children, c) for c in sorted(children.get(tid, []))
        ],
    }


def _children_map(rows: dict) -> dict:
    children: dict[str, list[str]] = {}
    for tid in rows:
        if tid:
            children.setdefault(tid[:-1], []).append(tid)
    return children


def manifest(tree_df: DataFrame) -> dict:
    """Collect the (small) tile tree and emit a tileset.json-shaped dict
    (reference: TileSet serialization, tileset_creation.py:27-55). The tree
    has ~2 * n_leaves nodes — thousands, not billions — so driver collect is
    the correct move, exactly like the reference's tileset.json write. At
    tile counts beyond driver memory use write_manifest_sharded instead."""
    return manifest_from_rows({r["tile_id"]: r.asDict() for r in tree_df.collect()})


def check_nesting(tree_df: DataFrame) -> int:
    """Count of child tiles whose bbox escapes the parent bbox (must be 0;
    reference invariant tileset_creation.py:117-119). Distributed check —
    a self-join on parent_id, no collect."""
    c = tree_df.alias("c")
    p = tree_df.alias("p")
    bad = (
        c.join(p, F.col("c.parent_id") == F.col("p.tile_id"))
        .where(
            (F.col("c.xmin") < F.col("p.xmin"))
            | (F.col("c.xmax") > F.col("p.xmax"))
            | (F.col("c.ymin") < F.col("p.ymin"))
            | (F.col("c.ymax") > F.col("p.ymax"))
            | (F.col("c.zmin") < F.col("p.zmin"))
            | (F.col("c.zmax") > F.col("p.zmax"))
            | (F.col("c.geometric_error") >= F.col("p.geometric_error"))
        )
    )
    return bad.count()


def write_manifest_sharded(tree_df: DataFrame, out_dir: str, shard_depth: int = 2) -> dict:
    """K2 at 100x scale: the driver never holds the whole tree. Every
    depth-`shard_depth` subtree is serialized to its own
    ``sub/tileset_<prefix>.json`` BY THE EXECUTORS (one applyInPandas group
    per prefix, writing to the shared filesystem / object store); the root
    tileset.json holds only levels < shard_depth plus one stub child per
    shard whose ``content.uri`` points at the external tileset — the 3D
    Tiles external-tileset mechanism (the same device the reference's
    TilesetMerger leans on, TilesetMerger.py:37-58). Driver memory is
    O(2^shard_depth + #shards), independent of leaf count.

    Returns the root manifest dict (with stub children)."""
    import os

    sub = os.path.join(out_dir, "sub")
    os.makedirs(sub, exist_ok=True)
    deep = tree_df.where(F.length("tile_id") >= shard_depth).withColumn(
        "_shard", F.expr(f"substring(tile_id, 1, {shard_depth})")
    )

    summary_schema = (
        "tile_id string, uri string, n_features bigint, n_leaves bigint,"
        " geometric_error double,"
        " xmin double, xmax double, ymin double, ymax double,"
        " zmin double, zmax double"
    )

    def write_shard(pdf):
        import json as _json

        import pandas as _pd

        shard = pdf["_shard"].iloc[0]
        rows = {
            r["tile_id"]: r for r in pdf.drop(columns=["_shard"]).to_dict("records")
        }
        children = _children_map(rows)
        root = _node_dict(rows, children, shard)
        uri = f"sub/tileset_{shard}.json"
        with open(os.path.join(out_dir, uri), "w") as fh:
            _json.dump(
                {
                    "asset": {"version": "1.0", "generator": "py3dtilers_spark"},
                    "geometricError": root["geometricError"],
                    "root": root,
                },
                fh,
            )
        r = rows[shard]
        # leaf count rides the summary row so the caller never needs a
        # second count job over the tree (the serial tail matters at scale)
        n_leaves = int(sum(1 for v in rows.values() if v["is_leaf"]))
        return _pd.DataFrame(
            [
                (
                    shard, uri, r["n_features"], n_leaves, r["geometric_error"],
                    r["xmin"], r["xmax"], r["ymin"], r["ymax"],
                    r["zmin"], r["zmax"],
                )
            ],
            columns=[
                "tile_id", "uri", "n_features", "n_leaves", "geometric_error",
                "xmin", "xmax", "ymin", "ymax", "zmin", "zmax",
            ],
        )

    shard_rows = {
        r["tile_id"]: r.asDict()
        for r in deep.groupBy("_shard").applyInPandas(write_shard, summary_schema).collect()
    }
    top_rows = {
        r["tile_id"]: r.asDict()
        for r in tree_df.where(F.length("tile_id") < shard_depth).collect()
    }
    rows = {**top_rows, **shard_rows}
    children = _children_map(rows)
    root = _node_dict(rows, children, "") if "" in rows else {}

    def stubify(node: dict) -> dict:
        if node["tile_id"] in shard_rows:
            node = dict(node)
            node["content"] = {"uri": shard_rows[node["tile_id"]]["uri"]}
            node["children"] = []
        else:
            node["children"] = [stubify(c) for c in node["children"]]
        return node

    m = {
        "asset": {"version": "1.0", "generator": "py3dtilers_spark"},
        "geometricError": rows[""]["geometric_error"] if "" in rows else LEAF_GE,
        "root": stubify(root) if root else {},
    }
    with open(os.path.join(out_dir, "tileset.json"), "w") as fh:
        json.dump(m, fh)
    # counts for the caller (computed from the shard summaries + the shallow
    # rows — no extra Spark job); added AFTER the file write so the on-disk
    # tileset.json stays spec-shaped
    m["_n_leaves"] = int(
        sum(r["n_leaves"] for r in shard_rows.values())
        + sum(1 for r in top_rows.values() if r.get("is_leaf"))
    )
    return m


def read_manifest_resolved(out_dir: str) -> dict:
    """Load a (possibly sharded) tileset.json, splicing every external
    tileset referenced via ``content.uri`` back into one in-memory tree —
    the inverse of write_manifest_sharded; resolved output is structurally
    identical to the single-file manifest()."""
    import os

    with open(os.path.join(out_dir, "tileset.json")) as fh:
        m = json.load(fh)

    def resolve(node: dict) -> dict:
        uri = node.get("content", {}).get("uri", "")
        if uri.endswith(".json"):
            with open(os.path.join(out_dir, uri)) as fh:
                ext = json.load(fh)
            return resolve(ext["root"])
        node["children"] = [resolve(c) for c in node.get("children", [])]
        return node

    if m.get("root"):
        m["root"] = resolve(m["root"])
    return m


def rollup_rows_local(leaf_rows) -> dict:
    """Driver-side mirror of tile_tree_from_stats for SMALL tile counts:
    leaf stat dicts (tile_id, n_features, xmin..zmax) -> the full tree as
    {tile_id: row dict}. O(#tiles * depth) pure Python — at sandbox/bench
    scale this replaces three Spark jobs (stats checkpoint, roll-up agg,
    manifest collect) with zero, shrinking the serial tail of the pipeline;
    beyond driver memory the sharded writer is the path, not this."""
    rows: dict[str, dict] = {}
    for r in leaf_rows:
        tid = r["tile_id"]
        rows[tid] = {
            "tile_id": tid,
            "parent_id": tid[:-1] if tid else None,
            "level": len(tid),
            "is_leaf": True,
            "geometric_error": LEAF_GE,
            "n_features": int(r["n_features"]),
            "xmin": r["xmin"], "xmax": r["xmax"],
            "ymin": r["ymin"], "ymax": r["ymax"],
            "zmin": r["zmin"], "zmax": r["zmax"],
        }
    for r in leaf_rows:
        tid = r["tile_id"]
        # kd tile ids are prefix-free: a proper prefix of a leaf id is
        # always an internal node
        for plen in range(len(tid)):
            pid = tid[:plen]
            a = rows.get(pid)
            if a is None:
                rows[pid] = a = {
                    "tile_id": pid,
                    "parent_id": pid[:-1] if pid else None,
                    "level": plen,
                    "is_leaf": False,
                    "geometric_error": 1.0 + 499.0 * 0.5 ** plen,
                    "n_features": 0,
                    "xmin": float("inf"), "xmax": float("-inf"),
                    "ymin": float("inf"), "ymax": float("-inf"),
                    "zmin": float("inf"), "zmax": float("-inf"),
                }
            a["n_features"] += int(r["n_features"])
            a["xmin"] = min(a["xmin"], r["xmin"])
            a["xmax"] = max(a["xmax"], r["xmax"])
            a["ymin"] = min(a["ymin"], r["ymin"])
            a["ymax"] = max(a["ymax"], r["ymax"])
            a["zmin"] = min(a["zmin"], r["zmin"])
            a["zmax"] = max(a["zmax"], r["zmax"])
    return rows


def manifest_from_rows(rows: dict) -> dict:
    """Same tileset.json dict as manifest(), from an in-memory row map."""
    children = _children_map(rows)
    return {
        "asset": {"version": "1.0", "generator": "py3dtilers_spark"},
        "geometricError": rows[""]["geometric_error"] if "" in rows else LEAF_GE,
        "root": _node_dict(rows, children, "") if "" in rows else {},
    }
