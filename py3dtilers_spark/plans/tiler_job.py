"""End-to-end tiling pipeline: the engine's equivalent of
create_tileset_from_feature_list (/root/reference/py3dtilers/Common/tiler.py:231-271)
+ FromGeometryTreeToTileset (tileset_creation.py:27-139), restructured as five
DataFrame stages (SURVEY.md section 7.1):

  scan features -> kd partition -> per-tile encode (mapInPandas over
  tile-sorted partitions, one tile in memory at a time) ->
  hierarchy roll-up -> manifest + lineage

Unlike the reference (which interleaves per-tile SQL fetch + encode + file
write on one thread, the N+1 pattern of CityTiler.py:76-96), geometry/payload
flows through ONE scan and ONE shuffle keyed by tile_id; every tile encodes in
parallel; the driver only writes the (tiny) manifest.

Checkpoint/lineage (north rule; no reference counterpart): every encoded tile
appends a lineage row (run_id, cell_id=tile_id, row_count, checksum). A
resumed run anti-joins completed tile ids and encodes only the remainder,
producing byte-identical output to an uninterrupted run (tile encode is a
deterministic function of the tile's member rows).
"""
from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data.features import features_df
from ..functions.imaging import (
    _scratch, decode_into, encode, shelf_pack, synth_encode_batch,
)
# hierarchy functions are looked up on the module at call time, so a
# profiler can wrap them in place
from ..operators import hierarchy
from ..operators.kd_tree import kd_assign, kd_sample_walk

# finish regime switch: above this many (estimated) leaf tiles the driver
# finish (pyarrow metadata read / stats collect + local roll-up) stops being
# "tiny" — lineage, tree roll-up, and the manifest then run distributed,
# with executor-sharded external tilesets
AUTO_SHARD_TILES = 2048
# encode tasks are sized by their OUTPUT (~35k payload rows each): large
# per-task payload buffers degrade superlinearly (page-fault pressure), and
# AQE only sees the tiny columnar input
ROWS_PER_TASK = 35_000

ENCODED_SCHEMA = (
    "tile_id string, n_features bigint, atlas binary, atlas_w int, atlas_h int,"
    " batch_json string, checksum string,"
    " xmin double, xmax double, ymin double, ymax double, zmin double, zmax double"
)
# the O(#tiles) per-tile metadata the finish reads back: lineage + leaf stats
LEAF_META_COLS = [
    "tile_id", "n_features", "checksum",
    "xmin", "xmax", "ymin", "ymax", "zmin", "zmax",
]


def _write_lineage_local(meta_pdf: pd.DataFrame, lineage_dir: str, run_id: str) -> None:
    """Lineage sink from the already-collected tile metadata: same schema as
    the distributed writer (run_id, cell_id, row_count, checksum,
    completed_at) via one pyarrow file — no Spark job."""
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(lineage_dir, ignore_errors=True)
    os.makedirs(lineage_dir, exist_ok=True)
    n = len(meta_pdf)
    now = datetime.datetime.now(datetime.timezone.utc)
    tbl = pa.table(
        {
            "run_id": pa.array([run_id] * n, type=pa.string()),
            "cell_id": pa.array(meta_pdf["tile_id"].astype(str), type=pa.string()),
            "row_count": pa.array(
                meta_pdf["n_features"].to_numpy(dtype="int64"), type=pa.int64()
            ),
            "checksum": pa.array(meta_pdf["checksum"].astype(str), type=pa.string()),
            # tz-aware timestamp (isAdjustedToUTC=true) so this layout reads
            # back as the SAME parquet type as the distributed writer's
            # F.current_timestamp() — lineage from the two finish paths can
            # be unioned / resumed across without schema drift
            "completed_at": pa.array([now] * n, type=pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(tbl, os.path.join(lineage_dir, "part-00000.parquet"))
    open(os.path.join(lineage_dir, "_SUCCESS"), "w").close()


def encode_tile(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-tile encoder (reference __create_tile_content,
    tileset_creation.py:141-194 + atlas pack, Texture/atlas.py:52-88):
    decode member images, shelf-pack into one atlas, re-encode (lossless iff
    every member is lossless), emit batch table json + checksum.

    Called once per tile by the streaming encoder (encode_tiles_stream) —
    all images of a tile are co-partitioned by the kd shuffle, exactly the
    reference's invariant that a tile's textures are atlased together."""
    pdf = pdf.sort_values("image_id", kind="mergesort").reset_index(drop=True)
    tile_id = pdf["tile_id"].iloc[0]
    # sizes come from the row columns, so members decode DIRECTLY into their
    # atlas window (decode_into): no per-member image array ever exists —
    # halves the hot path's memory traffic vs decode-then-paste
    sizes = list(zip(pdf["w"].astype(int), pdf["h"].astype(int)))
    atlas_w = 1024
    pos, atlas_h = shelf_pack(sizes, atlas_w)
    # reused per-worker buffer: avoids faulting fresh pages per tile
    atlas = _scratch("atlas", (atlas_h, atlas_w, 3), np.uint8)
    atlas.fill(0)
    for (px, py), (w, h), b in zip(pos, sizes, pdf["bytes"]):
        decode_into(bytes(b), atlas[py : py + h, px : px + w])
    # lossless fidelity invariant (BASELINE.json input_hint): a png (lossless)
    # member must round-trip byte-exact no matter what tile it lands in, so
    # the atlas is stored lossless whenever ANY member is png. jpg members
    # were already quantized at their own encode; re-quantizing an all-jpg
    # atlas is the identity on those pixels, so PSNR is preserved either way.
    fmt = "png" if (pdf["fmt"] == "png").any() else "jpg"
    blob = encode(atlas, fmt)
    batch = {
        "ids": pdf["image_id"].tolist(),
        "captions": pdf["caption"].tolist(),
        "uv": [[int(x), int(y), int(w), int(h)] for (x, y), (w, h) in zip(pos, sizes)],
        "fmt": fmt,
    }
    h = hashlib.sha256()
    for iid, cap in zip(pdf["image_id"], pdf["caption"]):
        h.update(iid.encode())
        h.update(cap.encode())
    # per-tile bounding volume computed IN the encode pass (columns ride the
    # one payload shuffle): the hierarchy then rolls up from these leaf stats
    # with no second source scan — the tree phase becomes O(#tiles)
    return pd.DataFrame(
        [
            {
                "tile_id": tile_id,
                "n_features": len(pdf),
                "atlas": blob,
                "atlas_w": atlas_w,
                "atlas_h": int(atlas_h),
                "batch_json": json.dumps(batch),
                "checksum": h.hexdigest(),
                "xmin": float(pdf["x"].min()),
                "xmax": float(pdf["x"].max()),
                "ymin": float(pdf["y"].min()),
                "ymax": float(pdf["y"].max()),
                "zmin": float(pdf["z"].min()),
                "zmax": float(pdf["z"].max()),
            }
        ]
    )


def _sink_tile_payload(row_pdf: pd.DataFrame, files_dir: str | None) -> pd.DataFrame:
    """File tile sink: the Python worker writes the encoded payload straight
    to <files_dir>/<tile_id>.bin (the per-tile-file layout of a real 3D
    Tiles output — the reference writes tiles/{i}.b3dm the same way,
    tileset_creation.py:141-194) and only METADATA rides Arrow back to the
    JVM. At 4+ cores the Arrow serialization + parquet write of payload
    bytes is pure JVM CPU that contends with the Python encode workers for
    the same physical cores; with the file sink the JVM side of the encode
    stage handles ~100 bytes per tile instead of ~1 MB."""
    if files_dir is None:
        return row_pdf
    tid = row_pdf["tile_id"].iloc[0]
    with open(os.path.join(files_dir, f"{tid}.bin"), "wb") as fh:
        fh.write(row_pdf["atlas"].iloc[0])
    out = row_pdf.copy()
    out["atlas"] = [b""]
    return out


def encode_tiles_stream(tiled: DataFrame, files_dir: str | None = None) -> DataFrame:
    """Streaming sort-based tile encoder.

    Input MUST be hash-partitioned AND sorted by tile_id (repartition +
    sortWithinPartitions): tiles are then contiguous runs inside each
    partition, so a mapInPandas iterator encodes tile-by-tile holding at
    most ONE tile in memory — unlike groupBy().applyInPandas(), which
    materializes a whole shuffle partition as pandas before splitting into
    groups. At 10^12 rows (and on memory-ballooned hosts where fresh pages
    are expensive) the peak-memory difference is partition-size vs
    tile-size.

    An input without a `bytes` column is the SLIM row set (tile_id,
    image_id, w, h, fmt, caption, phash, ...): payload bytes are then
    synthesized from phash and consumed inside the same Python worker —
    zero Arrow hops for the heavy column, and one shuffle of slim columns
    is the pipeline's total shuffle volume."""
    synth = "bytes" not in tiled.columns

    def gen(batches):
        buf: list[pd.DataFrame] = []
        cur = None

        def flush():
            # most tiles sit inside one Arrow batch: skip the concat copy
            pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            if synth:
                pdf = pdf.assign(
                    bytes=synth_encode_batch(
                        pdf["phash"].to_numpy(),
                        pdf["w"].to_numpy(),
                        pdf["h"].to_numpy(),
                        pdf["fmt"].to_numpy(),
                    )
                )
            return _sink_tile_payload(encode_tile(pdf), files_dir)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            tids = pdf["tile_id"].to_numpy()
            change = np.flatnonzero(tids[1:] != tids[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            for s, e in zip(starts, ends):
                tid = tids[s]
                if cur is not None and tid != cur and buf:
                    yield flush()
                    buf = []
                cur = tid
                buf.append(pdf.iloc[s:e])
        if buf:
            yield flush()

    return tiled.mapInPandas(gen, ENCODED_SCHEMA)


def assign_tiles(
    base: DataFrame,
    rows_src: DataFrame,
    kd_tree_max: int,
    exact: bool,
    n_rows: int,
) -> DataFrame:
    """`rows_src` with a kd-leaf `tile_id`, computed from the byte-free
    projection `base`.

    exact: kd runs on the slim projection (exact-median splits) and the
    assignment joins back to the payload columns (parity path). Otherwise
    the split tree is built from a slim (x, y) sample scan and `rows_src`
    is assigned map-side by a JVM expression — no join, no Python, no
    shuffle of anything before the single tile repartition (scale path).
    """
    if exact:
        slim = kd_assign(
            base.select("image_id", "x", "y"),
            kd_tree_max=kd_tree_max,
        ).localCheckpoint(eager=True)
        return rows_src.join(slim.select("image_id", "tile_id"), "image_id")
    walk = kd_sample_walk(base.select("x", "y"), kd_tree_max, n_rows)
    return rows_src.withColumn("tile_id", walk(F.col("x"), F.col("y")))


def run_tiler(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    kd_tree_max: int = 500,
    exact: bool = True,
    with_payload: bool = True,
    run_id: str = "run0",
    resume: bool = False,
    features: "DataFrame | None" = None,
    payload_source: str = "synth",
    n_rows_hint: int | None = None,
    tile_sink: str = "parquet",
) -> dict:
    """Execute the pipeline; returns summary metrics (incl. per-phase secs).

    exact: True assigns tiles with the exact-median kd splits (parity
    path); False with the sample split tree walked in the JVM (scale path;
    see assign_tiles).
    payload_source:
      "synth"  — features carries no bytes; payload pixels are synthesized
                 post-shuffle from phash (test/sandbox mode).
      "column" — features HAS a `bytes` binary column (the BASELINE.json
                 input_hint table shape): bytes ride the one tile shuffle and
                 are decoded by the streaming encoder. The kd branch runs on
                 a column-pruned scan that never touches bytes.
    tile_sink: "parquet" keeps payload blobs in the tiles parquet (the
    columnar sink the oracle/PSNR tests read); "files" writes each payload
    to tiles_files/<tile_id>.bin from the Python worker (the 3D Tiles
    per-tile-file layout; on a cluster this is shared/object storage) and
    the parquet carries metadata only — the scale mode.

    The finish follows the estimated leaf count (n_rows / kd_tree_max):
    at or below AUTO_SHARD_TILES the driver rolls the tree up locally
    (finish "local"); above it lineage, tree and manifest run distributed,
    with executor-sharded external tilesets (finish "sharded:d<depth>").
    """
    timings: dict[str, float] = {}
    _t = time.time
    # kd + leaf stats run on the byte-free projection: mapInPandas (the
    # payload generator/decoder) is a column-pruning barrier, so any plan
    # that "selects a few columns" downstream of it would still materialize
    # every payload byte. Payload bytes flow through exactly one shuffle
    # (the tile repartition) and are never persisted or scanned twice — at
    # 100 TB payload bytes dominate, so this is the difference between 1x
    # and depth-x payload generation + shuffle volume. Python tasks run only
    # where pixels are decoded (the encode stage): each one carries a fixed
    # worker start-up cost (see the encode waves below), so the kd
    # assignment before the tile shuffle stays in the JVM.
    t0 = _t()
    src = features if features is not None else features_df(spark, sf_dir, with_bytes=False)
    slim_cols = ["image_id", "x", "y", "z", "w", "h", "fmt", "caption", "phash"]
    base = src.select(*slim_cols)
    if payload_source == "column":
        # bytes stay out of every branch except the encode one; no persist
        # of the payload (the file source IS the cache)
        rows_src = src.select(*slim_cols, "bytes")
    else:
        base = rows_src = base.persist()
    n_rows = n_rows_hint if n_rows_hint is not None else base.count()
    # the estimate needs no job: leaves ~= n_rows / kd_tree_max by
    # construction
    est_leaves = max(1, int(n_rows) // max(kd_tree_max, 1))
    # round encode tasks up to whole waves of the available slots to avoid
    # a straggler tail, and launch no more waves than the data needs: every
    # Python task pays a fixed worker start-up (measured 130-245 ms per task
    # on a 4-vCPU host, in pyspark's importlib.invalidate_caches()), so a
    # forced second wave of small tasks costs more than its balance gains
    par = spark.sparkContext.defaultParallelism
    waves = max(1, -(-(n_rows // ROWS_PER_TASK + 1) // par))
    n_parts = waves * par
    assigned = assign_tiles(base, rows_src, kd_tree_max, exact, n_rows)
    timings["kd"] = _t() - t0

    tiles_dir = os.path.join(out_dir, "tiles")
    lineage_dir = os.path.join(out_dir, "lineage")

    if with_payload:
        todo = assigned
        if resume and os.path.exists(lineage_dir):
            done = spark.read.parquet(lineage_dir).where(
                F.col("run_id") == run_id
            ).select("cell_id").withColumnRenamed("cell_id", "tile_id")
            todo = todo.join(F.broadcast(done), "tile_id", "left_anti")
        t0 = _t()
        # LATE MATERIALIZATION (the reference's lazy per-tile geometry,
        # geometry_node.py:70-75): ONE shuffle co-partitions+sorts rows by
        # tile; the streaming encoder decodes (or synthesizes) payload bytes
        # and encodes tile by tile in the SAME stage.
        pre = todo.repartition(n_parts, "tile_id").sortWithinPartitions("tile_id")
        files_dir = None
        if tile_sink == "files":
            files_dir = os.path.join(out_dir, "tiles_files")
            os.makedirs(files_dir, exist_ok=True)
        # atlas blobs are already entropy-coded (zlib) — parquet snappy on
        # top is pure JVM CPU for ~0 ratio; uncompressed halves the write
        # path's CPU demand (matters when executor JVM threads contend with
        # the Python workers for the same cores)
        encode_tiles_stream(pre, files_dir).write.mode("append").option(
            "compression", "uncompressed"
        ).parquet(tiles_dir)
        timings["encode_write"] = _t() - t0

    t0 = _t()
    os.makedirs(out_dir, exist_ok=True)
    if est_leaves <= AUTO_SHARD_TILES:
        finish = "local"
        # ONE read of the O(#tiles) leaf stats feeds the lineage sink, the
        # tree roll-up AND the manifest with no further Spark job. This is
        # the pipeline's serial tail, the term that caps N->4N efficiency
        # at fixed problem size.
        if with_payload:
            # pyarrow read of the local/shared tiles dir, pruned to the
            # small metadata columns — launching a Spark job for it costs
            # more (scheduling + task dispatch) than the read itself
            import pyarrow.parquet as pq

            meta_pdf = pq.read_table(tiles_dir, columns=LEAF_META_COLS).to_pandas()
            _write_lineage_local(meta_pdf, lineage_dir, run_id)
            leaf_rows = meta_pdf.to_dict("records")
        else:
            leaf_rows = [r.asDict() for r in hierarchy.tile_stats(assigned).collect()]
        rows = hierarchy.rollup_rows_local(leaf_rows)
        m = hierarchy.manifest_from_rows(rows)
        with open(os.path.join(out_dir, "tileset.json"), "w") as fh:
            json.dump(m, fh)
        n_leaves = sum(1 for v in rows.values() if v["is_leaf"])
        n_features = rows[""]["n_features"] if "" in rows else 0
    else:
        # shards ~= sqrt(#leaves): driver holds 2^depth stubs, each shard
        # holds ~#leaves/2^depth nodes — both stay far below driver memory
        # out to 10^12 rows (2^31 leaves -> 2^16 shards of ~2^15 leaves)
        depth = max(2, (est_leaves.bit_length() + 1) // 2)
        finish = f"sharded:d{depth}"
        if with_payload:
            # parquet column pruning: the heavy atlas column is never read.
            # The session's tiny maxPartitionBytes (sized for the sandbox
            # inputs) would split this metadata-only read into hundreds of
            # tasks — widen it for the read, then restore.
            mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 30))
            try:
                # ONE pruned read of the tile metadata feeds both the
                # lineage sink and the tree roll-up
                leaf_stats = spark.read.parquet(tiles_dir).select(
                    *LEAF_META_COLS
                ).localCheckpoint(eager=True)
            finally:
                spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
            leaf_stats.select(
                F.lit(run_id).alias("run_id"),
                F.col("tile_id").alias("cell_id"),
                F.col("n_features").alias("row_count"),
                "checksum",
                F.current_timestamp().alias("completed_at"),
            ).write.mode("overwrite").parquet(lineage_dir)
        else:
            leaf_stats = hierarchy.tile_stats(assigned)
        tree = hierarchy.tile_tree_from_stats(leaf_stats).localCheckpoint(eager=True)
        # executors write per-prefix subtree tilesets, the driver holds only
        # the top levels + one summary row per shard; counts come back on
        # the shard summaries — no extra job on the tree
        m = hierarchy.write_manifest_sharded(tree, out_dir, depth)
        n_leaves = m["_n_leaves"]
        n_features = m["root"].get("n_features", 0) if m.get("root") else 0
    timings["finish"] = _t() - t0
    if payload_source != "column":
        base.unpersist()
    return {
        "n_features": int(n_features),
        "n_tiles": int(n_leaves),
        "finish": finish,
        "timings": {k: round(v, 2) for k, v in timings.items()},
    }
