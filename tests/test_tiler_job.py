"""End-to-end pipeline: payload fidelity (PSNR >= 40 dB lossy / exact
lossless, caption equality — BASELINE.json input_hint) and exact resume from
the lineage checkpoint (north rule)."""
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from py3dtilers_spark.functions.imaging import decode, psnr, synth_pixels
from py3dtilers_spark.plans import tiler_job
from py3dtilers_spark.plans.tiler_job import run_tiler


def _read_tiles(spark, out):
    return spark.read.parquet(os.path.join(out, "tiles")).toPandas()


def test_payload_roundtrip(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "t1")
    stats = run_tiler(spark, sf_smoke, out, kd_tree_max=300)
    tiles = _read_tiles(spark, out)
    assert stats["n_tiles"] == len(tiles)
    assert stats["n_features"] == int(tiles["n_features"].sum())
    checked = 0
    for _, t in tiles.iterrows():
        atlas = decode(bytes(t["atlas"]))
        batch = json.loads(t["batch_json"])
        lossless = batch["fmt"] == "png"
        for iid, cap, (x, y, w, h) in zip(batch["ids"], batch["captions"], batch["uv"]):
            # caption exact equality invariant
            parts = iid.split("_")
            assert cap.startswith("caption " + parts[3] + " ")
            crop = atlas[y : y + h, x : x + w]
            assert crop.shape == (h, w, 3)
            checked += 1
        del lossless
    assert checked == stats["n_features"]


def test_payload_psnr_per_feature(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "t2")
    run_tiler(spark, sf_smoke, out, kd_tree_max=500)
    tiles = _read_tiles(spark, out)
    from py3dtilers_spark.data import features_df

    orig = {
        r["image_id"]: (r["phash"], r["w"], r["h"], r["fmt"])
        for r in features_df(spark, sf_smoke).collect()
    }
    n_exact = n_lossy = n_mixed_exact = 0
    for _, t in tiles.iterrows():
        atlas = decode(bytes(t["atlas"]))
        batch = json.loads(t["batch_json"])
        fmts = {orig[iid][3] for iid in batch["ids"]}
        for iid, (x, y, w, h) in zip(batch["ids"], batch["uv"]):
            phash, ww, hh, fmt = orig[iid]
            assert (w, h) == (ww, hh)
            ref = synth_pixels(phash, w, h)
            crop = atlas[y : y + h, x : x + w]
            if fmt == "png":
                # strict input_hint invariant: lossless rows are byte-exact
                # in EVERY tile, including mixed-format ones
                assert np.array_equal(crop, ref), iid
                n_exact += 1
                if len(fmts) > 1:
                    n_mixed_exact += 1
            else:
                assert psnr(ref, crop) >= 40.0, iid
                n_lossy += 1
    assert n_lossy > 0
    assert n_mixed_exact > 0  # the strict check covered mixed tiles


def _keep_first_tiles(out, k):
    """Rewrite tiles/ and lineage/ down to the first k tile ids in path
    order: the state a run leaves when it stops after k tiles."""
    tiles = pq.read_table(os.path.join(out, "tiles"))
    keep = pa.array(sorted(tiles["tile_id"].to_pylist())[:k])
    for sub, col in (("tiles", "tile_id"), ("lineage", "cell_id")):
        d = os.path.join(out, sub)
        t = pq.read_table(d)
        shutil.rmtree(d)
        os.makedirs(d)
        pq.write_table(
            t.filter(pc.is_in(t[col], value_set=keep)),
            os.path.join(d, "part-00000.parquet"),
        )


@pytest.mark.parametrize("exact", [True, False], ids=["exact", "scale"])
def test_resume_produces_identical_output(spark, sf_smoke, tmp_path, exact):
    full = str(tmp_path / "full")
    part = str(tmp_path / "part")
    run_tiler(spark, sf_smoke, full, kd_tree_max=300, exact=exact)
    # a run that stopped after 3 tiles, then resume
    run_tiler(spark, sf_smoke, part, kd_tree_max=300, exact=exact)
    _keep_first_tiles(part, 3)
    partial = _read_tiles(spark, part)
    assert len(partial) == 3
    run_tiler(spark, sf_smoke, part, kd_tree_max=300, exact=exact, resume=True)
    a = _read_tiles(spark, full).sort_values("tile_id").reset_index(drop=True)
    b = _read_tiles(spark, part).sort_values("tile_id").reset_index(drop=True)
    assert list(a["tile_id"]) == list(b["tile_id"])
    assert list(a["checksum"]) == list(b["checksum"])
    for ca, cb in zip(a["atlas"], b["atlas"]):
        assert bytes(ca) == bytes(cb)
    lineage = spark.read.parquet(os.path.join(part, "lineage")).toPandas()
    assert set(lineage["cell_id"]) == set(a["tile_id"])
    assert int(lineage["row_count"].sum()) == int(a["n_features"].sum())
    with open(os.path.join(full, "tileset.json")) as fa, open(
        os.path.join(part, "tileset.json")
    ) as fb:
        assert json.load(fa) == json.load(fb)


def test_manifest_written(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "t3")
    run_tiler(spark, sf_smoke, out, with_payload=False)
    with open(os.path.join(out, "tileset.json")) as fh:
        m = json.load(fh)
    assert m["root"]["geometricError"] == 500.0


@pytest.mark.parametrize("exact", [True, False], ids=["exact", "scale"])
def test_local_finish_matches_distributed_rollup(spark, sf_smoke, tmp_path, exact):
    """The driver-side finish (one metadata read -> lineage + tree +
    manifest) must emit byte-identical tileset.json structure to the
    distributed tile_tree_from_stats + manifest() chain over the same
    encoded tiles, on both kd paths."""
    from py3dtilers_spark.operators.hierarchy import manifest, tile_tree_from_stats

    out = str(tmp_path / "lf")
    stats = run_tiler(spark, sf_smoke, out, kd_tree_max=300, exact=exact)
    assert stats["finish"] == "local"
    with open(os.path.join(out, "tileset.json")) as fh:
        local = json.load(fh)

    meta = spark.read.parquet(os.path.join(out, "tiles")).select(
        "tile_id", "n_features",
        "xmin", "xmax", "ymin", "ymax", "zmin", "zmax",
    )
    dist = manifest(tile_tree_from_stats(meta))
    assert local == dist
    # lineage written by the pyarrow fast path reads back through Spark
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.count() == stats["n_tiles"]
    assert set(lin.columns) == {
        "run_id", "cell_id", "row_count", "checksum", "completed_at"
    }


@pytest.mark.parametrize("with_payload", [True, False], ids=["payload", "no_payload"])
def test_auto_shard_finish(spark, sf_smoke, tmp_path, monkeypatch, with_payload):
    """Above the tile-count threshold the pipeline auto-selects the 100x
    finish (distributed lineage + executor-sharded manifest) with no opt-in
    flag: the root tileset.json is a stub referencing executor-written
    sub/tileset_*.json files, and the resolved manifest equals the local
    finish's byte-for-byte. Lineage from the two finish paths must read
    back with identical types (the pyarrow writer emits tz-aware
    timestamps like F.current_timestamp)."""
    from py3dtilers_spark.operators.hierarchy import read_manifest_resolved

    out_a = str(tmp_path / "local")
    out_b = str(tmp_path / "auto")
    kw = dict(kd_tree_max=300, exact=False, with_payload=with_payload)
    ra = run_tiler(spark, sf_smoke, out_a, **kw)
    assert ra["finish"] == "local"
    monkeypatch.setattr(tiler_job, "AUTO_SHARD_TILES", 4)
    rb = run_tiler(spark, sf_smoke, out_b, **kw)
    # finish is "local" or "sharded:d<depth>", nothing else
    assert re.fullmatch(r"sharded:d\d+", rb["finish"])
    assert (ra["n_features"], ra["n_tiles"]) == (rb["n_features"], rb["n_tiles"])
    with open(os.path.join(out_a, "tileset.json")) as fh:
        local = json.load(fh)
    assert read_manifest_resolved(out_b) == local
    assert os.listdir(os.path.join(out_b, "sub"))
    if not with_payload:
        assert not os.path.exists(os.path.join(out_b, "lineage"))
        return
    la = spark.read.parquet(os.path.join(out_a, "lineage"))
    lb = spark.read.parquet(os.path.join(out_b, "lineage"))
    assert [(f.name, f.dataType) for f in la.schema.fields] == [
        (f.name, f.dataType) for f in lb.schema.fields
    ]
    assert lb.count() == rb["n_tiles"]


def test_file_tile_sink_fidelity(spark, sf_smoke, tmp_path):
    """tile_sink='files': payloads land as tiles_files/<tile_id>.bin with
    the same fidelity invariants; the tiles parquet carries metadata only."""
    out = str(tmp_path / "fs")
    stats = run_tiler(
        spark, sf_smoke, out, kd_tree_max=300, exact=False, tile_sink="files"
    )
    tiles = _read_tiles(spark, out)
    assert (tiles["atlas"].map(len) == 0).all()  # no payload in parquet
    files = os.listdir(os.path.join(out, "tiles_files"))
    assert len(files) == stats["n_tiles"] == len(tiles)
    from py3dtilers_spark.data import features_df

    orig = {
        r["image_id"]: (r["phash"], r["w"], r["h"], r["fmt"])
        for r in features_df(spark, sf_smoke).collect()
    }
    checked = 0
    for _, t in tiles.head(5).iterrows():
        blob = open(os.path.join(out, "tiles_files", f"{t['tile_id']}.bin"), "rb").read()
        atlas = decode(blob)
        batch = json.loads(t["batch_json"])
        for iid, (x, y, w, h) in zip(batch["ids"], batch["uv"]):
            ph, ww, hh, fmt = orig[iid]
            want = synth_pixels(ph, w, h)
            got = atlas[y : y + h, x : x + w]
            if fmt == "png":
                assert (got == want).all()
            else:
                assert psnr(got, want) >= 40.0
            checked += 1
    assert checked > 0


def test_scale_path_assigns_tiles_without_python(spark, sf_smoke):
    """Scale path: no Python runs before the tile shuffle — the kd walk is
    a JVM expression, so the assigned frame's plan has no Python eval node
    (Python tasks are reserved for the encode stage, where pixels are)."""
    from py3dtilers_spark.data import features_df

    base = features_df(spark, sf_smoke).select(
        "image_id", "x", "y", "z", "w", "h", "fmt", "caption", "phash"
    )
    assigned = tiler_job.assign_tiles(base, base, 500, False, base.count())
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Project" in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
        assert node not in plan, plan
    assert assigned.select("tile_id").where("tile_id IS NULL").count() == 0
