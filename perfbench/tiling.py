"""Tileset-construction workload: one `run_tiler` call per timed run.

Input: the features table derived from the fixture's sf0.01 lineitem
(60,000 rows), salted by the workload seed exactly as `features_amplified`
salts copy `seed` (image id prefix, phash offset, a 10 km grid offset of the
centroid), with the `bytes` payload column materialised once per seed. The
salt keeps the kd tree's shape and every image size, so every seed does the
same work on different pixels.
"""
from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from py3dtilers_spark.data.features import FEATURES_CTE
from py3dtilers_spark.functions import imaging
from py3dtilers_spark.operators import hierarchy
from py3dtilers_spark.plans import tiler_job
from py3dtilers_spark.plans.tiler_job import encode_tile, run_tiler

# leaf capacity: 128 leaves of ~470 rows on the 60,000-row input, which
# run_tiler finishes locally (rollup_rows_local + manifest_from_rows)
KD_TREE_MAX = 500

# tiles whose members the checks decode and the imaging layer times
N_SAMPLE_TILES = 4
# input caches kept side by side; older seeds are evicted
KEEP_INPUTS = 6
# parquet files per input table, one row group each
N_INPUT_FILES = 8


def _salted_features(fixture_dir: str, seed: int):
    """The features table of the fixture's lineitem as an Arrow table,
    computed by DuckDB from the engine's own FEATURES_CTE (whose SQL both
    engines evaluate value-identically), salted as copy `seed`."""
    c = int(seed)
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{fixture_dir}/lineitem.parquet'")
        return con.sql(f"""
            WITH {FEATURES_CTE}
            SELECT 'c{c}_' || image_id AS image_id, w, h, fmt, caption,
                   (phash + CAST({c} AS BIGINT) * 1000000007) % 4611686018427387903 AS phash,
                   x + {float(c % 4) * 10000.0} AS x,
                   y + {float(c // 4) * 10000.0} AS y,
                   z, prec_alti, l_orderkey, l_partkey, h2
            FROM features ORDER BY image_id
        """).arrow()
    finally:
        con.close()


def _payload_stats(path: str) -> tuple[int, int]:
    tbl = pq.read_table(path, columns=["bytes"])
    return tbl.num_rows, int(pc.sum(pc.binary_length(tbl["bytes"])).as_py())


def _source_id(fixture_dir: str) -> str:
    """The fixture lineitem's sha256, as recorded next to the fixture."""
    with open(os.path.join(fixture_dir, "tables.json")) as fh:
        return json.load(fh)["lineitem"]["sha256"]


def verify_input(fixture_dir: str, cache_dir: str, seed: int) -> tuple[str, int, int] | None:
    """Path, rows and total payload bytes of the seed's cached input table,
    or None when there is no cached copy, it was built from another
    lineitem, or its row count and payload size differ from the values
    recorded when it was written."""
    path = os.path.join(cache_dir, f"seed{seed}")
    meta_path = os.path.join(cache_dir, f"seed{seed}.json")
    if not (os.path.exists(meta_path) and os.path.isdir(path)):
        return None
    with open(meta_path) as fh:
        meta = json.load(fh)
    if meta.get("source") != _source_id(fixture_dir):
        return None
    if _payload_stats(path) != (meta["rows"], meta["payload_bytes"]):
        return None
    return path, meta["rows"], meta["payload_bytes"]


def materialise_input(fixture_dir: str, cache_dir: str, seed: int) -> None:
    """Write the seed's input table unless a verified copy is cached: the
    salted features plus the `bytes` column that `attach_bytes` would add
    (the same `synth_encode_batch` call), as parquet."""
    if verify_input(fixture_dir, cache_dir, seed) is not None:
        os.utime(os.path.join(cache_dir, f"seed{seed}.json"))
        return
    path = os.path.join(cache_dir, f"seed{seed}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(cache_dir, exist_ok=True)
    _evict(cache_dir)
    feats = _salted_features(fixture_dir, seed)
    payload = imaging.synth_encode_batch(*(
        feats[c].to_numpy(zero_copy_only=False) for c in ("phash", "w", "h", "fmt")
    ))
    tbl = feats.append_column("bytes", pa.array(payload, type=pa.binary()))
    os.makedirs(path)
    n = tbl.num_rows
    for i in range(N_INPUT_FILES):
        lo, hi = n * i // N_INPUT_FILES, n * (i + 1) // N_INPUT_FILES
        pq.write_table(tbl.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))
    rows, payload_bytes = _payload_stats(path)
    with open(os.path.join(cache_dir, f"seed{seed}.json"), "w") as fh:
        json.dump({"rows": rows, "payload_bytes": payload_bytes,
                   "source": _source_id(fixture_dir)}, fh)


def _evict(cache_dir: str) -> None:
    metas = sorted(
        (os.path.getmtime(os.path.join(cache_dir, f)), f[: -len(".json")])
        for f in os.listdir(cache_dir) if f.endswith(".json")
    )
    for _, name in metas[: max(0, len(metas) - KEEP_INPUTS + 1)]:
        os.remove(os.path.join(cache_dir, name + ".json"))
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Spans:
    """Wall-clock spans around the program's own layer calls, recorded by
    replacing the module attributes `run_tiler` looks up at call time. Only
    the traced run installs them."""

    TARGETS = (
        ("kd", tiler_job, "kd_sample_walk"),
        ("hier", hierarchy, "rollup_rows_local"),
        ("hier", hierarchy, "manifest_from_rows"),
    )

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._saved = []

    def install(self) -> None:
        for label, mod, name in self.TARGETS:
            fn = getattr(mod, name)
            self._saved.append((mod, name, fn))
            setattr(mod, name, self._wrap(label, fn))

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._saved):
            setattr(mod, name, fn)
        self._saved.clear()

    def _wrap(self, label, fn):
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((label, t0, time.time()))
        return timed

    def window(self, label: str, t0: float, t1: float) -> tuple[float, float]:
        """(first start, last end) of `label` spans inside [t0, t1]."""
        hits = [(a, b) for lab, a, b in self.spans if lab == label and a >= t0 and b <= t1]
        if not hits:
            raise RuntimeError(f"no {label!r} span recorded inside a traced run_tiler call")
        return min(a for a, _ in hits), max(b for _, b in hits)


class TileWorkload:
    """`run_tiler` on the scale path (`exact=False`, payload from the
    column, per-tile files) at `kd_tree_max` = KD_TREE_MAX."""

    name = "tile_coarse"

    def __init__(self, seed: int, work_dir: str, fixture_dir: str):
        self.seed = seed
        self.fixture_dir = fixture_dir
        self.cache_dir = os.path.join(work_dir, "inputs")
        self.out_dir = os.path.join(work_dir, "out", self.name)
        self.spans = Spans()

    # ---------------------------------------------------------------- set-up
    def prepare_input(self) -> None:
        """Build the seed's input if no verified copy is cached. Not part of
        set-up time: its cost depends on what earlier runs left behind."""
        materialise_input(self.fixture_dir, self.cache_dir, self.seed)

    def setup(self, spark) -> None:
        # the cache check is part of set-up; prepare_input made it pass
        found = verify_input(self.fixture_dir, self.cache_dir, self.seed)
        if found is None:
            raise RuntimeError(f"input for seed {self.seed} is missing or fails its row count")
        self.input_path, self.rows, self.payload_bytes = found
        self.bind(spark)
        # warm-up run: its lineage digest is the reference for every timed run
        self.before()
        res = self.run()
        self.digest = self._lineage_digest()
        self._collect_sample()
        problems = self.check(res)
        # a second warm-up run: the first few runs of a session still speed up
        self.before()
        problems += self.check(self.run())
        if problems:
            raise RuntimeError(f"{self.name} set-up runs failed their checks: {problems}")

    def bind(self, spark) -> None:
        self.spark = spark
        self.src = spark.read.parquet(self.input_path)

    def _collect_sample(self) -> None:
        """Member rows (with payload) of a fixed, evenly spaced sample of
        tiles, for the png round-trip check and the imaging layer."""
        meta = pq.read_table(
            os.path.join(self.out_dir, "tiles"), columns=["tile_id", "batch_json"]
        ).to_pandas().sort_values("tile_id", ignore_index=True)
        step = max(1, len(meta) // N_SAMPLE_TILES)
        picked = meta.iloc[::step].head(N_SAMPLE_TILES)
        member_tile = {
            iid: tid
            for tid, bj in zip(picked["tile_id"], picked["batch_json"])
            for iid in json.loads(bj)["ids"]
        }
        rows = pq.read_table(
            self.input_path, filters=[("image_id", "in", list(member_tile))]
        ).to_pandas()
        rows["tile_id"] = rows["image_id"].map(member_tile)
        self.sample = {tid: pdf.reset_index(drop=True) for tid, pdf in rows.groupby("tile_id")}

    # ------------------------------------------------------------- timed run
    def before(self) -> None:
        # tiles are appended, so every run starts from an empty output
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def run(self, group: str | None = None) -> dict:
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, self.name)
        return run_tiler(
            self.spark, None, self.out_dir,
            kd_tree_max=KD_TREE_MAX, exact=False, features=self.src,
            payload_source="column", n_rows_hint=self.rows, tile_sink="files",
        )

    # ---------------------------------------------------------------- checks
    def _lineage(self):
        return pq.read_table(
            os.path.join(self.out_dir, "lineage"), columns=["cell_id", "row_count", "checksum"]
        ).to_pandas()

    def _lineage_digest(self) -> str:
        lin = self._lineage().sort_values("cell_id", ignore_index=True)
        h = hashlib.sha256()
        for tid, ck in zip(lin["cell_id"], lin["checksum"]):
            h.update(f"{tid}\x1f{ck}\n".encode())
        return h.hexdigest()

    def check(self, res: dict) -> list[str]:
        """Problems found in the last run's output; empty when correct."""
        problems = []
        with open(os.path.join(self.out_dir, "tileset.json")) as fh:
            root_n = json.load(fh)["root"].get("n_features")
        if res["n_features"] != self.rows or root_n != self.rows:
            problems.append(f"root n_features {res['n_features']}/{root_n} != {self.rows}")
        lin = self._lineage()
        if int(lin["row_count"].sum()) != self.rows:
            problems.append(f"lineage rows {int(lin['row_count'].sum())} != {self.rows}")
        if self._lineage_digest() != self.digest:
            problems.append("lineage (tile_id, checksum) digest differs from the set-up run")
        problems.extend(self._check_png_members())
        return problems

    def _check_png_members(self) -> list[str]:
        meta = pq.read_table(
            os.path.join(self.out_dir, "tiles"), columns=["tile_id", "batch_json"]
        ).to_pandas().set_index("tile_id")["batch_json"]
        problems = []
        for tid, members in self.sample.items():
            batch = json.loads(meta[tid])
            with open(os.path.join(self.out_dir, "tiles_files", f"{tid}.bin"), "rb") as fh:
                atlas = imaging.decode(fh.read())
            by_id = members.set_index("image_id")
            for iid, (x, y, w, h) in zip(batch["ids"], batch["uv"]):
                m = by_id.loc[iid]
                if m["fmt"] != "png":
                    continue
                want = imaging.synth_pixels(int(m["phash"]), int(w), int(h))
                if not np.array_equal(atlas[y:y + h, x:x + w], want):
                    problems.append(f"png member {iid} of tile {tid} differs from synth_pixels")
        return problems

    def out_ratio(self) -> float:
        return _dir_bytes(self.out_dir) / self.payload_bytes

    # ---------------------------------------------------------- per-layer
    def trace_on(self) -> None:
        self.spans.install()

    def trace_off(self) -> None:
        self.spans.uninstall()

    def run_layers(self, run: dict, groups: dict) -> dict[str, float]:
        """Figures of one traced run from its job group and spans."""
        g = groups[run["group"]]
        t0, t1 = run["t0"], run["t1"]
        hier = self.spans.window("hier", t0, t1)
        m = stage_split(g, t0, t1, self.spans.window("kd", t0, t1), run["res"]["n_tiles"])
        m.update({
            "tiler_job.shuffle_write_bytes": float(g.total("shuffle_w")),
            "tiler_job.shuffle_bytes_per_input_byte": g.total("shuffle_w") / self.payload_bytes,
            "tiler_job.spill_bytes": float(g.total("spill")),
            "tiler_job.py_bytes_to_worker": float(g.total("py_sent")),
            "tiler_job.py_bytes_from_worker": float(g.total("py_recv")),
            "tiler_job.py_worker_s": g.total("py_run_ms") / 1000.0,
            "tiler_job.exec_cpu_s": g.total("cpu_ns") / 1e9,
            "tiler_job.gc_s": g.total("gc_ms") / 1000.0,
            "hierarchy.rollup_s": hier[1] - hier[0],
            "data.files_read_bytes": float(g.files_read_bytes),
            "data.scan_time_s": g.total("scan_ms") / 1000.0,
        })
        return m

    def finish_layers(self, layers: dict) -> dict[str, float]:
        """Add the output-shape counts and the imaging layer to the traced
        medians, and split the encode stage's run time per tile into the
        kernel and the rest (the boundary)."""
        out = {**layers, **self.shape_layer(), **self.imaging_layer()}
        out["tiler_job.boundary_ms_per_tile"] = (
            out.pop("tiler_job.encode_run_ms_per_tile") - out["imaging.kernel_ms_per_tile"]
        )
        return out

    def imaging_layer(self, repeats: int = 5) -> dict[str, float]:
        """Per-tile kernel time and its parts, in this process, on the
        sampled tiles: best of `repeats` for each tile, averaged over tiles."""
        kernel, dec, pack, enc, fill = [], [], [], [], []
        for pdf in self.sample.values():
            pdf = pdf.sort_values("image_id", kind="mergesort", ignore_index=True)
            sizes = list(zip(pdf["w"].astype(int), pdf["h"].astype(int)))
            blobs = [bytes(b) for b in pdf["bytes"]]
            fmt = "png" if (pdf["fmt"] == "png").any() else "jpg"
            best = dict(kernel=1e9, dec=1e9, pack=1e9, enc=1e9)
            for _ in range(repeats):
                t0 = time.perf_counter()
                encode_tile(pdf)
                t1 = time.perf_counter()
                pos, atlas_h = imaging.shelf_pack(sizes, 1024)
                t2 = time.perf_counter()
                atlas = np.zeros((atlas_h, 1024, 3), np.uint8)
                t3 = time.perf_counter()
                for (px, py), (w, h), b in zip(pos, sizes, blobs):
                    imaging.decode_into(b, atlas[py:py + h, px:px + w])
                t4 = time.perf_counter()
                imaging.encode(atlas, fmt)
                t5 = time.perf_counter()
                for k, v in (("kernel", t1 - t0), ("pack", t2 - t1), ("dec", t4 - t3), ("enc", t5 - t4)):
                    best[k] = min(best[k], v)
            kernel.append(best["kernel"])
            dec.append(best["dec"])
            pack.append(best["pack"])
            enc.append(best["enc"])
            fill.append(sum(w * h for w, h in sizes) / (1024 * atlas_h))
        ms = lambda xs: 1000.0 * float(np.mean(xs))  # noqa: E731
        return {
            "imaging.kernel_ms_per_tile": ms(kernel),
            "imaging.decode_ms_per_tile": ms(dec),
            "imaging.pack_ms_per_tile": ms(pack),
            "imaging.encode_ms_per_tile": ms(enc),
            "imaging.atlas_fill": float(np.mean(fill)),
        }

    def shape_layer(self) -> dict[str, float]:
        """Counts read from the last run's output (exact, untimed)."""
        lin = self._lineage()
        leaves = len(lin)
        depth = int(lin["cell_id"].str.len().max())
        m = hierarchy.read_manifest_resolved(self.out_dir)

        def count(node) -> int:
            return 1 + sum(count(c) for c in node.get("children", ()))

        return {
            "kd_tree.leaves": float(leaves),
            "kd_tree.depth": float(depth),
            "kd_tree.leaf_fill": self.rows / leaves / KD_TREE_MAX,
            "hierarchy.nodes": float(count(m["root"])),
            "hierarchy.manifest_bytes": float(os.path.getsize(os.path.join(self.out_dir, "tileset.json"))),
        }


def stage_split(g, t0: float, t1: float, kd: tuple[float, float], n_tiles: int) -> dict[str, float]:
    """Layer times of one traced `run_tiler` call (wall [t0, t1], epoch
    seconds), each measured on its own:

    - kd build: the `kd_sample_walk` call
    - map stage: submit to completion of the stage that writes the tile
      shuffle (the largest shuffle write that starts after the kd build and
      completes before the encode stage is submitted)
    - encode stage: submit to completion of the stage that reads the tile
      shuffle and runs Python (the encode + write stage)
    - tail: from the end of the encode stage's job until `run_tiler` returns

    Stages are picked by what they do, not by position in the plan. Time
    none of the four covers (planning, job submission, other jobs, the
    prelude before the kd build) lowers `tiler_job.accounted_share`."""
    encs = [s for s in g.stages if s.m.get("shuffle_r", 0) > 0 and s.m.get("py_sent", 0) > 0]
    if not encs:
        raise RuntimeError("traced run_tiler has no stage that reads a shuffle and runs Python")
    enc = encs[0]
    maps = [
        s for s in g.stages
        if s.m.get("shuffle_w", 0) > 0 and s.submit_ms >= kd[1] * 1000.0
        and s.complete_ms <= enc.submit_ms
    ]
    if not maps:
        raise RuntimeError("traced run_tiler has no shuffle-map stage before its encode stage")
    mp = max(maps, key=lambda s: s.m["shuffle_w"])
    enc_end = next(j.end_ms for j in g.jobs if enc.stage_id in j.stage_ids) / 1000.0
    layers = {
        "kd_tree.build_s": kd[1] - kd[0],
        "tiler_job.map_stage_s": (mp.complete_ms - mp.submit_ms) / 1000.0,
        "tiler_job.encode_stage_s": (enc.complete_ms - enc.submit_ms) / 1000.0,
        "tiler_job.tail_s": t1 - enc_end,
    }
    return {
        **layers,
        "kd_tree.assign_py_s": mp.m.get("py_run_ms", 0) / 1000.0,
        "tiler_job.tail_jobs": float(sum(1 for j in g.jobs if j.submit_ms / 1000.0 >= enc_end)),
        "tiler_job.encode_run_ms_per_tile": enc.m.get("run_ms", 0) / n_tiles,
        "tiler_job.accounted_share": sum(layers.values()) / (t1 - t0),
    }
