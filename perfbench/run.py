#!/usr/bin/env python3
"""Same-session benchmark of py3dtilers_spark: tileset construction on
coarse kd tiles, and the headline query suite.

Run from the repository root:

    python3 perfbench/run.py --workload tile_coarse --seed 1 --seconds 12 --trace 0

One process, one client, closed loop: the next timed call starts when the
previous one returned and its output was checked. The Spark session runs
`local[<cores>]` with cores = the CPUs this process may use.

--trace 0 prints the end-to-end metrics; --trace 1 first makes the same
untraced runs, then restarts the session with Spark's event log on, repeats
the runs under job groups and prints the per-layer metrics. Metric names and
units come from BENCHMARK.json. Human-readable lines go first; the last line
of stdout is one JSON object. Everything the run writes stays under
.perfbench_work/ in the working directory.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402

WORKLOADS = ("tile_coarse", "query_suite")
# the sf0.01 test tables, with their row counts and sha256 in tables.json
FIXTURE = os.path.join(HERE, "sf0.01")
WORK = ".perfbench_work"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not 0 <= args.seed < 2**31:
        ap.error("--seed must be in [0, 2**31)")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def program_root() -> str:
    root = os.getcwd()
    need = ("py3dtilers_spark/plans/tiler_job.py", "tools/check_oracle.py", "BENCHMARK.json")
    missing = [p for p in need if not os.path.isfile(os.path.join(root, p))]
    if missing:
        sys.exit(f"perfbench: run from the repository root; missing {', '.join(missing)}")
    return root


def metric_specs(root: str) -> tuple[list, list]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench["end_to_end"], bench["per_layer"]


def host_session_conf(work: str) -> tuple[int, dict]:
    """local[<usable CPUs>] and a driver heap that fits the host: a quarter
    of its memory, at most 2 GiB (the engine's default is 16g). The heap is
    fixed (-Xms = -Xmx) and touched at JVM start: a JVM whose resident heap
    grows as G1 first uses its regions makes the process tree's RSS depend
    on GC timing and on how many runs came before, not on the work."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_mib = max(1024, min(2048, total_kib // 1024 // 4))
    return cores, {
        "spark.driver.memory": f"{heap_mib}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap_mib}m -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def prepare_env(root: str, work: str) -> None:
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark's Python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: temp files in the work
    # dir and no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # takes precedence over spark.local.dir when set in the caller's env
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the IVF oracle is trained at import time from this table
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = FIXTURE
    # engine tuning knobs run at their defaults
    for knob in ("SPARK_GRAFT_AUTO_SHARD_TILES", "SPARK_GRAFT_ROWS_PER_TASK"):
        os.environ.pop(knob, None)


def verify_fixture() -> list[str]:
    """Names of the fixture tables, after checking each file's sha256."""
    with open(os.path.join(FIXTURE, "tables.json")) as fh:
        want = json.load(fh)
    for name, meta in want.items():
        with open(os.path.join(FIXTURE, f"{name}.parquet"), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != meta["sha256"]:
                raise RuntimeError(f"fixture table {name} differs from tables.json")
    return sorted(want)


def start_session(cores: int, conf: dict):
    from py3dtilers_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it: the gateway
    server exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def timed_loop(wl, seconds: float, sampler, group_prefix: str | None = None) -> dict:
    """Closed loop for `seconds` (at least one run). Output is cleared
    before and checked after each run, outside the timed interval."""
    pid = os.getpid()
    runs, attempted, failed = [], 0, 0
    start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - start < seconds:
        wl.before()
        group = f"{group_prefix}{attempted}" if group_prefix is not None else None
        attempted += 1
        cpu0 = proctree.tree_cpu_s(pid)
        try:
            with sampler.measure():
                t0 = time.time()
                p0 = time.perf_counter()
                res = wl.run(group)
                wall = time.perf_counter() - p0
                t1 = time.time()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        cpu = proctree.tree_cpu_s(pid) - cpu0
        try:
            problems = wl.check(res)
        except Exception as e:  # an unreadable output is a failed check
            problems = [f"check raised {e!r}"]
        if problems:
            print(f"check failed: {problems}", file=sys.stderr)
            failed += 1
        runs.append({
            "wall": wall, "cpu": cpu, "t0": t0, "t1": t1, "res": res, "group": group,
            "out_ratio": wl.out_ratio(),
        })
    return {"runs": runs, "attempted": attempted, "failed": failed}


def med(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(wl, loop: dict, setup_s: float, sampler) -> dict[str, float]:
    runs = loop["runs"]
    wall = med(r["wall"] for r in runs)
    return {
        "wall_s": wall,
        "features_per_s": wl.rows / wall,
        "cpu_s": med(r["cpu"] for r in runs),
        # one timed call's peak, median over calls
        "peak_rss_mb": med(sampler.peaks_bytes) / 1e6,
        "out_bytes_per_in_byte": med(r["out_ratio"] for r in runs),
        "setup_s": setup_s,
    }


def traced_layers(wl, loop: dict, groups: dict, untraced_wall: float) -> dict:
    """Per-layer metrics: the median over traced runs of each figure."""
    per_run = [{**wl.run_layers(r, groups), "trace.wall_s": r["wall"]} for r in loop["runs"]]
    out = {k: med(m[k] for m in per_run) for k in per_run[0]}
    out["trace.overhead_s"] = out["trace.wall_s"] - untraced_wall
    return wl.finish_layers(out)


def emit(specs: list, values: dict, correct: bool, attempted: int, failed: int,
         notes: list, missing_is_zero: bool) -> None:
    metrics = {}
    for spec in specs:
        # per-layer: a layer the workload does not run reports 0
        v = float(values.get(spec["name"], 0.0) if missing_is_zero else values[spec["name"]])
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
        print(f"{spec['name']:40s} {v:16.6g} {spec['unit']}")
    for line in notes:
        print(line)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }), flush=True)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def make_workload(name: str, seed: int, work: str, tables: list[str]):
    if name == "query_suite":
        from querysuite import QueryWorkload

        return QueryWorkload(FIXTURE, tables)
    from tiling import TileWorkload

    return TileWorkload(seed, work, FIXTURE)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = program_root()
    e2e_specs, layer_specs = metric_specs(root)
    work = os.path.join(root, WORK)
    cores, conf = host_session_conf(work)

    prepare_env(root, work)
    sys.path.insert(0, root)
    spark = None
    try:
        # a missing input is built before the set-up clock starts, so set-up
        # time does not depend on what earlier runs cached
        wl = make_workload(args.workload, args.seed, work, verify_fixture())
        wl.prepare_input()
        log("inputs ready")
        # set-up: fixture and input checks, session start, warm-up runs and
        # their checks
        t_setup = time.perf_counter()
        verify_fixture()
        spark, start_s = start_session(cores, conf)
        log(f"session started in {start_s:.2f} s")
        wl.setup(spark)
        setup_s = time.perf_counter() - t_setup
        log(f"set-up done in {setup_s:.2f} s")

        with proctree.RssSampler(os.getpid()) as sampler:
            loop = timed_loop(wl, args.seconds, sampler)
        if not loop["runs"]:
            log("every timed run raised")
            return 1
        log(f"{loop['attempted']} timed runs done")
        timed_s = sum(r["wall"] for r in loop["runs"])
        values = end_to_end(wl, loop, setup_s, sampler)
        notes = [
            f"workload={args.workload} seed={args.seed} cores={cores} "
            f"input_rows={wl.rows} samples={len(loop['runs'])} "
            f"walls={[round(r['wall'], 3) for r in loop['runs']]} "
            f"fail_share={loop['failed'] / loop['attempted']:.3f} "
            f"rss_samples={sampler.samples} sampler_cpu_share={sampler.cpu_s / timed_s:.5f}"
        ]
        specs = e2e_specs
        attempted, failed = loop["attempted"], loop["failed"]
        if args.trace:
            spark.stop()
            spark = None
            values, traced = trace_phase(wl, args, cores, conf, work, values["wall_s"])
            values["session.start_s"] = start_s
            values["sampler.cpu_share"] = sampler.cpu_s / timed_s
            specs = layer_specs
            attempted += traced["attempted"]
            failed += traced["failed"]
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
    emit(specs, values, failed == 0, attempted, failed, notes, missing_is_zero=bool(args.trace))
    return 0


def trace_phase(wl, args, cores: int, conf: dict, work: str, untraced_wall: float):
    """Start a new session (same JVM, already warm) with the event log on,
    repeat the timed runs under job groups, stop it and fold the log.
    Returns (per-layer values, traced loop)."""
    import eventlog

    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark, _ = start_session(cores, {
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    })
    try:
        wl.bind(spark)
        wl.trace_on()
        try:
            with proctree.RssSampler(os.getpid()) as sampler:
                loop = timed_loop(wl, args.seconds, sampler, group_prefix="it")
        finally:
            wl.trace_off()
    finally:
        spark.stop()
    if not loop["runs"]:
        raise RuntimeError("every traced run raised")
    groups = eventlog.fold(log_dir)
    return traced_layers(wl, loop, groups, untraced_wall), loop


if __name__ == "__main__":
    sys.exit(main())
