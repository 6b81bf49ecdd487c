"""The headline query suite: the ten `bench.py` HEADLINE queries run in
sequence, each to `.count()`, over the sf0.01 fixture tables.

Set-up hash-matches every query's collected result against its DuckDB
`oracle_sql()` with the oracle harness's own `canon`; each timed suite then
checks every query's row count against the oracle's.
"""
from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa

from py3dtilers_spark.data.features import FEATURES_CTE
from py3dtilers_spark.queries import QUERIES

# the frozen bench.py HEADLINE list, in its order
HEADLINE = (
    "kd_tiles",
    "groups_cube",
    "pip_first_match",
    "knn_block",
    "star_join_agg",
    "ngram_jaccard",
    "ann_cosine_topk",
    "events_window",
    "dedup_exact",
    "minhash_lsh_pairs",
)


WARMUP_SUITES = 2


class QueryWorkload:
    """The headline suite over the fixture tables; one suite per timed run.
    The tables are fixed, so the seed has no effect."""

    name = "query_suite"

    def __init__(self, fixture_dir: str, tables: list[str]):
        self.base_dir = fixture_dir
        self.tables = tables

    def prepare_input(self) -> None:
        pass

    def setup(self, spark) -> None:
        from tools.check_oracle import canon

        self.spark = spark
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.base_dir}/{t}.parquet'")
            # rows of the features table that five of the ten queries scan
            self.rows = con.sql(f"WITH {FEATURES_CTE} SELECT count(*) FROM features").fetchone()[0]
            self.oracle_rows = {}
            problems = []
            result_bytes = 0
            # the oracle pass doubles as the warm-up: every query's plan runs once
            for name in HEADLINE:
                fn, sql = QUERIES[name]
                want = con.sql(sql).fetchdf()
                got = fn(spark, self.base_dir).toPandas()
                self.oracle_rows[name] = len(want)
                result_bytes += pa.Table.from_pandas(got, preserve_index=False).nbytes
                if canon(got) != canon(want):
                    problems.append(f"{name}: result does not hash-match its oracle")
        finally:
            con.close()
        if problems:
            raise RuntimeError("; ".join(problems))
        # the timed plans (count, not collect) run WARMUP_SUITES times more
        # before timing: on a 4-vCPU VM the second and third suites of a
        # session still ran 10-25% slower, with more CPU (JIT compilation),
        # than later ones. More warm-up suites did not narrow the spread
        # between runs, which comes from the host.
        for _ in range(WARMUP_SUITES):
            problems = self.check(self.run())
            if problems:
                raise RuntimeError("; ".join(problems))
        in_bytes = sum(
            os.path.getsize(os.path.join(self.base_dir, f"{t}.parquet")) for t in self.tables
        )
        self.result_per_in_byte = result_bytes / in_bytes

    def bind(self, spark) -> None:
        self.spark = spark

    def before(self) -> None:
        pass

    def run(self, group: str | None = None) -> dict:
        """One suite: {"counts": rows per query, "times": seconds per query}.
        With a `group`, each query's jobs carry the job group `<group>.<name>`."""
        counts, times = {}, {}
        sc = self.spark.sparkContext
        for name in HEADLINE:
            if group is not None:
                sc.setJobGroup(f"{group}.{name}", name)
            t0 = time.perf_counter()
            counts[name] = QUERIES[name][0](self.spark, self.base_dir).count()
            times[name] = time.perf_counter() - t0
        return {"counts": counts, "times": times}

    def check(self, res: dict) -> list[str]:
        return [
            f"{n}: {res['counts'][n]} rows, oracle has {self.oracle_rows[n]}"
            for n in HEADLINE
            if res["counts"][n] != self.oracle_rows[n]
        ]

    def out_ratio(self) -> float:
        # a set-up constant: timed suites count rows and write nothing
        return self.result_per_in_byte

    # the suite calls no layer that spans wrap
    def trace_on(self) -> None:
        pass

    def trace_off(self) -> None:
        pass

    def run_layers(self, run: dict, groups: dict) -> dict[str, float]:
        gs = [groups[f"{run['group']}.{q}"] for q in HEADLINE if f"{run['group']}.{q}" in groups]
        m = {f"queries.{q}_s": run["res"]["times"][q] for q in HEADLINE}
        m["queries.shuffle_write_bytes"] = float(sum(g.total("shuffle_w") for g in gs))
        m["queries.py_worker_s"] = sum(g.total("py_run_ms") for g in gs) / 1000.0
        m["queries.exec_cpu_s"] = sum(g.total("cpu_ns") for g in gs) / 1e9
        m["data.files_read_bytes"] = float(sum(g.files_read_bytes for g in gs))
        m["data.scan_time_s"] = sum(g.total("scan_ms") for g in gs) / 1000.0
        return m

    def finish_layers(self, layers: dict) -> dict[str, float]:
        return layers
