"""The benchmark's three workloads.

Each workload is prepared once per run (input generation, untimed),
checked once on a cold session (warm-up plus output checks, untimed),
then run as timed passes. Every pass starts from a fresh set-up
(`Program.setup`), so session caches are empty at its start.

- backup_roundtrip: the paper's export pipeline and its inverse over a
  seeded window of `events`, read back from Timestream-shaped pages.
- headline_mix: the historical headline queries (bench.HEADLINE).
- stats_spine: the registry queries that share the rank_kit spines.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import timedelta

import pyarrow.compute as pc
import pyarrow.parquet as pq

from fixture import EVENT_DAYS, EVENTS_FROM, TABLES
from program import Program, Tracer, count_exchanges, tree_cpu_s
from stats import stored_bytes_ratio

# Registry queries that read the operators/rank_kit spines
# (counts_by_type, cents_by_type, dec4_by_type, daily_rows).
STATS_SPINE = [
    "q_ks_two_sample",
    "q_mann_whitney_u",
    "q_spearman_corr",
    "q_kendall_tau",
    "q_kruskal_wallis",
    "q_friedman",
    "q_page_trend",
    "q_jonckheere_terpstra",
    "q_mood_median_test",
    "q_kendalls_w",
    "q_quade_test",
    "q_tukey_fences",
    "q_cramer_von_mises",
    "q_trimmed_winsorized_mean",
    "q_qq_deciles",
    "q_lorenz_deciles",
    "q_hoover_index",
    "q_palma_ratio",
    "q_quantile_ratio",
    "q_brunner_munzel",
    "q_dunn_posthoc",
    "q_mood_scale_test",
    "q_mad_robust_z",
    "q_conover_squared_ranks",
    "q_cucconi_test",
    "q_welch_anova",
    "q_ansari_bradley",
    "q_lepage_test",
    "q_hodges_lehmann_shift",
    "q_runs_two_sample",
    "q_tukey_duckworth",
    "q_trimean_qcd",
    "q_fligner_policello",
    "q_wilson_interval",
    "q_siegel_tukey",
    "q_gini_mean_difference",
    "q_bowley_moors",
]

# Row counts for queries without a DuckDB oracle, on the fixed fixture.
EXPECTED_ROWS = {"q_minhash_lsh_candidates": 300}


@dataclass
class Ops:
    """Operations attempted and failed (an error or a wrong output)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, op: str, why: object) -> None:
        self.failed += 1
        self.errors.append(f"{op}: {why}"[:300])


@dataclass
class PassResult:
    wall: float  # seconds
    cpu: float  # CPU seconds of the whole process tree
    samples: dict[str, float]  # seconds per operation
    cpu_samples: dict[str, float]  # CPU seconds per operation
    layers: dict[str, float] = field(default_factory=dict)
    report: dict[str, float] = field(default_factory=dict)


def timed(tracer: Tracer | None, layer: str, fn):
    """→ (result, seconds, CPU seconds, (jobs, stages, tasks)); counts
    only when traced."""
    c0 = tree_cpu_s()
    if tracer is not None:
        out, secs, counts = tracer.span(layer, fn)
    else:
        t0 = time.perf_counter()
        out = fn()
        secs, counts = time.perf_counter() - t0, (0, 0, 0)
    return out, secs, tree_cpu_s() - c0, counts


def _finish_layers(tracer: Tracer, gc0: float) -> dict[str, float]:
    rdds, mem = tracer.cached()
    gc1, heap = tracer.jvm()
    tracer.totals["cache.rdds"] = rdds
    tracer.totals["cache.mem_mb"] = mem
    tracer.totals["jvm.gc_ms"] = gc1 - gc0
    tracer.totals["jvm.heap_used_mb"] = heap
    return dict(tracer.totals)


def _oracles(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """DuckDB oracle results, strictly normalized, keyed by query.

    The fixture never changes within a checkout, so each result is
    computed once and kept beside the fixture, under a name that
    carries a hash of its SQL; later runs read it back."""
    cache = os.path.join(sf_dir, "oracles")
    os.makedirs(cache, exist_ok=True)
    paths = {
        name: os.path.join(cache, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
        for name, sql in sqls.items()
    }
    missing = [name for name, path in paths.items() if not os.path.exists(path)]
    if missing:
        _compute_oracles(sf_dir, {name: sqls[name] for name in missing}, paths)
    out = {}
    for name, path in paths.items():
        with open(path) as fh:
            got = json.load(fh)
        out[name] = (got["cols"], [tuple(r) for r in got["rows"]])
    return out


def _compute_oracles(sf_dir: str, sqls: dict[str, str], paths: dict[str, str]) -> None:
    import duckdb
    from tools.oracle_check import normalize

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, sql in sqls.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = normalize(res.fetchall(), cols, strict=True)
            tmp = paths[name] + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"cols": cols, "rows": rows}, fh)
            os.replace(tmp, paths[name])
    finally:
        con.close()


class QueryMix:
    """A fixed list of registry queries in seeded order; each is built,
    planned and executed through the noop sink."""

    def __init__(self, name: str, queries: list[str], seed: int, sf_dir: str) -> None:
        self.name = name
        self.order = list(queries)
        random.Random(seed).shuffle(self.order)
        self.sf_dir = sf_dir

    def prepare(self, prog: Program) -> None:
        missing = [q for q in self.order if q not in prog.registry.QUERIES]
        if missing:
            raise SystemExit(f"{self.name}: queries not in the registry: {missing}")

    def check(self, prog: Program, ops: Ops) -> None:
        """Collect every query once and compare it with its oracle."""
        from tools.oracle_check import normalize

        sqls = {q: prog.registry.ORACLES[q] for q in self.order if q in prog.registry.ORACLES}
        oracles = _oracles(self.sf_dir, sqls)
        for name in self.order:
            ops.attempted += 1
            try:
                df = prog.registry.QUERIES[name](prog.spark, self.sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as exc:  # noqa: BLE001 — a failing query is a failed op
                ops.fail(name, f"{type(exc).__name__}: {exc}")
                continue
            if name not in oracles:
                want = EXPECTED_ROWS.get(name)
                if want is None or len(rows) != want:
                    ops.fail(name, f"{len(rows)} rows, expected {want}")
                continue
            o_cols, o_rows = oracles[name]
            if sorted(cols) != sorted(o_cols):
                ops.fail(name, f"columns {sorted(cols)} != oracle {sorted(o_cols)}")
            elif normalize(rows, cols, strict=True) != o_rows:
                ops.fail(name, f"{len(rows)} rows differ from the oracle's {len(o_rows)}")

    def run_pass(self, prog: Program, tracer: Tracer | None, ops: Ops) -> PassResult:
        spark, queries = prog.spark, prog.registry.QUERIES
        samples, cpu_samples = {}, {}
        if tracer is not None:
            tracer.start_pass(spark)
            gc0, _ = tracer.jvm()
        c_pass, t_pass = tree_cpu_s(), time.perf_counter()
        for name in self.order:
            ops.attempted += 1
            fn = queries[name]
            try:
                c0 = tree_cpu_s()
                if tracer is None:
                    t0 = time.perf_counter()
                    fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                    samples[name] = time.perf_counter() - t0
                else:
                    samples[name] = self._traced_query(tracer, name, fn)
                cpu_samples[name] = tree_cpu_s() - c0
            except Exception as exc:  # noqa: BLE001 — a failing query is a failed op
                ops.fail(name, f"{type(exc).__name__}: {exc}")
        wall, cpu = time.perf_counter() - t_pass, tree_cpu_s() - c_pass
        layers = _finish_layers(tracer, gc0) if tracer is not None else {}
        return PassResult(wall, cpu, samples, cpu_samples, layers)

    def _traced_query(self, tracer: Tracer, name: str, fn) -> float:
        spark, t = tracer.spark, tracer.totals
        tracer.op = name
        rdds0, _ = tracer.cached()
        tables0 = t["tables.load_table_s"]
        t0 = time.perf_counter()
        df, build_s, (jobs, _, _) = tracer.span("build", lambda: fn(spark, self.sf_dir))
        t["operators.build_s"] += build_s - (t["tables.load_table_s"] - tables0)
        t["operators.build_jobs"] += jobs
        exchanges, plan_s, _ = tracer.span("plan", lambda: count_exchanges(df))
        t["plan.s"] += plan_s
        t["plan.exchanges"] += exchanges
        _, exec_s, (jobs, stages, tasks) = tracer.span(
            "exec", lambda: df.write.format("noop").mode("overwrite").save()
        )
        t["exec.s"] += exec_s
        t["exec.jobs"] += jobs
        t["exec.stages"] += stages
        t["exec.tasks"] += tasks
        elapsed = time.perf_counter() - t0
        if tracer.cached()[0] > rdds0:
            t["cache.first_consumer_s"] += elapsed
        return elapsed


class BackupRoundtrip:
    """Export a seeded 1-day window of `events` read from
    Timestream-shaped pages (the paper's pipeline), verify it, export
    the next day incrementally, then restore it in full and as of a
    seeded cutoff."""

    WINDOW_DAYS = 1
    INCREMENT_DAYS = 1
    PAGE_ROWS = 2000
    FMT = "%Y-%m-%d %H:%M:%S"

    def __init__(self, seed: int, sf_dir: str, run_dir: str) -> None:
        rng = random.Random(seed)
        span = self.WINDOW_DAYS + self.INCREMENT_DAYS
        self.lo = EVENTS_FROM + timedelta(days=rng.randint(0, EVENT_DAYS - span))
        self.hi = self.lo + timedelta(days=self.WINDOW_DAYS)
        self.hi_inc = self.hi + timedelta(days=self.INCREMENT_DAYS)
        self.cutoff = self.lo + timedelta(seconds=rng.randint(86_400, (span - 1) * 86_400))
        self.sf_dir, self.run_dir = sf_dir, run_dir
        self.pages = os.path.join(run_dir, "pages")

        self.events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        window = self.events.filter(self._between(self.lo, self.hi))
        self.window_rows = window.num_rows
        self.increment_rows = pc.sum(self._between(self.hi, self.hi_inc)).as_py()
        # the faithful export keeps whole seconds, so an as-of restore
        # keeps every row whose second is at or before the cutoff
        last = self.cutoff + timedelta(microseconds=999_999)
        self.as_of_rows = pc.sum(self._between(self.lo, last)).as_py()
        source = os.path.join(run_dir, "window.parquet")
        pq.write_table(window, source, compression="snappy")
        self.source_bytes = os.path.getsize(source)

    def _between(self, lo, hi):
        ts = self.events["ts"]
        return pc.and_(pc.greater_equal(ts, lo), pc.less_equal(ts, hi))

    def prepare(self, prog: Program) -> None:
        """Write the window and the increment as Timestream-shaped pages
        with the program's own timestream_like writer, PAGE_ROWS rows a
        page in time order, as a paginated query returns them. The
        writer runs in this process: page files are input, not work the
        benchmark times."""
        from timestream_travel_spark.sources.timestream_like import TimestreamLikeWriter

        rows = self.events.filter(self._between(self.lo, self.hi_inc)).to_pylist()
        writer = TimestreamLikeWriter(self.pages, self.events.column_names, overwrite=True)
        writer.commit(
            [
                writer.write(iter(rows[i : i + self.PAGE_ROWS]))
                for i in range(0, len(rows), self.PAGE_ROWS)
            ]
        )

    @staticmethod
    def _register(spark) -> None:
        from timestream_travel_spark.sources.timestream_like import TimestreamLikeDataSource

        spark.dataSource.register(TimestreamLikeDataSource)

    def check(self, prog: Program, ops: Ops) -> None:
        """An untimed round trip on the cold session: warms it up and
        checks the outputs like every timed pass does."""
        self.run_pass(prog, None, ops, tag="check")

    def run_pass(
        self, prog: Program, tracer: Tracer | None, ops: Ops, tag: str = "pass"
    ) -> PassResult:
        from pyspark.sql import functions as F

        from timestream_travel_spark.pipeline.backup import BackupConfig, backup
        from timestream_travel_spark.pipeline.restore import (
            incremental_backup,
            restore_as_of,
            restore_backup,
            verify_backup,
        )

        spark = prog.spark
        self._register(spark)
        out = os.path.join(self.run_dir, tag)
        dest = os.path.join(out, "backup")
        source = (
            spark.read.format("timestream_like")
            .option("path", self.pages)
            .load()
            .withColumn("ts", F.to_timestamp("ts"))
        )

        def cfg(hi, mode):
            return BackupConfig(
                dest=dest,
                partition_col="event_type",
                ts_col="ts",
                time_from=self.lo.strftime(self.FMT),
                time_to=hi.strftime(self.FMT),
                rows_per_chunk=1000,
                write_mode=mode,
            )

        state: dict = {}

        def do_backup():
            state["manifest_df"] = backup(spark, source, cfg(self.hi, "overwrite"))

        def do_manifest():
            rows = state["manifest_df"].collect()
            state["manifest"] = spark.createDataFrame(rows, state["manifest_df"].schema)
            return sum(r["row_count"] for r in rows)

        def do_verify():
            return verify_backup(spark, dest, state["manifest"]).collect()

        def do_incremental():
            inc = incremental_backup(spark, source, cfg(self.hi_inc, "append"), state["manifest"])
            return sum(r["row_count"] for r in inc.collect())

        steps = [
            ("backup", "backup", do_backup, None),
            ("manifest", "backup", do_manifest, self.window_rows),
            ("verify", "restore", do_verify, None),
            ("incremental", "restore", do_incremental, self.increment_rows),
            (
                "restore",
                "restore",
                lambda: restore_backup(spark, dest, os.path.join(out, "restored"))["rows_out"],
                self.window_rows + self.increment_rows,
            ),
            (
                "as_of",
                "restore",
                lambda: restore_as_of(
                    spark, dest, os.path.join(out, "as_of"), self.cutoff.strftime(self.FMT)
                )["rows_out"],
                self.as_of_rows,
            ),
        ]
        if tracer is not None:
            tracer.start_pass(spark)
            gc0, _ = tracer.jvm()

        secs: dict[str, float] = {}
        cpu_secs: dict[str, float] = {}
        tasks: dict[str, int] = {"backup": 0, "restore": 0, "sources": 0}
        layers: dict[str, float] = defaultdict(float)

        def run_step(name, layer, fn):
            if tracer is not None:
                tracer.op = name
            got, secs[name], cpu_secs[name], (jobs, stages, n_tasks) = timed(tracer, layer, fn)
            tasks[layer] += n_tasks
            layers["exec.jobs"] += jobs
            layers["exec.stages"] += stages
            layers["exec.tasks"] += n_tasks
            return got

        c_pass, t_pass = tree_cpu_s(), time.perf_counter()
        for name, layer, fn, want in steps:
            ops.attempted += 1
            try:
                got = run_step(name, layer, fn)
            except Exception as exc:  # noqa: BLE001 — a failing step fails the rest
                ops.fail(name, f"{type(exc).__name__}: {exc}")
                ops.attempted += len(steps) - len(secs) - 1
                ops.failed += len(steps) - len(secs) - 1
                break
            if name == "backup":
                state["files"], state["bytes"] = self._files(dest)
            if name == "verify":
                bad = [r for r in got if r["status"] != "ok"]
                if bad or not got:
                    ops.fail(name, f"verify_backup not all ok: {bad or 'no partitions'}")
            elif want is not None and got != want:
                ops.fail(name, f"{got} rows, expected {want}")
        wall, cpu = time.perf_counter() - t_pass, tree_cpu_s() - c_pass
        samples, cpu_samples = dict(secs), dict(cpu_secs)
        shutil.rmtree(out, ignore_errors=True)
        if tracer is not None:
            # the standalone scan of the pages runs after the round trip, so
            # it neither warms the export's read nor counts in the pass time
            ops.attempted += 1
            try:
                run_step("scan", "sources", lambda: source.write.format("noop").mode("overwrite").save())
            except Exception as exc:  # noqa: BLE001 — a failing scan is a failed op
                ops.fail("scan", f"{type(exc).__name__}: {exc}")

        report = {}
        if len(samples) == len(steps):
            report = {
                "export_rows_per_s": self.window_rows / secs["backup"],
                "incremental_export_s": secs["incremental"],
                "verify_s": secs["verify"],
                "restore_rows_per_s": (self.window_rows + self.increment_rows) / secs["restore"],
                "as_of_restore_s": secs["as_of"],
                "stored_bytes_ratio": stored_bytes_ratio(state["bytes"], self.source_bytes),
            }
        if tracer is not None:
            layers.update(_finish_layers(tracer, gc0))
            layers.update(
                {
                    "exec.s": sum(secs.values()),
                    "sources.scan_s": secs.get("scan", 0.0),
                    "backup.write_s": secs.get("backup", 0.0),
                    "backup.manifest_s": secs.get("manifest", 0.0),
                    "backup.tasks": tasks["backup"],
                    "backup.files": state.get("files", 0),
                    "backup.bytes": state.get("bytes", 0),
                    "backup.rows_per_s": report.get("export_rows_per_s", 0.0),
                    "backup.stored_bytes_ratio": report.get("stored_bytes_ratio", 0.0),
                    "restore.verify_s": secs.get("verify", 0.0),
                    "restore.incremental_s": secs.get("incremental", 0.0),
                    "restore.restore_s": secs.get("restore", 0.0),
                    "restore.as_of_s": secs.get("as_of", 0.0),
                    "restore.tasks": tasks["restore"],
                    "restore.rows_per_s": report.get("restore_rows_per_s", 0.0),
                }
            )
        return PassResult(wall, cpu, samples, cpu_samples, dict(layers), report)

    @staticmethod
    def _files(dest: str) -> tuple[int, int]:
        """(gzip chunk files, their bytes) under a backup."""
        files = size = 0
        for root, _, names in os.walk(dest):
            for name in names:
                if name.endswith(".json.gz"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, name))
        return files, size
