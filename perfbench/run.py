"""The repository benchmark: one command that runs a workload, checks
its outputs and prints every metric by name and unit.

    python3 perfbench/run.py --workload backup_roundtrip --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. One Python process, Spark
local[N] with N = the CPUs this process may use, no other clients.

A run:
1. generates the sf0.1-shaped fixture and its DuckDB oracle results
   on first use (cached under .bench_build/perfbench/) and the seeded
   workload inputs;
2. sets the program up (SparkSession, registry import, one warm-up
   action) and runs bench.py's calibration op;
3. runs the workload once, untimed, and checks its outputs;
4. runs timed passes until --seconds have been measured, each pass
   on a fresh set-up, so session caches start empty;
5. sets up again until there are at least three set-up samples, runs
   the calibration op again, stops Spark and prints the report.

The gated end-to-end metrics are CPU seconds, summed over the whole
process tree (this Python process, the JVM and the Python workers):
the median over the set-ups (setup_s) and over the timed passes
(cpu_s). CPU time is what the work costs and hardly moves when a
shared host keeps the benchmark waiting, which stretches the wall time
of a pass by a quarter or more from one minute to the next. The wall
times (setup_wall_s, wall_s) are printed beside them, and per
operation (a query, or a round-trip step) the median and tail of wall
and CPU seconds, over each operation's median across the timed passes;
they are for reading, not gated: one pass of 6 or 15 operations is too
few samples for a steady percentile on such a host.

With --trace 0 the last line carries the end-to-end metrics; with
--trace 1 passes alternate traced and untraced, and it carries the
per-layer metrics of the traced passes plus the tracing overhead
(median traced pass wall time minus median untraced pass wall time;
traced passes run first, on a colder JVM, so this is an upper bound).
The spans of the traced passes are written to
.bench_build/perfbench/spans-<workload>-seed<seed>.json at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = ["backup_roundtrip", "headline_mix", "stats_spine"]
MIN_SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

# Per-layer metrics; a layer a workload does not exercise reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "tables.load_table_calls": "count",
    "tables.load_table_s": "s",
    "tables.load_table_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "cache.rdds": "count",
    "cache.mem_mb": "MiB",
    "cache.first_consumer_s": "s",
    "plan.s": "s",
    "plan.exchanges": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "sources.scan_s": "s",
    "backup.write_s": "s",
    "backup.manifest_s": "s",
    "backup.tasks": "count",
    "backup.files": "count",
    "backup.bytes": "bytes",
    "backup.rows_per_s": "rows/s",
    "backup.stored_bytes_ratio": "ratio",
    "restore.verify_s": "s",
    "restore.incremental_s": "s",
    "restore.restore_s": "s",
    "restore.as_of_s": "s",
    "restore.tasks": "count",
    "restore.rows_per_s": "rows/s",
    "jvm.gc_ms": "ms",
    "jvm.heap_used_mb": "MiB",
    "env.calibration_s": "s",
    "trace.overhead_s": "s",
}

# Printed by every untraced backup_roundtrip run beside the end-to-end
# metrics (medians over its passes); not gated, as the query workloads
# have no such numbers.
BACKUP_REPORT = {
    "export_rows_per_s": "rows/s",
    "incremental_export_s": "s",
    "verify_s": "s",
    "restore_rows_per_s": "rows/s",
    "as_of_restore_s": "s",
    "stored_bytes_ratio": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_workload(name: str, seed: int, sf_dir: str, run_dir: str):
    from workloads import STATS_SPINE, BackupRoundtrip, QueryMix

    if name == "backup_roundtrip":
        return BackupRoundtrip(seed, sf_dir, run_dir)
    if name == "headline_mix":
        from bench import HEADLINE

        return QueryMix(name, HEADLINE, seed, sf_dir)
    return QueryMix(name, STATS_SPINE, seed, sf_dir)


def per_op_medians(passes: list, attr: str) -> tuple[list[float], int]:
    """→ (each operation's median over the passes, samples in all)."""
    per_op = defaultdict(list)
    for r in passes:
        for op, value in getattr(r, attr).items():
            per_op[op].append(value)
    return [statistics.median(v) for v in per_op.values()], sum(map(len, per_op.values()))


def measure(args: argparse.Namespace, sf_dir: str, run_dir: str) -> tuple[dict, dict]:
    """→ (result line, report extras)."""
    from program import Program, Tracer
    from stats import failed_op_ratio, tail
    from workloads import Ops

    workload = make_workload(args.workload, args.seed, sf_dir, run_dir)
    prog = Program(len(os.sched_getaffinity(0)))
    ops = Ops()
    try:
        prog.setup()
        calibration = [prog.calibrate()]
        workload.prepare(prog)
        t0 = time.perf_counter()
        workload.check(prog, ops)
        check_s = time.perf_counter() - t0
        plain, traced, spans = [], [], []
        measured = 0.0
        while measured < args.seconds or not plain or (args.trace and not traced):
            # traced passes go first: a later pass runs on a warmer JVM, so
            # this order makes the reported overhead an upper bound
            tracer = Tracer(args.workload) if args.trace and len(traced) <= len(plain) else None
            prog.setup(tracer)
            res = workload.run_pass(prog, tracer, ops)
            (plain if tracer is None else traced).append(res)
            if tracer is not None:
                spans.append(tracer.spans)
            measured += res.wall
            kind = "untraced" if tracer is None else "traced"
            print(
                f"pass {len(plain) + len(traced)} ({kind}): {res.wall:.3f} s, {res.cpu:.2f} CPU s",
                file=sys.stderr,
            )
        while len(prog.setup_s) < MIN_SETUPS:
            prog.setup()
        calibration.append(prog.calibrate())
    finally:
        prog.close()

    if spans:
        path = os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(spans, fh)
    wall = statistics.median(r.wall for r in plain)
    extras = {
        "failed_op_ratio": (failed_op_ratio(ops.failed, ops.attempted), "ratio"),
        "calibration_start_s": (calibration[0], "s"),
        "calibration_end_s": (calibration[1], "s"),
        "check_s": (check_s, "s"),
        "passes": (len(plain) + len(traced), "count"),
    }
    if args.trace:
        layers = {
            name: statistics.median(r.layers.get(name, 0.0) for r in traced) for name in PER_LAYER
        }
        layers["session.start_s"] = statistics.median(prog.session_start_s)
        layers["registry.load_s"] = statistics.median(prog.registry_load_s)
        layers["env.calibration_s"] = max(calibration)
        layers["trace.overhead_s"] = statistics.median(r.wall for r in traced) - wall
        metrics = {k: (v, PER_LAYER[k]) for k, v in layers.items()}
    else:
        op_cpu, n_samples = per_op_medians(plain, "cpu_samples")
        op_wall, _ = per_op_medians(plain, "samples")
        cpu_tail, tail_pct, n_ops = tail(op_cpu)
        metrics = {
            "setup_s": (statistics.median(prog.setup_cpu_s), "s"),
            "cpu_s": (statistics.median(r.cpu for r in plain), "s"),
        }
        extras["setup_wall_s"] = (statistics.median(prog.setup_s), "s")
        extras["op_cpu_p50_s"] = (statistics.median(op_cpu), "s")
        extras["op_cpu_tail_s"] = (cpu_tail, "s")
        extras["wall_s"] = (wall, "s")
        extras["op_p50_s"] = (statistics.median(op_wall), "s")
        extras["op_tail_s"] = (tail(op_wall)[0], "s")
        extras["op_tail_percentile"] = (tail_pct, "%")
        extras["ops"] = (n_ops, "count")
        extras["op_samples"] = (n_samples, "count")
        for name, unit in BACKUP_REPORT.items():
            values = [r.report[name] for r in plain if name in r.report]
            if values:
                extras[name] = (statistics.median(values), unit)
    for err in ops.errors:
        print(f"FAILED {err}", file=sys.stderr)
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, extras


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    # Python DataSource workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    import timestream_travel_spark  # noqa: F401 — fail fast when the program is absent

    from fixture import ensure_fixture

    os.makedirs(WORK, exist_ok=True)
    sf_dir = ensure_fixture(WORK)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    # keep the temporary files of Spark, the JVM and Python in the checkout
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    try:
        result, extras = measure(args, sf_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace}")
    for name, m in result["metrics"].items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    for name, (value, unit) in extras.items():
        print(f"  {name:28s} {value:.6g} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
