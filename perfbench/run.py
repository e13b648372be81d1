"""Benchmark of the paper's daily run, from outside the package.

    python3 perfbench/run.py --workload full_reload --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository. One process, one
closed-loop client, ``local[<cores>]``. Set-up (timed as ``setup_s``)
starts Spark, generates the seeded inputs, builds the warehouse the
workload starts from and runs its warm-up operations. Then operations run
back to back until ``--seconds`` of operation time has passed and at least
``MIN_OPS`` have run; each one is checked against DuckDB outside the timer,
and a before/after listing of the warehouse gives the bytes it wrote.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations and prints the per-layer metrics, averaged
per traced operation, plus each layer's share of the traced operation
time; its spans go to ``.perfbench_work/traces/``. The last line of
standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

from inputs import generate
from spans import LAYERS, TABLES, Tracer, per_layer_names

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# operations per run, so that op_p50_s is a median of five or more and a
# traced run has traced operations between untraced ones
MIN_OPS = 5
# driver heap: fixed and pre-touched, so that its page faults land in set-up
# and peak_rss_mb moves with memory outside the heap, not with GC timing
HEAP = "1g"
# C1 only: with C2 the operations kept getting faster for the whole run (so
# op_p50_s depended on how many the host let a run make) and its compiler
# threads doubled the process's CPU time; C1 settles within the warm-up
JIT = "-XX:TieredStopAtLevel=1"

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("ops_per_s", "1/s"),
    ("write_amp", "ratio"),
    ("stored_bytes_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
)


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under ``root``, keyed by relative path."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.relpath(os.path.join(dirpath, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> dict[str, tuple[int, int]]:
    """Per top-level directory: (files, bytes) created or rewritten."""
    out: dict[str, tuple[int, int]] = {}
    for path, meta in after.items():
        if before.get(path) != meta:
            table = path.split(os.sep, 1)[0]
            n, b = out.get(table, (0, 0))
            out[table] = (n + 1, b + meta[0])
    return out


def root_cause(exc: BaseException) -> tuple[str, str]:
    """Class and message of the innermost cause, following the JVM chain."""
    while exc.__cause__ is not None or exc.__context__ is not None:
        exc = exc.__cause__ or exc.__context__
    java = getattr(exc, "java_exception", None)
    if java is not None:
        while java.getCause() is not None:
            java = java.getCause()
        return java.getClass().getName(), str(java.getMessage())
    return type(exc).__name__, str(exc)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(work: str):
    from airflow_etl_finance_market_spark import session

    spark = session.get_spark(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={  # main() points SPARK_LOCAL_DIRS and every JVM's temp at the run
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch {JIT}",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise


def run(args, work: str) -> dict:
    from workloads import WORKLOADS, trace_targets  # imports the package

    t0 = time.perf_counter()
    wall0 = time.time()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, f"perfbench-{os.getpid()}-")
        tracer.add_span("session", "get_spark", wall0, wall0 + session_s)
        t = time.perf_counter()
        inputs = generate(args.seed, os.path.join(work, "input"))
        ctx = SimpleNamespace(spark=spark, tracer=tracer, inputs=inputs, seed=args.seed,
                              warehouse=os.path.join(work, "warehouse"))
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        build = written({}, snapshot(ctx.warehouse))
        setup_s = session_s + time.perf_counter() - t
        wl.expect()  # DuckDB expectations: not part of the system's set-up
        warm_walls = []
        for k in range(-1, -1 - wl.warm_up_ops, -1):
            t = time.perf_counter()
            wl.before_op(k)
            warm = wl.op(k)
            warm_walls.append(time.perf_counter() - t)
            setup_s += warm_walls[-1]
            errors = wl.check(k, warm)
            if errors:
                raise RuntimeError(f"warm-up output check failed: {errors}")
        t = time.perf_counter()
        wl.after_warm_up()
        setup_s += time.perf_counter() - t

        walls = {False: [], True: []}  # traced? -> op walls
        failures, bytes_in, bytes_out = [], 0, 0
        table_writes: dict[str, list[int]] = {}
        timed, i = 0.0, 0
        traced_ok: set[int] = set()  # traced ops that completed and checked out
        while timed < args.seconds or i < MIN_OPS:
            traced = bool(args.trace) and i % 2 == 1
            wl.before_op(i)
            before = snapshot(ctx.warehouse)
            if traced:
                trace_targets(tracer)
                tracer.enabled, tracer.op = True, i
            error, tracer.error_span = None, None
            t = time.perf_counter()
            try:
                with tracer.span("op", args.workload):
                    result = wl.op(i)
            except Exception as exc:
                error = exc
            wall = time.perf_counter() - t
            if traced:
                tracer.enabled = False
                tracer.unwrap()
                tracer.harvest()
            timed += wall
            for table, (n, b) in written(before, snapshot(ctx.warehouse)).items():
                acc = table_writes.setdefault(table, [0, 0])
                acc[0] += n
                acc[1] += b
                bytes_out += b
            if error is None:
                bytes_in += wl.input_bytes(i)
                problems = wl.check(i, result)
                if problems:
                    failures.append({"op": i, "check": problems})
                else:
                    walls[traced].append(wall)
                    if traced:
                        traced_ok.add(i)
            else:
                cls, msg = root_cause(error)
                failures.append({"op": i, "span": tracer.error_span, "exception": cls, "message": msg[:500]})
                traceback.print_exception(error, file=sys.stderr)
                wl.recover(i)
            i += 1
        attempted = i
        problems = wl.check_end()
        if problems:
            failures.append({"op": attempted - 1, "check": problems})
        completed = [w for ws in walls.values() for w in ws]

        if failures:
            print(json.dumps({"workload": args.workload, "failures": failures}), file=sys.stderr)
        base = walls[False] or completed
        if args.workload == "star_reads":  # reads write nothing: report the build it reads
            build_bytes = sum(b for _, b in build.values())
            write_amp = build_bytes / inputs.sizes()["full_csv_bytes"]
        else:
            write_amp = bytes_out / bytes_in if bytes_in else float("nan")
        stored = sum(size for size, _ in snapshot(ctx.warehouse).values())
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(base) if base else float("nan"),
            "ops_per_s": len(completed) / timed,
            "write_amp": write_amp,
            "stored_bytes_ratio": stored / wl.stored_input_bytes(),
            "peak_rss_mb": peak_rss_mb(jvm_pid),
        }
        print(f"# {args.workload} seed={args.seed}: {attempted} ops attempted, "
              f"{len(failures)} failed; inputs {json.dumps(inputs.sizes())}")
        print(f"# session {session_s:.3f} s; warm-up ops (s): "
              + (", ".join(f"{w:.3f}" for w in warm_walls) or "none"))
        print(f"# op_p50_s over {len(base)} samples: "
              + ", ".join(f"{w:.3f}" for w in base))
        for name, unit in END_TO_END:
            print(f"# {name} = {e2e[name]:.6g} {unit}")
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}

        if args.trace:
            per_op = {k: v / max(len(traced_ok), 1)
                      for k, v in tracer.layer_totals(traced_ok).items()}
            for k, v in tracer.layer_totals({None}).items():  # session: once per run
                per_op[k] = v
            for table, short in TABLES.items():
                files, nbytes = table_writes.get(table, (0, 0))
                per_op[f"sources.sinks.{short}.files_written"] = files / attempted
                per_op[f"sources.sinks.{short}.bytes_written"] = nbytes / attempted
            untraced = statistics.median(walls[False]) if walls[False] else float("nan")
            traced_p50 = statistics.median(walls[True]) if walls[True] else float("nan")
            per_op["trace_overhead_frac"] = traced_p50 / untraced - 1
            metrics = {name: {"value": per_op.get(name, 0.0), "unit": unit}
                       for name, unit in per_layer_names()}
            print_shares(per_op, traced_p50)
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"))
            for name, unit in per_layer_names():
                print(f"# {name} = {metrics[name]['value']:.6g} {unit}")
        return {
            "correct": not failures,
            "attempted": attempted,
            "failed": len({f["op"] for f in failures}),
            "metrics": metrics,
        }
    finally:
        stop_spark(spark)


def print_shares(per_op: dict, op_wall: float) -> None:
    """Each layer's self time, and listing's wall, as a share of the op.

    ``reads`` are the star mix's plain parquet reads; ``op`` is what the
    benchmark's own operation span holds outside every layer."""
    rows = [(layer, per_op.get(f"{layer}.self_s", 0.0))
            for layer in (*LAYERS[1:], "reads", "op")]
    rows.append(("listing", per_op.get("listing.wall_s", 0.0)))
    rows.sort(key=lambda kv: -kv[1])
    print(f"# traced op wall {op_wall:.3f} s; self-time shares:")
    for k, v in rows:
        print(f"#   {k:<20} {v:8.3f} s  {v / op_wall:6.1%}")
    print(f"# dominant stage: {rows[0][0]}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("full_reload", "daily_incremental", "star_reads"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (Spark's launcher too): temp files in the run's directory, and
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}")))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
