"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run reads the fixed
corpus under ``perfbench/corpus``, starts a local Spark session, sets the workload up, runs a fixed
number of untimed warm-up passes, then runs whole timed passes until
``--seconds`` have elapsed, and finally checks every distinct op's output.
The last line of standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, and the spans are written under
``.perfbench-out/``. The exit code is 0 only when every op succeeded and
passed its check. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import procstats  # noqa: E402
from tracing import PKG  # noqa: E402

# The source corpus is fixed (a copy of the engine's sf0.001 test corpus);
# --seed drives what the client sends.
CORPUS = os.path.join(HERE, "corpus", "sf0.001")
SCRATCH = os.path.join(ROOT, ".perfbench-run")
OUT = os.path.join(ROOT, ".perfbench-out")
ARTIFACT_STORE = os.path.join(ROOT, "spark-warehouse", "corpus_artifacts")
DRIVER_MEM_MB = 2048

END_TO_END = {
    "setup_s": "s", "run_s": "s", "op_p50_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(run_dir: str) -> dict:
    """Load shape and on-disk state every run starts from."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = min(DRIVER_MEM_MB, mem_mb // 4)
    for sub in ("local", "tmp", "dw", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    shutil.rmtree(ARTIFACT_STORE, ignore_errors=True)
    return {"nproc": nproc, "driver_mem_mb": driver_mb}


def _session(run_dir: str, nproc: int, driver_mb: int, trace: bool):
    from importlib import import_module

    session = import_module(f"{PKG}.session")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # Keep the JVM's temp files and its hsperfdata file out of /tmp.
        #
        # Two JIT compiler threads (the least tiered compilation allows):
        # the codegen'd classes of every pass keep the JIT busy, and its
        # default of three threads beside nproc task threads oversubscribes
        # the cores, which spreads run times.
        #
        # The heap starts at half its cap: grown from the default start,
        # the heap's size (and the tree's peak RSS) followed GC timing and
        # split runs of the same work into two groups 25% apart.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:+PerfDisableSharedMem"
            f" -XX:CICompilerCount=2 -Xms{driver_mb // 2}m"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
        })
    return session.get_spark(
        app_name="perfbench", cpus=nproc, shuffle_partitions=nproc, extra_conf=conf
    )


def _end_spark_processes() -> None:
    """End the Spark JVM and everything it started, and wait for each.

    ``SparkSession.stop`` leaves the JVM up; left alone it exits only some
    time after this process does, when it reads end-of-file on its stdin.
    Closing that pipe here makes it exit now. Whatever of the tree is still
    alive after that (a pyspark daemon or worker the JVM did not reap) is
    terminated, and the run ends only when all of it has ended."""
    me = os.getpid()
    tree = {p: procstats.start_ticks(p) for p in procstats.process_tree() if p != me}
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstats.end_processes(tree)


class Runner:
    """Closed loop, one client thread: each op starts when the last ends."""

    def __init__(self, workload, ctx, rng, tracer):
        from importlib import import_module

        self.workload, self.ctx, self.rng, self.tracer = workload, ctx, rng, tracer
        self.runtime = import_module(f"{PKG}.runtime")
        self.results = {}
        self.ops = []  # one record per executed op
        self.passes = []  # (index, timed, wall_s)
        self.failed = []

    def run_pass(self, index: int, timed: bool) -> None:
        from workloads import Result

        ops = self.workload.make_pass(self.ctx, self.rng)
        if timed:  # warm-up passes keep one order, so set-up is the same work
            self.rng.shuffle(ops)
        t_pass = time.perf_counter()
        for j, op in enumerate(ops):
            op_id = f"p{index}.{j}"
            tr = self.tracer
            if tr:
                tr.op_id = op_id
                jvm0 = tr.jvm_snapshot(self.ctx.spark)
            rec = {"id": op_id, "name": op.name, "family": op.family, "timed": timed,
                   "pass": index, "start": time.time()}
            span = tr.span if tr else lambda *a, **k: contextlib.nullcontext()
            t0 = t1 = time.perf_counter()
            rec["build_end"] = time.time()
            try:
                with span(f"op.{op.name}", op_root=True):
                    with span("op.build"):
                        df = op.build()
                    t1 = time.perf_counter()
                    rec["build_end"] = time.time()
                    with span("op.exec"):
                        rows = df.collect()
                t2 = time.perf_counter()
                if op.name not in self.results:
                    self.results[op.name] = Result(df.columns, df.dtypes, [tuple(r) for r in rows])
            except Exception:  # an op that raises is a failed op; keep serving
                t2 = time.perf_counter()
                self.failed.append((op.name, traceback.format_exc(limit=3)))
            rec.update(end=time.time(), build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
            if tr:
                tr.add_delta(jvm0, tr.jvm_snapshot(self.ctx.spark), op_id)
                tr.op_id = f"p{index}.gap"
            self.runtime.release_persisted()
            self.ops.append(rec)
        self.passes.append((index, timed, time.perf_counter() - t_pass))


def main(argv=None) -> int:
    args = _parse_args(argv)
    try:
        import pyspark  # noqa: F401

        __import__(f"{PKG}.queries")
        __import__("tests.oracle_harness")
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or its test harness from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(SCRATCH, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        return _run(args, run_dir, detail)
    finally:
        _end_spark_processes()
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(ARTIFACT_STORE, ignore_errors=True)
        if os.path.isdir(SCRATCH) and not os.listdir(SCRATCH):
            os.rmdir(SCRATCH)


def _run(args, run_dir: str, detail: dict) -> int:
    from importlib import import_module

    from tests.oracle_harness import duck_connection
    from workloads import WORKLOADS, Context

    detail.update(_pin_environment(run_dir))
    detail["loadavg_at_start"] = procstats.loadavg()
    steal0 = procstats.cpu_times_total()
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    workload = WORKLOADS[args.workload]()
    rng = random.Random(args.seed)
    with procstats.MemorySampler() as mem:
        t_start = time.perf_counter()
        spark = _session(run_dir, detail["nproc"], detail["driver_mem_mb"], bool(args.trace))
        session_start_s = time.perf_counter() - t_start
        try:
            queries = import_module(f"{PKG}.queries")
            if tracer:
                tracer.wrap()
                tracer.listen(spark)
            ctx = Context(spark, CORPUS, os.path.join(run_dir, "dw"), queries.registry(),
                          queries.oracles(), duck_connection(CORPUS))
            runner = Runner(workload, ctx, rng, tracer)
            workload.setup(ctx)
            setup_work_s = time.perf_counter() - t_start - session_start_s
            for i in range(workload.warmup_passes):
                runner.run_pass(i, timed=False)
            setup_s = time.perf_counter() - t_start

            pyw0 = procstats.pyworker_cpu_seconds() if tracer else 0.0
            cpu0 = procstats.cpu_seconds(procstats.process_tree())
            t_timed = time.perf_counter()
            i = workload.warmup_passes
            while time.perf_counter() - t_timed < args.seconds or i == workload.warmup_passes:
                runner.run_pass(i, timed=True)
                i += 1
            t_end = time.perf_counter()
            cpu_timed = procstats.cpu_seconds(procstats.process_tree()) - cpu0
            pyw_timed = procstats.pyworker_cpu_seconds() - pyw0 if tracer else 0.0

            t_check = time.perf_counter()
            try:
                errors = workload.check(ctx, runner.results)
            except Exception:  # a check that cannot run fails the run, with its reason
                errors = {"<check>": traceback.format_exc(limit=3)}
            check_s = time.perf_counter() - t_check
        finally:
            if tracer:
                tracer.unwrap()
            spark.stop()
    steal1 = procstats.cpu_times_total()

    timed_ops = [r for r in runner.ops if r["timed"]]
    timed_passes = [w for _, timed, w in runner.passes if timed]
    walls = [r["wall_s"] for r in timed_ops]
    # The tail needs more than 10 samples; a short run may have fewer.
    tail, tail_pct = procstats.tail_percentile(walls) if len(walls) > 10 else (None, None)
    failed_names = {n for n, _ in runner.failed} | set(errors)
    failed = sum(1 for r in runner.ops if r["name"] in failed_names or "<check>" in errors)
    e2e = {
        "setup_s": setup_s,
        "run_s": statistics.median(timed_passes),
        "op_p50_s": statistics.median(walls),
        "cpu_s": cpu_timed / len(timed_passes),
        # Over the whole run, as a process high-water mark is.
        "peak_rss_mb": mem.peak(t_start, t_end),
    }
    detail.update({
        "session_start_s": session_start_s,
        "setup_work_s": setup_work_s,
        "check_s": check_s,
        "peak_rss_timed_mb": mem.peak(t_timed, t_end),
        "op_tail_s": tail,
        "op_tail_percentile": tail_pct and round(tail_pct, 2),
        "timed_samples": len(walls),
        "timed_passes": len(timed_passes),
        "pass_wall_s": [round(w, 3) for _, _, w in runner.passes],
        "warmup_passes": workload.warmup_passes,
        "cpu_steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "loadavg_at_end": procstats.loadavg(),
        "warmup_op_s": {
            name: round(sum(r["wall_s"] for r in runner.ops if r["name"] == name and not r["timed"]), 4)
            for name in sorted({r["name"] for r in runner.ops if not r["timed"]})
        },
        "timed_op_median_s": {
            name: round(statistics.median([r["wall_s"] for r in timed_ops if r["name"] == name]), 4)
            for name in sorted({r["name"] for r in timed_ops})
        },
        "op_errors": {n: e[:300] for n, e in errors.items()},
        "op_exceptions": [f"{n}: {tb.strip().splitlines()[-1]}"[:300] for n, tb in runner.failed],
    })
    if tracer:
        from layers import per_layer

        metrics = per_layer(tracer, runner, ctx, os.path.join(run_dir, "events"),
                            session_start_s, e2e["run_s"], pyw_timed)
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        spans = os.path.join(OUT, f"spans_{args.workload}_seed{args.seed}.jsonl")
        tracer.write_spans(spans)
        detail["spans_file"] = os.path.relpath(spans, ROOT)
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    correct = not errors and not runner.failed
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": len(runner.ops), "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
