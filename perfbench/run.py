"""Benchmark of the reactive lens engine and the pair-dedup operators.

    python3 perfbench/run.py --workload reactive_update --seed 1 --seconds 10 --trace 0

Runs one workload in one process against one Spark ``local[N]`` session and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md).  Exits non-zero without a result when the program under
test cannot be imported or any step raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)          # the repository checkout
TMP_BASE = os.path.join(ROOT, ".perfbench_tmp")
TRACE_OUT = os.path.join(ROOT, ".perfbench_out")

CPUS = 4                              # Spark local[N], N = nproc of the reference host
HEAP = "3g"                           # driver heap, via SPARK_DRIVER_MEMORY

WORKLOADS = ("reactive_update", "dedup_pairs")
# Both are user+sys cpu of the process tree.  Wall time is not among them:
# it follows the host's cpu steal, which moved 2-58 s per run here, and its
# run-to-run spread (0.34 of the median per operation, a 15% shift of the
# set-up median between two sets) exceeds any usable bound.  Wall figures
# are per-layer.
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}

_CODECS = ("jsonl", "cbor", "msgpack")
PER_LAYER = {
    "session.start_s": "s",
    "setup.wall_s": "s",
    **{f"codecs.decode_s.{c}": "s" for c in _CODECS},
    **{f"codecs.encode_s.{c}": "s" for c in _CODECS},
    **{f"codecs.mb_per_s.{c}": "MB/s" for c in _CODECS},
    "sources.import_s": "s",
    "sources.export_s": "s",
    "values.hash_us_per_rec": "us",
    "store.write_entries_s": "s",
    "store.write_entries_df_s": "s",
    "store.read_ms": "ms",
    "store.read_df_s": "s",
    "store.iterate_s": "s",
    "store.segments": "count",
    "store.bytes_on_disk": "B",
    **{f"lens.build_s.{n}": "s" for n in ("sum", "inv", "cnt")},
    "lens.mapped_records": "count",
    "lens.jobs_per_build": "count",
    "lens.stages_per_build": "count",
    "lens.tasks_per_build": "count",
    "lens.shuffle_bytes_per_build": "B",
    "lens.map_s": "s",
    "lens.reduce_s": "s",
    "reduce.fold_us_per_value": "us",
    "streaming.cascade_s": "s",
    "streaming.builds_per_update": "count",
    "streaming.changed_build_ratio": "ratio",
    "streaming.noop_cascade_s": "s",
    "dedup.jaccard_s": "s",
    "dedup.minhash_s": "s",
    "dedup.jobs_per_pass": "count",
    "dedup.shuffle_bytes_per_pass": "B",
    "dedup.pairs_exact": "count",
    "dedup.pairs_minhash": "count",
    "dedup.recall": "ratio",
    "dedup.warmup_s": "s",
    "process.jvm_cpu_s": "s",
    "process.python_worker_cpu_s": "s",
    "process.driver_py_cpu_s": "s",
    "process.jvm_peak_rss_mb": "MB",
    "reactive.update_p50_s": "s",
    "reactive.read_p90_ms": "ms",
    "reactive.store_bytes_per_user_byte": "ratio",
    "bulk.cpu_s_per_build": "s",
    "trace.cpu_s_per_op": "s",
    "trace.overhead_cpu_s_per_op": "s",
    "trace.bookkeeping_s_per_op": "s",
    "trace.spans": "count",
    "tmp.leftover_dirs": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    # each run makes a fixed number of operations (see workloads.py), which
    # already outlasts the usual run length; the argument is accepted so
    # every workload keeps the common command line
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(tmp: str) -> None:
    """Workers import the program from the checkout wherever the command
    was started; every temp file of Spark, the JVMs and Python goes under
    ``tmp``."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    for sub in ("py", "java", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = None
    # applies to the launcher JVM too; no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'java')}")


def _start_spark(tmp: str):
    from pigeon_optics_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS, extra_conf={
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.range(1).count()
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    import meter
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        rest = [p for p in meter.process_tree() if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for pid in rest:
                os.kill(pid, signal.SIGKILL)
        else:
            for pid in rest:
                os.kill(pid, signal.SIGTERM)
        time.sleep(0.5)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def _e2e_path(workload: str, seed: int) -> str:
    return os.path.join(TRACE_OUT, f"e2e-{workload}-{seed}.json")


def _overhead(workload: str, seed: int, traced_cpu_s: float) -> float:
    """Tracing overhead: traced minus untraced cpu per operation, against
    the untraced run of the same workload and seed in this checkout."""
    try:
        with open(_e2e_path(workload, seed)) as f:
            return traced_cpu_s - json.load(f)["cpu_s_per_op"]
    except OSError:
        print(f"perfbench: no untraced run of {workload} seed {seed} in this "
              "checkout; trace.overhead_cpu_s_per_op reports 0", file=sys.stderr)
        return 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pigeon_optics_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import gen
    import meter
    import workloads

    os.makedirs(TMP_BASE, exist_ok=True)
    leftovers = sorted(os.listdir(TMP_BASE))
    if leftovers:
        print(f"perfbench: {len(leftovers)} leftover run dirs from earlier runs: "
              f"{leftovers[:5]}", file=sys.stderr)
    tmp = tempfile.mkdtemp(prefix="run-", dir=TMP_BASE)
    spark = None
    try:
        _prepare_env(tmp)
        cpu0 = meter.tree_cpu()["total"]
        t0 = time.perf_counter()
        spark = _start_spark(tmp)
        session_start_s = time.perf_counter() - t0
        tracer = meter.Tracer(bool(args.trace))
        run = workloads.Run(spark, tracer, tmp, args.seed, cpu0, t0)
        e2e, attempted = workloads.WORKLOADS[args.workload](run)
        os.makedirs(TRACE_OUT, exist_ok=True)
        if args.trace:
            workloads.layer_probes(run, gen.records(args.seed))
            run.layer["session.start_s"] = session_start_s
            run.layer["trace.cpu_s_per_op"] = e2e["cpu_s_per_op"]
            run.layer["trace.overhead_cpu_s_per_op"] = _overhead(
                args.workload, args.seed, e2e["cpu_s_per_op"])
            run.layer["trace.spans"] = len(tracer.spans)
            run.layer["trace.bookkeeping_s_per_op"] = run.bookkeeping_s / attempted
            run.layer["tmp.leftover_dirs"] = len(leftovers)
            tracer.write(os.path.join(
                TRACE_OUT, f"spans-{args.workload}-{args.seed}.json"))
        else:
            with open(_e2e_path(args.workload, args.seed), "w") as f:
                json.dump(e2e, f)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(tmp):
            print(f"perfbench: could not remove {tmp}", file=sys.stderr)
        elif not os.listdir(TMP_BASE):
            os.rmdir(TMP_BASE)

    for p in run.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    if args.trace:
        missing = sorted(set(PER_LAYER) - set(run.layer))
        values = {k: run.layer.get(k, 0.0) for k in PER_LAYER}
        if missing:
            print(f"perfbench: layers not used by {args.workload} report 0: "
                  f"{missing}", file=sys.stderr)
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in values.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    # no operation is allowed to fail: one that raises ends the run above
    print(json.dumps({"correct": not run.problems, "attempted": attempted,
                      "failed": 0, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
