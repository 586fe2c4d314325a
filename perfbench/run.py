"""Benchmark of the lwetl_spark engine.

    python3 perfbench/run.py --workload etl_copy --seed 1 --seconds 5 --trace 0

Run from the root of a checkout; the engine is imported from there.  One
process, one closed-loop client, on a local Spark session with one task
slot per available core and the engine's default driver memory.  The
inputs are generated from ``--seed`` (seed 90210 is kept for hold-out
checks of a claimed gain).  The set-up stages the inputs, builds the
templates every pass starts from and runs one untimed warm-up pass of
the whole op sequence; then whole passes run until ``--seconds`` have
passed, at least MIN_PASSES of them.  Every output is checked.

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` (calls, and failed or wrong calls; the line
before it prints their ratio as ``fail_ratio``), and ``metrics``.  With
``--trace 0`` these are the end-to-end metrics:

- ``setup_s``: process start up to the first timed call (session start,
  staging, template builds, warm-up pass), less the time spent
  computing expected outputs and checking outputs;
- ``run_s``: median wall time of one pass, without the harness's own
  work (clearing and linking the pass directory, checking outputs);
- ``write_s`` / ``read_s``: the time one pass spends in the calls that
  persist tables / in the calls that return rows, top-k results or a
  gate verdict (the sum of their latencies), median over the passes.

With ``--trace 1`` every pass is traced and the metrics are the per-layer
ones, medians over the passes: ``<module>.<metric>`` from spans around
the benchmark's calls into each engine module and the Spark jobs each
ran, a few ratios, the session start time and JVM peak memory,
``trace.run_s`` (the traced pass: minus an untraced run's ``run_s`` it is
the tracing overhead) and ``trace.overhead_s`` (the time the tracer spent
reading Spark's status store).  The spans themselves are written to
``perfbench/.work/<workload>/spans.jsonl`` when the run ends.  All scratch
files stay under ``perfbench/.work``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: measured passes per run, however short ``--seconds``
MIN_PASSES = 2
#: per-layer metrics beside the per-module ones, with their units
LAYER_EXTRAS = {
    "plans.db_copy.write_amp": "ratio",
    "operators.incremental.write_amp": "ratio",
    "operators.retrieval.rows_read_per_hit": "ratio",
    "spark.core_util": "ratio",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("etl_copy", "campaign"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", choices=("full", "smoke"), default="full",
        help="input sizes; 'smoke' is a tiny run for the smoke test",
    )
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes under ``work``: the working
    directory (spark-warehouse/, derby.log), Spark's local dirs and the
    temp dirs of the Spark driver, its JVM and the Python workers."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.chdir(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the engine's default driver heap, whatever the calling shell sets
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    # spark-submit's launcher JVM: no hsperfdata file outside the work dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it started) has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    _wait_children()


def _wait_children(timeout: float = 30.0) -> None:
    me = str(os.getpid())
    deadline = time.time() + timeout
    while time.time() < deadline:
        kids = []
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[1] == me:
                        kids.append(int(pid))
            except OSError:
                continue
        if not kids:
            return
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lwetl_spark")):
        print(f"no lwetl_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", args.workload)
    isolate(work)
    sys.path.insert(1, ROOT)
    import data as D
    from spans import MODULE_METRICS, MODULES, Tracer, module_totals, task_seconds, write_spans
    from workloads import WORKLOADS

    from lwetl_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    t0 = time.time()
    spark = get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # no hsperfdata file outside the work dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    session_ready = time.time()
    try:
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](
            spark, work, args.seed, D.SMOKE if args.scale == "smoke" else D.FULL, tracer
        )
        wl.stage()
        staged = time.time()
        wl.build()
        warm_failed = [o.name for o in wl.warm_ops if not o.ok]
        if warm_failed:
            print(f"# the warm-up pass failed: {warm_failed}", file=sys.stderr)
            return 1
        print(f"# session {session_ready - t0:.2f}s, staging {staged - session_ready:.2f}s, "
              f"build {time.time() - staged:.2f}s (checks {wl.expect_s:.2f}s): "
              + " ".join(f"{o.name}={o.seconds:.2f}" for o in wl.warm_ops), file=sys.stderr)

        # closed loop: whole passes until the measuring time is used up
        tracer.enabled = bool(args.trace)
        ops, walls, layers = [], [], []
        call_s = {"write": [], "read": []}  # per pass: summed latency of each kind
        setup_s = time.time() - PROCESS_START - wl.expect_s
        deadline = time.time() + args.seconds
        while len(walls) < MIN_PASSES or time.time() < deadline:
            n_spans, n_ops = len(tracer.spans), len(ops)
            wl.harness_s, tracer.overhead_s = 0.0, 0.0
            t = time.time()
            wl.run_pass(ops)
            wall = time.time() - t - wl.harness_s
            walls.append(wall)
            for kind, per_pass in call_s.items():
                per_pass.append(sum(o.seconds for o in ops[n_ops:] if o.kind == kind))
            if args.trace:
                spans = tracer.spans[n_spans:]
                vals = module_totals(spans)
                vals.update(wl.extras(spans))
                vals["spark.core_util"] = task_seconds(spans) / (wall * cores)
                vals["trace.run_s"] = wall
                vals["trace.overhead_s"] = tracer.overhead_s
                layers.append(vals)
            print(f"# pass {len(walls)} {wall:.2f}s: "
                  + " ".join(f"{o.name}={o.seconds:.2f}" for o in ops[n_ops:]), file=sys.stderr)
        hwm = jvm_hwm_mb(spark)
    finally:
        t = time.time()
        stop(spark)
        print(f"# stopped in {time.time() - t:.2f}s", file=sys.stderr)

    failed = sum(not o.ok for o in ops)
    if args.trace:
        write_spans(tracer.spans, os.path.join(work, "spans.jsonl"))
        units = {f"{m}.{k}": u for m in MODULES for k, u in MODULE_METRICS}
        units.update(LAYER_EXTRAS)
        metrics = {
            n: {"value": statistics.median(v.get(n, 0.0) for v in layers), "unit": u}
            for n, u in units.items()
        }
        metrics["session.start_s"] = {"value": session_ready - t0, "unit": "s"}
        metrics["session.jvm_hwm_mb"] = {"value": hwm, "unit": "MB"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": statistics.median(walls), "unit": "s"},
            "write_s": {"value": statistics.median(call_s["write"]), "unit": "s"},
            "read_s": {"value": statistics.median(call_s["read"]), "unit": "s"},
        }
    shown = ("trace.run_s", "trace.overhead_s", "spark.core_util") if args.trace else metrics
    summary = " ".join(f"{k}={metrics[k]['value']:.4g}" for k in shown)
    print(f"# {args.workload} seed={args.seed} passes={len(walls)} calls={len(ops)} "
          f"{summary} fail_ratio={failed / len(ops):.4g}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
