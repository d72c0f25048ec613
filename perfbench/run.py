"""Benchmark entry point.

    python3 perfbench/run.py --workload hot --seed 1 --seconds 20 --trace 0

Runs one workload (``hot`` or ``cold``, see perfbench/README.md) against
the engine in this checkout on ``local[$SPARK_GRAFT_CPUS]`` (default:
the CPUs this process may use), checks every output against the
pure-Python oracles, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``. The line before it holds
details (sample counts, tail percentiles, error rate).

Everything it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure(state_dir: str) -> None:
    """Keep Spark's scratch space inside the checkout and size the
    local master before the JVM starts."""
    local = os.path.join(state_dir, "spark-local")
    tmp = os.path.join(state_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # A fixed set of JIT compiler threads, so that perfbench/cpu.py can
    # leave their time out of the operations' CPU time.
    jvm_opts = f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--conf "spark.driver.extraJavaOptions={jvm_opts}" pyspark-shell'


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    from perfbench import metrics
    from perfbench.workload import SHAPES, Session

    if args.workload not in SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(SHAPES)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "mapreduceindexer_spark", "__init__.py")):
        print("perfbench: the engine package mapreduceindexer_spark is missing", file=sys.stderr)
        return 2

    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _configure(state_dir)
    from mapreduceindexer_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def mark(phase: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[phase] = now - clock
        clock = now

    spark = get_spark(app_name="perfbench")
    mark("spark_start")
    try:
        sess = Session(spark, args.workload, args.seed, work, traced=bool(args.trace))
        mark("inputs")
        sess.setup()
        mark("setup")
        sess.warm_up()
        mark("warm_up")
        sess.run(args.seconds)
        mark("rounds")
        sess.final_check()
        if args.trace:
            tokens = sess.tokens_count()
            if tokens != sess.res.tokens:
                sess.fail("tokenizer", f"{tokens} tokens, the oracle counts {sess.res.tokens}")
            values, details = metrics.per_layer(sess, cores, tokens)
            units = metrics.PER_LAYER
            spans = os.path.join(state_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            sess.tracer.dump(spans)
            details["spans"] = os.path.relpath(spans, ROOT)
        else:
            values, details = metrics.end_to_end(sess.res)
            units = metrics.END_TO_END
        mark("checks")
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    mark("stop")

    res = sess.res
    details.update(
        workload=args.workload,
        seed=args.seed,
        cores=cores,
        error_rate=res.failed / res.attempted,
        setup_wall_s=res.wall.get("setup", []),
        setup_cpu_s=res.samples.get("setup", []),
        rounds=[{"traced": t, "wall_s": w} for t, w in res.rounds],
        phases_s=phases,
    )
    print(json.dumps({"details": details}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
