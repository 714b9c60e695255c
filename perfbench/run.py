#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout: the benchmark imports the package from
there, generates its inputs from ``--seed`` under ``.perfbench_work/``,
measures for ``--seconds`` seconds, checks the outputs, deletes its
working files and stops the Spark JVM. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the workload's detail (input
properties, named latencies and rates, sample counts, oracle errors).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
E2E = [("setup_s", "s"), ("op_p50_ms", "ms"), ("work_per_s", "1/s")]
DRIVER_MEM = "2g"
TIME_LIMIT_S = 175


def pin_env(work: str, cpus: int) -> None:
    """Everything the session and its Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # no hsperfdata files in the system temp dir from either JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )


def start_session(work: str, cpus: int, traced: bool):
    from gopensearch_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work}",
    }
    if traced:  # keep every job and stage in the status store
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    return get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the workers it forked) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024


def _timeout(*_):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def measure(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
            t_start: float) -> tuple[dict, dict]:
    """Run one workload in ``spark``: (detail, result line)."""
    from workloads import WORKLOADS, Ctx, pct

    tracer = None
    if trace:
        from layers import Tracer

        tracer = Tracer(spark)
        tracer.install()
    try:
        ctx = Ctx(spark=spark, work=work, seed=seed, seconds=seconds, t_start=t_start,
                  tracer=tracer)
        res = WORKLOADS[workload](ctx)
        e2e = {
            "setup_s": res.setup_s,
            "op_p50_ms": pct(res.op_ms, 50),
            "work_per_s": res.work / res.work_s if res.work_s else 0.0,
        }
        # the JVM's high-water RSS follows its heap sizing more than the
        # program: reported, not gated
        detail = {"workload": workload, "seed": seed, "cpus": len(os.sched_getaffinity(0)),
                  "driver_mem": DRIVER_MEM, "op_samples": len(res.op_ms), "op_ms": res.op_ms,
                  "peak_rss_mb": peak_rss_mb(spark), "loop_s": res.wall_s, **res.detail,
                  "errors": res.errors[:10]}
        if tracer is not None:
            from layers import per_layer_spec

            layer = tracer.layer_metrics(res.n_kdocs, res.index_dir, res.index_docs)
            detail["traced_e2e"] = e2e
            detail["self_time_violations"] = tracer.check_self_times()[:10]
            metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                       for m in per_layer_spec()}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
    finally:
        if tracer is not None:
            tracer.uninstall()
    return detail, {"correct": res.failed == 0, "attempted": res.attempted,
                    "failed": res.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gopensearch_spark", "__init__.py")):
        print(f"perfbench: no gopensearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} ({', '.join(WORKLOADS)})",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_env(work, len(os.sched_getaffinity(0)))
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    spark = None
    try:
        spark = start_session(work, len(os.sched_getaffinity(0)), bool(args.trace))
        detail, result = measure(spark, args.workload, args.seed, args.seconds,
                                 bool(args.trace), work, T_START)
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(detail, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
