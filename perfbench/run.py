"""sparktext benchmark entry point.

    python3 perfbench/run.py --workload fixture-serve --seed 1 --seconds 20 --trace 0

Run it from the root of a sparktext checkout. It starts one local Spark
session (``local[nproc]``, shuffle partitions = nproc, driver heap sized
from MemTotal), builds the workload's seeded corpus, drives the closed
loop for ``--seconds`` and checks every answer against the oracle. The
report lines come first; the last line of stdout is one JSON object.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes spans under ``.perfbench/``). Everything the run writes
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """An eighth of MemTotal, 1-4 GiB: room for the Python workers and for
    other tenants of the host."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1024, min(4096, int(line.split()[1]) // 1024 // 8))
    return 2048


def start_session(work: Path):
    """(spark, get_spark seconds, first-mapInPandas seconds)."""
    from sparktext import get_spark

    n = cpus()
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no /tmp/hsperfdata_* files: a run writes only inside its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", f"local[{n}]", n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> None:
    with open(ROOT / "BENCHMARK.json") as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "sparktext" / "__init__.py").is_file():
        fail(f"no sparktext package under {ROOT}; run from a sparktext checkout", 2)
    here = ROOT / "perfbench"  # modules here import as the perfbench package
    sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != here]
    import sparktext

    if Path(sparktext.__file__).resolve().parent != ROOT / "sparktext":
        fail(f"imported sparktext from {sparktext.__file__}, not from {ROOT}", 2)

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM

    from perfbench import report
    from perfbench.measure import (
        ProcTree, RssSampler, cpu_times, persistent_rdds, steal_frac,
    )
    from perfbench.workloads import WORKLOADS, Run

    spark = None
    sampler = None
    cpu0 = cpu_times()
    try:
        spark, start_s, warm_s = start_session(work)
        setup_s = time.perf_counter() - T_PROCESS
        jvm_pid = spark.sparkContext._gateway.proc.pid
        sampler = RssSampler(ProcTree(jvm_pid))
        sampler.start()
        run = Run(spark, bool(args.trace), jvm_pid)
        run.phases += [("start", T_PROCESS), ("setup", time.perf_counter())]
        info = WORKLOADS[args.workload](run, args.seed, args.seconds, str(work))
        run.values["session.cache_entries_leaked"] = persistent_rdds(spark)
        info["host_steal_frac"] = round(steal_frac(cpu0, cpu_times()), 4)
        sampler.stop()
        run.values["proc.max_workers"] = sampler.max_workers
        peak, sampler = sampler.peak, None
        run.values.update({
            "setup_s": setup_s,
            "peak_rss_mb": peak["total"],
            "session.start_s": start_s,
            "session.warmup_s": warm_s,
            "proc.driver_rss_peak_mb": peak["driver"],
            "proc.jvm_rss_peak_mb": peak["jvm"],
            "proc.pyworker_rss_peak_mb": peak["pyworker"],
        })
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.phase("teardown")

    out_dir = ROOT / ".perfbench" / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    result = report.emit(run, args, info, out_dir)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
