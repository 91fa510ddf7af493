"""Ingestion-lakehouse benchmark: one command, seeded inputs, checked results.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The benchmark imports the
``datalakefoundation_spark`` package from that checkout and keeps every file
it makes inside the checkout: the lakehouse, Spark's scratch space and the
JVM's temporary files go to a fresh directory under ``.perfbench_tmp/``,
removed on exit; a traced run writes its spans to ``.perfbench_out/``. The
last line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
WORKLOAD_NAMES = ("cdc_upsert", "corpus_clean")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the measuring window")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal not found")


def start_spark(tmp: Path, n_cores: int):
    from datalakefoundation_spark.session import get_spark

    # a quarter of physical RAM, at most 4 GiB: every workload's data is a
    # few hundred MB, and the host is shared
    driver_mb = min(4096, ram_mb() // 4)
    spark = get_spark(
        "perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=n_cores,
        extra_conf={
            "spark.driver.memory": f"{driver_mb}m",
            "spark.local.dir": str(tmp / "spark-local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 'java'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited: closing the gateway's
    stdin pipe is the JVM's signal to shut down."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def environment(spark, n_cores: int) -> dict:
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "nproc": n_cores,
        "ram_mb": ram_mb(),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "loadavg": os.getloadavg(),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (CHECKOUT / "datalakefoundation_spark" / "__init__.py").is_file():
        print(f"perfbench: no datalakefoundation_spark package in {CHECKOUT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(CHECKOUT))
    t_start = time.perf_counter()
    base = CHECKOUT / ".perfbench_tmp"
    base.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base))
    for sub in ("spark-local", "java", "py"):
        (tmp / sub).mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp / "py")
    n_cores = cores()
    spark = h = None
    try:
        from workloads import WORKLOADS, Harness

        spark = start_spark(tmp, n_cores)
        env = environment(spark, n_cores)
        h = Harness(spark, str(tmp / "lake"), args.seconds, bool(args.trace), t_start)
        try:
            items_wall = WORKLOADS[args.workload](h, args.seed)
            metrics = h.per_layer() if args.trace else h.end_to_end()
            walls = h.walls(items_wall)
        finally:
            h.close()
        if args.trace:
            out = CHECKOUT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            h.tracer.dump(str(out / f"spans-{args.workload}-seed{args.seed}.json"),
                          {"workload": args.workload, "seed": args.seed, "env": env})
        env["loadavg_end"] = os.getloadavg()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        if h is not None:
            for p in h.problems[:20]:
                print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"env": env, "walls": walls, "failed_frac": h.failed / max(1, h.attempted)}))
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
