"""Seeded benchmark of the engine's analyst read path and its write paths.

Run from the root of a checkout::

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Workloads:

* ``registry`` -- a fixed third of the declared queries, a cold pass
  on an empty artifact store and then warm passes, ``nproc`` client
  threads;
* ``etl-write`` -- EP1, the audited upsert and the micro-batch upsert
  sink over seeded dirty flights files, one client.

Each run generates its inputs from ``--seed``, uses a fresh artifact
store and fresh output directories under ``.perfbench_work/`` in the
checkout, checks every output outside the timed phases, and writes a
detail file (per-operation timings, failures, environment, and with
``--trace 1`` the spans) to ``.perfbench_out/``. The last stdout line
is the result: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run. Every per-layer
metric is on that line; the ones the workload does not measure (the
registry never calls the write paths, etl-write never calls a query
function) read 0 and are listed on an ``UNMEASURED`` line before it.

End-to-end metrics (every workload; see ``BENCHMARK.json``):
``setup_s`` (package import plus the median of ``SETUPS`` session starts),
``cold_s`` / ``warm_s`` (first pass / a later pass), and ``op_p50_ms``
(median per-operation latency in the warm passes: a query for
``registry``, a micro-batch for ``etl-write``). The workload's own
metric names are printed on the line before, with ``failed_frac``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

sys.dont_write_bytecode = True  # leave no caches in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("registry", "etl-write")
PACKAGE = "prueba_tecnica_analista_etl_spark"
SETUPS = 2  # session starts per run (a fresh JVM each); setup_s is their median

END_TO_END = ("setup_s", "cold_s", "warm_s", "op_p50_ms")
PER_LAYER = {
    "session.import_s": "s", "session.start_s": "s",
    "plans.build_s.warm": "s", "plans.build_self_s.cold": "s",
    "plans.eager_execs.cold": "count", "plans.eager_execs.warm": "count",
    "artifacts.lookups": "count", "artifacts.builds.cold": "count",
    "artifacts.build_s.cold": "s", "artifacts.wait_s.cold": "s",
    "artifacts.builds.warm": "count", "artifacts.hit_s.warm": "s",
    "artifacts.store_mb": "MB",
    "exec.run_s.warm": "s", "exec.catalyst_ms.warm": "ms", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.busy_frac": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "sources.input_mb": "MB", "sources.csv_read_s": "s", "sources.csv_write_s": "s",
    "operators.dedup_s": "s", "operators.upsert_audit_s": "s",
    "operators.upsert_write_s": "s", "functions.validate_s": "s",
    "pipelines.flights_plan_ms": "ms", "streaming.batch_ms.max": "ms",
    "streaming.write_amp": "ratio", "streaming.rejects": "count",
    "trace.overhead_s": "s", "trace.coverage_gap": "ratio",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(work: str) -> None:
    """Pin the run's environment: core count, driver memory, a private
    artifact store and private temp/scratch dirs. Inherited engine
    knobs are dropped so results do not depend on the caller's shell."""
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "PTAE_")):
            del os.environ[k]
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "store")):
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "PTAE_ARTIFACT_DIR": os.path.join(work, "store"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",  # nor from Spark's Python workers
    })


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_frac(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def _commit(root: str) -> str:
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in (f"{PACKAGE}/__init__.py", "__spark_entry__.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(root, need)):
            _fail(f"{need} not found: run from the root of a checkout")

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".perfbench_work", f"{run_id}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    os.chdir(work)  # the session's warehouse and metastore land here
    sys.path[:0] = [HERE, root]
    load_start, cpu_start = os.getloadavg(), _cpu_ticks()

    import tracing as tr

    tracer = tr.Tracer(run_id, enabled=bool(args.trace))
    if tracer.enabled:
        tr.install_artifact_spans(tracer)
    import __spark_entry__  # noqa: F401  (imports the whole plan registry)
    from prueba_tecnica_analista_etl_spark import (  # noqa: F401
        operators, pipelines, sources, streaming,
    )
    from prueba_tecnica_analista_etl_spark.session import get_spark

    t_import = time.perf_counter()
    # a traced run keeps every job and stage in the status store
    retain = {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    } if tracer.enabled else None
    spark = get_spark(app_name="perfbench", extra_conf=retain)
    spark.sparkContext.setLogLevel("ERROR")
    t_ready = time.perf_counter()
    import_s, start_s = t_import - T_START, t_ready - t_import

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    ctx = SimpleNamespace(
        spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds, work=work,
        cpus=cpus, clients=cpus if args.workload == "registry" else 1,
    )
    if args.workload == "registry":
        import registry as wl
    else:
        import etl_write as wl
    try:
        res = wl.run(ctx)
        # more session starts (a fresh JVM each) for a steadier
        # setup_s; the package is imported once per process, so its
        # import time joins every sample
        starts = [start_s]
        for _ in range(SETUPS - 1):
            _stop_spark(spark)
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", extra_conf=retain)
            starts.append(time.perf_counter() - t0)
    finally:
        _stop_spark(spark)
    setup_s = import_s + statistics.median(starts)

    failed = len({f["op"] for f in res["failures"]})
    attempted = res["attempted"]
    e2e = {"setup_s": (setup_s, "s"), **res["e2e"]}
    named = {"setup_s": (setup_s, "s"), "failed_frac": (failed / attempted, "ratio"), **res["named"]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "failed_ops": res["failures"],
        "env": {
            "commit": _commit(root),
            "nproc": ctx.cpus,
            "clients": ctx.clients,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            # share of the host's CPU time taken by its hypervisor during
            # the run; the wall-clock metrics rise with it
            "steal_frac": _steal_frac(cpu_start, _cpu_ticks()),
            "spark": __import__("pyspark").__version__,
            "pyarrow": __import__("pyarrow").__version__,
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "setup_starts_s": starts,
            "import_s": import_s,
        },
        "info": res["info"],
        "per_op": res["per_query"],
    }
    unmeasured = []
    if args.trace:
        # the result line must carry every per-layer metric as a number;
        # a layer this workload never calls into reads 0 there and is
        # named as unmeasured here and in the detail file
        layers = {"session.import_s": import_s, "session.start_s": statistics.median(starts)}
        layers.update(res["layers"])
        unmeasured = [k for k in PER_LAYER if k not in layers]
        detail["layers"] = layers
        detail["unmeasured"] = unmeasured
        detail["spans"] = tracer.spans
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k][0]), "unit": e2e[k][1]} for k in END_TO_END}

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    os.chdir(root)
    shutil.rmtree(work, ignore_errors=True)

    for f in res["failures"]:
        print(f"FAILED {f['op']}: {f['why']}")
    if unmeasured:
        print(f"UNMEASURED by {args.workload} (reported as 0): {', '.join(unmeasured)}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": detail["metrics"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
