"""Run one benchmark workload; the last stdout line is its JSON result.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``.perfbench_work/traces/``. One JSON line with the
host block, inputs, samples and the workload's own named metrics is
printed before the result line. Everything the run writes stays under
``.perfbench_work/`` in the checkout; generated inputs are cached there
per workload and seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("cdc_ingest", "lake_serve")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size",
        choices=("small", "tiny"),
        default="small",
        help="input sizes; 'tiny' is for the smoke test",
    )
    p.add_argument(
        "--tamper-expected",
        action="store_true",
        help="corrupt the expected state hash (smoke test of the checker)",
    )
    return p.parse_args(argv)


def _git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark and the JVM, and wait until every process this run
    started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    pids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — fall through to SIGKILL below
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 15
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in pids:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "ml_data_pipeline_spark", "__init__.py")):
        print(
            "perfbench: ml_data_pipeline_spark/ is missing; run from the root "
            "of a checkout of the repository",
            file=sys.stderr,
        )
        return 2

    # A terminated run still stops its JVM (see the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, f"run-{run_id}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)

    import pyspark

    from ml_data_pipeline_spark.session import build_session
    from perfbench import trace, workloads

    load_before = os.getloadavg()
    steal_before = _steal_s()
    import_s = time.perf_counter() - t_main
    tracer = trace.Tracer(run_id)
    uninstall = trace.install(tracer)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(
            app_name="perfbench",
            cores=nproc,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # Keep every stage of the run for per-layer attribution.
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedJobs": "100000",
            },
        )
        session_start_s = time.perf_counter() - t0
        ctx = workloads.Ctx(
            spark=spark,
            tracer=tracer,
            ops=workloads.Ops(),
            work=os.path.join(run_dir, "tables"),
            cache=os.path.join(WORK, "inputs"),
            seed=args.seed,
            seconds=args.seconds,
            size=args.size,
            trace=bool(args.trace),
            tamper_expected=args.tamper_expected,
        )
        t_w = time.perf_counter()
        out = workloads.WORKLOADS[args.workload](ctx)
        workload_s = time.perf_counter() - t_w
        rss = trace.peak_rss_mb()
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        uninstall()
        t_s = time.perf_counter()
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        shutdown_s = time.perf_counter() - t_s

    ops = ctx.ops
    host = {
        "nproc": os.cpu_count(),
        "cores_used": nproc,
        "load_before": load_before,
        "load_after": os.getloadavg(),
        "steal_s": _steal_s() - steal_before,
        "git_sha": _git_sha(),
        "pyspark": pyspark.__version__,
        "java": java,
        "seed": args.seed,
    }
    if args.trace:
        layers = {"session.start_s": session_start_s, "peak_rss_mb": rss, **out["per_layer"]}
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u}
            for k, u in workloads.PER_LAYER_UNITS.items()
        }
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}-{run_id}.json"
        )
        with open(path, "w") as f:
            json.dump({"host": host, "metrics": metrics, "spans": tracer.spans}, f)
    else:
        metrics = {
            k: {"value": float(out["e2e"][k]), "unit": u}
            for k, u in workloads.END_TO_END_UNITS.items()
        }
    detail = {
        "workload": args.workload,
        "run_id": run_id,
        "trace": args.trace,
        "host": host,
        "session_start_s": session_start_s,
        "run_phases": {
            "import_s": import_s,
            "session_s": session_start_s,
            "workload_s": workload_s,
            "shutdown_s": shutdown_s,
        },
        "peak_rss_mb": rss,
        "failures": ops.failures,
        **out["detail"],
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
