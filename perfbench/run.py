"""Pipeline benchmark: index build, index serving and streaming ingest.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

``--workload`` is ``index_build``, ``serve`` or ``stream_ingest``; the
inputs are generated from ``--seed``; each workload measures for
``--seconds``.  ``--trace 1`` records spans around every call into the
program and reports per-layer figures instead of end-to-end ones.
``--smoke`` shrinks every input to a toy size.

``--workload all`` runs each workload untraced and traced, as separate
processes, and prints every named end-to-end metric, every per-layer
metric and the tracing overhead (traced / untraced - 1) of each
end-to-end metric.

Standard output ends with a report line (``{"report": ...}``: input
properties, named metrics with sample counts, problems found) and then
one JSON line ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes lives in a scratch directory under the
repository root that is removed at exit; spans of a traced run are
written to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("index_build", "serve", "stream_ingest")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="toy-size inputs")
    return p.parse_args(argv)


def _configure_env(scratch: str) -> None:
    """Point every scratch path of the engine, Spark, the JVM and Python
    at this run's directory.  Must run before ``insight_spark.engine`` is
    imported: its config reads ``SPARK_GRAFT_SCRATCH`` at import."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_SCRATCH"] = scratch
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    os.environ["TMPDIR"] = tmp
    # C1-only JIT: a fresh JVM reaches steady speed within seconds instead
    # of minutes, so every run measures the same warm state
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    # the short-lived JVM that builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def _peak_rss_kb(pid: int | None) -> int:
    """Peak resident set (VmHWM) of process ``pid``, 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "insight_spark", "__init__.py")):
        print(f"perfbench: no insight_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics, workloads
    from perfbench.spans import Tracer

    base = os.path.join(ROOT, ".perfbench_scratch")
    scratch = os.path.join(base, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(scratch)
    cwd = os.getcwd()
    spark = None
    try:
        _configure_env(scratch)
        os.chdir(scratch)  # stray files of the JVM (logs, derby) land here
        from insight_spark.engine import get_spark
        from pyspark import SparkContext

        t = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(enabled=bool(args.trace))
        tracer.bind(spark)
        ctx = workloads.Ctx(
            spark=spark,
            root=scratch,
            seed=args.seed,
            seconds=args.seconds,
            sizes=workloads.SMOKE if args.smoke else workloads.FULL,
            tracer=tracer,
            t_process=T_PROCESS,
            jvm_pid=getattr(SparkContext._gateway.proc, "pid", None),
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        rss_kb = _peak_rss_kb(ctx.jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(
                os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"),
                T_PROCESS,
            )
    finally:
        try:
            _stop_spark(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass

    res.layers["engine.get_spark_s"] = (get_spark_s, "s")
    res.layers["engine.peak_rss_mb"] = (rss_kb / 1024.0, "MB")
    e2e = {"setup_s": res.setup_s, "op_jobs": res.op_jobs, "op_tasks": res.op_tasks}
    layers = {
        name: {"value": res.layers.get(name, (0.0, unit))[0], "unit": unit}
        for name, (unit, _) in metrics.PER_LAYER.items()
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "e2e": {k: {"value": v, "unit": metrics.END_TO_END[k]} for k, v in e2e.items()},
        "named": {
            k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in res.named.items()
        },
        "props": res.props,
        "problems": res.problems[:20],
    }
    if args.trace:
        report["layers"] = layers
    print(json.dumps({"report": report}))
    if args.trace:
        out_metrics = {k: layers[k] for k in metrics.CONTRACT_LAYERS}
    else:
        out_metrics = report["e2e"]
    print(
        json.dumps(
            {
                "correct": res.failed == 0 and not res.problems and res.attempted > 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": out_metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Each workload untraced then traced, in its own process."""
    sys.path.insert(0, ROOT)
    from perfbench import metrics

    runs: dict[str, dict[int, dict]] = {}
    for w in WORKLOAD_NAMES:
        runs[w] = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--workload", w, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(trace),
            ] + (["--smoke"] if args.smoke else [])
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"perfbench: {w} trace={trace} exited {proc.returncode}", file=sys.stderr)
                return 1
            runs[w][trace] = {
                "report": json.loads(lines[-2])["report"],
                "result": json.loads(lines[-1]),
            }

    named = {}
    for name, (unit, w) in metrics.NAMED.items():
        got = runs[w][0]["report"]["named"].get(name)
        named[name] = got or {"value": None, "unit": unit, "n": 0}
    layers = {}
    for name, (unit, w) in metrics.PER_LAYER.items():
        src = "index_build" if w == "all" else w
        layers[name] = runs[src][1]["report"]["layers"][name]
    overhead = {}
    for w in WORKLOAD_NAMES:
        plain, traced = (runs[w][t]["report"] for t in (0, 1))
        pairs = {m: (plain["e2e"][m]["value"], traced["e2e"][m]["value"]) for m in plain["e2e"]}
        pairs.update(
            (m, (v["value"], traced["named"][m]["value"]))
            for m, v in plain["named"].items()
            if m in traced["named"]
        )
        pairs["op_cpu_ms"] = (plain["props"].get("op_cpu_ms"), traced["props"].get("op_cpu_ms"))
        for m, (a, b) in pairs.items():
            overhead[f"{w}.{m}"] = b / a - 1 if a and b is not None else None

    print("workload        e2e (untraced)")
    for w in WORKLOAD_NAMES:
        e2e = runs[w][0]["report"]["e2e"]
        print(f"  {w:14s} " + "  ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in e2e.items()))
    print("named end-to-end metrics")
    for name, v in named.items():
        val = "n/a" if v["value"] is None else f"{v['value']:.4g}"
        print(f"  {name:30s} {val} {v['unit']}  (n={v['n']})")
    print("per-layer metrics (traced run of the workload that measures them)")
    for name, v in layers.items():
        print(f"  {name:45s} {v['value']:.4g} {v['unit']}")
    print("tracing overhead, traced / untraced - 1")
    for k, v in overhead.items():
        print(f"  {k:30s} {'n/a' if v is None else f'{v:+.3f}'}")
    results = [runs[w][t]["result"] for w in WORKLOAD_NAMES for t in (0, 1)]
    print(json.dumps({"report": {"runs": runs, "tracing_overhead": overhead}}))
    print(
        json.dumps(
            {
                "correct": all(r["correct"] for r in results),
                "attempted": sum(r["attempted"] for r in results),
                "failed": sum(r["failed"] for r in results),
                "metrics": {**named, **layers},
            }
        )
    )
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
