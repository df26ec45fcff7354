"""fefal_etl_spark benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload {survey_etl,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The run generates its inputs from the seed,
starts Spark on ``local[<cores>]``, runs the workload's cold part and then
warm ops for ``--seconds``, checks every output, and prints a report
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see spec.py / README.md). Exits non-zero, without a
result line, when the engine package is not importable.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import spec  # noqa: E402
import workloads  # noqa: E402


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fefal_etl_spark", "__init__.py")):
        print(f"perfbench: no fefal_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    run = harness.RunDir(ROOT, f"{args.workload}-{args.seed}")
    spark = None
    try:
        tracer = harness.Tracer(enabled=bool(args.trace))
        spark, setup_s = harness.start_spark(run, bool(args.trace), T_PROCESS)
        probe = harness.SparkProbe(spark, tracer)
        ctx = SimpleNamespace(
            spark=spark, tracer=tracer, probe=probe, run_dir=run, seed=args.seed,
            seconds=args.seconds, root=ROOT, t_process=T_PROCESS,
        )
        w = workloads.WORKLOADS[args.workload](ctx)
        phases = {"setup": setup_s}
        failures: list[str] = []
        for phase, fn in (("prepare", w.prepare), ("run", w.run)):
            t = time.perf_counter()
            if not failures:
                _step(failures, phase, fn)
            phases[phase] = time.perf_counter() - t
        peak_rss = harness.rss_mb()
        spark_layers = {}
        if probe.enabled and not failures:
            spark_layers = _step(failures, "probe", probe.collect) or {}
        t = time.perf_counter()
        if not failures:
            failures += _step(failures, "check", w.check) or []
        phases["check"] = time.perf_counter() - t
        print("phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
        m = None if failures else _step(failures, "metrics", w.metrics)
        out = _result(args, w, m, setup_s, peak_rss, spark_layers, failures, tracer)
    finally:
        if spark is not None:
            try:
                _stop(spark)
            except Exception:
                traceback.print_exc()
        run.remove()
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


def _step(failures: list[str], phase: str, fn):
    """Run one phase of the workload. An exception is recorded as a failure
    (and printed), so the run still ends with its result line."""
    try:
        return fn()
    except Exception:
        traceback.print_exc()
        failures.append(f"{phase} raised")
        return None


def _result(args, w, m, setup_s, peak_rss, spark_layers, failures, tracer) -> dict:
    print(f"workload={args.workload} seed={args.seed} trace={args.trace}")
    metrics = {}
    if m is not None:
        e2e = {
            "setup_s": setup_s,
            "cold_s": m["cold_s"],
            "warm_s": m["warm_s"],
            "ops_per_s": m["ops_per_s"],
            "disk_mb": m["disk_bytes"] / 2**20,
        }
        units = {n: u for n, u, *_ in spec.END_TO_END + spec.PER_LAYER + spec.BREAKDOWN}
        layers = dict.fromkeys((n for n, *_ in spec.PER_LAYER + spec.BREAKDOWN), 0.0)
        layers.update({k: v for k, v in spark_layers.items() if k in layers})
        layers.update(m["layers"])
        layers["trace.overhead_s"] = tracer.cost_s
        layers["process.peak_rss_mb"] = peak_rss
        print("samples: " + ", ".join(f"{k} {v}" for k, v in m["samples"].items()))
        print(f"  peak_rss_mb = {_fmt(peak_rss)} MB (driver process plus its JVM)")
        for k, v in e2e.items():
            print(f"  {k} = {_fmt(v)} {units[k]}")
        if args.trace:
            for k, v in layers.items():
                print(f"  {k} = {_fmt(v)} {units[k]}")
            for kind, vals in sorted(spark_layers.get("per_kind", {}).items()):
                print(f"  [{kind}] " + ", ".join(f"{k}={_fmt(v)}" for k, v in vals.items()))
            _trace_overhead(args, e2e, tracer)
            _save(args, "traced.json", {"e2e": e2e, "layers": layers})
        else:
            _save(args, "untraced.json", {"e2e": e2e, "layers": m["layers"]})
        chosen = {n: layers[n] for n, *_ in spec.PER_LAYER} if args.trace else e2e
        bad = [k for k, v in chosen.items() if not math.isfinite(v)]
        if bad:
            failures.append(f"non-finite metrics {bad}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in chosen.items()}
    attempted = max(w.attempted, 1)
    for f in failures:
        print(f"FAIL {f}")
    print(f"error_rate = {len(failures) / attempted:.6g} "
          f"(failed {len(failures)} of {attempted} ops)")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }


def _out_path(args, what: str) -> str:
    return os.path.join(ROOT, ".perfbench_out", f"{args.workload}-{args.seed}-{what}")


def _save(args, what: str, payload: dict) -> None:
    path = _out_path(args, what)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f)


def _trace_overhead(args, e2e: dict, tracer) -> None:
    """Write the spans, print per-layer self time and the traced-minus-
    untraced difference against the last untraced run of this seed."""
    tracer.dump(_out_path(args, "spans.jsonl"))
    for name, s in sorted(tracer.self_times().items()):
        print(f"  self {name} = {s:.4f} s")
    try:
        with open(_out_path(args, "untraced.json")) as f:
            base = json.load(f)["e2e"]
    except (OSError, ValueError, KeyError):
        print("  trace overhead vs untraced: no untraced run of this seed yet")
        return
    for k in ("cold_s", "warm_s"):
        print(f"  trace overhead {k}: {e2e[k] - base[k]:+.4f} s (untraced {base[k]:.4f} s)")


def _stop(spark) -> None:
    """Stop the application, then end the JVM, which exits when its stdin
    closes, and wait until it has."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
