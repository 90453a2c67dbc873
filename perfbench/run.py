"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the program from the checkout (build.py), runs one workload
against it, checks its outputs, prints each metric with its unit and
sample count, and ends with one JSON line: the end-to-end metrics
with --trace 0, the per-layer metrics of a traced run with --trace 1.
See README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import inputs  # noqa: E402
import jvm  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import webhook  # noqa: E402

WORKLOADS = ("webhook", "corpus_sample")
RUN_LIMIT_S = 175
E2E_UNITS = {"setup_s": "s", "done_ms": "ms", "rate_per_s": "1/s"}


def summarize(done, res, rate):
    """End-to-end metrics, each with a description line."""
    setups = res["setups"]
    return {
        "setup_s": (stats.median(setups), f"median of {len(setups)} launches"),
        "done_ms": done,
        "rate_per_s": rate,
    }


def print_timing(label, values):
    """A timing's median and tail percentile, with its sample count; a
    None (a failed request, a point that never landed) counts as
    infinite."""
    v = stats.missing_as_inf(values)
    q, t = stats.tail(v)
    print(f"  {label}: p50 {stats.median(v):.2f} ms, "
          f"p{q} {t:.2f} ms, n={len(v)}")


def run_webhook(cp, workdir, seed, seconds, trace_file):
    res = webhook.run(cp, workdir, seed, seconds, trace_file)
    steps = res["steps"]
    for st in steps:
        print(f"  step {st['rate']:g} req/s: "
              f"{'pass' if st['passed'] else 'fail: ' + '; '.join(st['why'])}"
              f", drained {st['drained_per_s']:.1f} rows/s")
    rate = (max(st["drained_per_s"] for st in steps),
            "peak drained rows/s over the ramp steps")
    print(f"  first point of a fresh JVM: POST due to row landed "
          f"{res['first_s']:.3f} s")
    print_timing("warm-up POST due to row landed", res["warmup_landed_ms"])
    print_timing("POST reply from the due time", res["post_ms"])
    print_timing("POST due to row landed", res["landed_ms"])
    done = stats.missing_as_inf(res["landed_ms"])
    m = summarize((stats.median(done), f"median POST due to row landed, "
                   f"n={len(done)}"), res, rate)
    return m, res, len(res["recs"])


def run_corpus(cp, workdir, seed, seconds, trace_file):
    res = corpus.run(cp, workdir, seed, seconds, trace_file)
    cold = {r["name"]: r["ms"] for r in res["runs"] if r["pass"] == "cold"}
    warm = {}
    for r in res["runs"]:
        if r["pass"] == "warm":
            warm.setdefault(r["name"], []).append(r["ms"])
    # a query's warm time is its best warm run: interference from other
    # work on the box only ever adds time
    warm_best = {n: min(v) for n, v in warm.items()}
    print_timing("cold run per query", list(cold.values()))
    print_timing("warm run per query (best of its warm runs)",
                 list(warm_best.values()))
    print(f"  all {len(cold)} queries: cold {sum(cold.values()) / 1e3:.3f} s, "
          f"warm {sum(warm_best.values()) / 1e3:.3f} s")
    # the end-to-end figures cover the fixed core, so that every seed
    # times the same queries; the drawn ones are timed, checked and
    # printed above
    core = [n for n in inputs.CORE_QUERIES if n in cold and n in warm_best]
    cold_core = sum(cold[n] for n in core)
    warm_core = sum(warm_best[n] for n in core)
    m = summarize((stats.geomean([cold[n] for n in core]),
                   f"geometric mean over the {len(core)} core queries' "
                   "cold runs"), res,
                  (1e3 * len(core) / warm_core if warm_core else 0.0,
                   "core queries/s over their best warm runs"))
    res["corpus_cold_s"] = cold_core / 1e3
    res["corpus_warm_s"] = warm_core / 1e3
    missing = set(res["names"]) - set(cold) - set(warm_best)
    res["failed"] = max(res["failed"], len(missing))
    return m, res, len(res["names"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    def abort(*_):
        webhook.kill_loadgens()
        jvm.stop_all()
        print(f"run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        os._exit(3)
    signal.signal(signal.SIGALRM, abort)
    signal.signal(signal.SIGTERM, abort)

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    classpath = ":".join([cp["program"], cp["bench"], cp["spark"]])
    signal.alarm(RUN_LIMIT_S)

    root = os.path.dirname(HERE)
    workdir = os.path.join(root, ".bench_run",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    trace_file = os.path.join(workdir, "trace.jsonl") if a.trace else None
    t0 = time.time()
    try:
        if a.workload == "corpus_sample":
            m, res, attempted = run_corpus(classpath, workdir, a.seed,
                                           a.seconds, trace_file)
        else:
            m, res, attempted = run_webhook(classpath, workdir, a.seed,
                                            a.seconds, trace_file)
        layers = None
        if a.trace:
            events = tracing.load(trace_file)
            layers = (tracing.corpus_layers(events, res)
                      if a.workload == "corpus_sample"
                      else tracing.webhook_layers(events, res))
    finally:
        jvm.stop_all()
        signal.alarm(0)
        shutil.rmtree(workdir, ignore_errors=True)

    for k, (v, _) in m.items():
        if not math.isfinite(v) or v <= 0:
            res["problems"].append(f"{k} was not measured")
            m[k] = (0.0, "not measured")
    failed = res["failed"]
    correct = failed == 0 and not res["problems"]
    for p in res["problems"][:20]:
        print(f"problem: {p}")
    print(f"  peak RSS of the program JVM {res['rss_mb']:.1f} MB")
    print(f"workload {a.workload} seed {a.seed}: {attempted} operations, "
          f"{failed} failed, failed_share {failed / max(1, attempted):.4f}, "
          f"correct {correct}, wall {time.time() - t0:.1f} s")
    if a.workload == "corpus_sample":
        print(f"  corpus_cold_s {res['corpus_cold_s']:.3f} s, "
              f"corpus_warm_s {res['corpus_warm_s']:.3f} s (core); "
              f"queries: {','.join(res['names'])}")
    for k, (v, note) in m.items():
        print(f"  {k} = {v:.4f} {E2E_UNITS[k]} ({note})")
    if a.trace:
        layers = {k: float(v) if math.isfinite(v) else 0.0
                  for k, v in layers.items()}
        for name, unit in tracing.PER_LAYER:
            print(f"  layer {name} = {layers[name]:.4f} {unit}")
        metrics = {name: {"value": layers[name], "unit": unit}
                   for name, unit in tracing.PER_LAYER}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, (v, _) in m.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
