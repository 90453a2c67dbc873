"""The `corpus_sample` workload: a seeded sample of `SparkEntry.queries`
materialized cold and warm in one fresh `local[4]` session, then checked
against the DuckDB oracle."""
import json
import os
import subprocess
import sys

import inputs
import jvm

SCALE = 0.01
SETUP_PROBES = 2


def run(classpath, workdir, seed, seconds, trace_file):
    data = os.path.join(workdir, "data")
    inputs.write_corpus(seed, data, SCALE)
    names = inputs.corpus_queries(seed)
    setups = []
    for k in range(SETUP_PROBES):
        j = jvm.Jvm(classpath, "perfbench.CorpusRun", ["setup", data],
                    os.path.join(workdir, f"setup{k}"))
        setups.append(j.wait_ready(120))
        if j.wait(60) != 0:
            raise RuntimeError("setup probe failed")
    result_file = os.path.join(workdir, "queries.jsonl")
    verify_dir = os.path.join(workdir, "verify")
    main_dir = os.path.join(workdir, "main")
    j = jvm.Jvm(classpath, "perfbench.CorpusRun",
                ["run", data, result_file, verify_dir, ",".join(names),
                 str(seconds)], main_dir, trace_file=trace_file)
    try:
        setups.append(j.wait_ready(120))
        rss = 0.0
        while j.proc.poll() is None:
            rss = max(rss, j.peak_rss_mb())
            try:
                j.proc.wait(0.2)
            except subprocess.TimeoutExpired:
                pass
        code = j.proc.returncode
    finally:
        j.stop()
    if code != 0:
        raise RuntimeError(f"corpus JVM exited {code}")
    runs = []
    with open(result_file) as f:
        for line in f:
            runs.append(json.loads(line))
    problems = []
    with open(os.path.join(main_dir, "jvm.log"), errors="replace") as f:
        # a query that threw in its timed runs or its dump
        problems += [l.strip() for l in f
                     if l.startswith("[corpus] ") and " failed:" in l]
    here = os.path.dirname(os.path.abspath(__file__))
    selfcheck = os.path.join(os.path.dirname(here), "scripts",
                             "selfcheck.py")
    env = dict(os.environ, GRAFT_ORACLE_SPILL_DIR=os.path.join(workdir, "duck"),
               GRAFT_ORACLE_MEM="2GB")
    r = subprocess.run([sys.executable, selfcheck, data, verify_dir,
                        ",".join(names)], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=170,
                       env=env)
    failed_names = {n for n in names if any(f"] {n} failed" in p
                                            for p in problems)}
    failed_names |= selfcheck_failures(r.stdout)
    if r.returncode != 0 and not failed_names:
        failed_names = set(names)
    if r.returncode != 0:
        problems.append("selfcheck:\n" + r.stdout[-2000:])
    return {"setups": setups, "rss_mb": rss, "runs": runs, "names": names,
            "failed": len(failed_names & set(names)),
            "problems": problems}


def selfcheck_failures(out):
    """Query names listed under selfcheck.py's `FAIL n:` heading."""
    names, in_fail = set(), False
    for line in out.splitlines():
        if line.startswith("FAIL ") and line.rstrip().endswith(":"):
            in_fail = True
        elif in_fail and line.startswith("  ") and ":" in line:
            names.add(line.strip().split(":", 1)[0])
    return names
