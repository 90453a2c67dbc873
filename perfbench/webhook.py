"""The webhook workload: `graft.Serve` under open-loop POST load.

A point has landed when the submit sink's parquet holds its CoT row;
a poller thread lists the submit directory and records, per message
key, when the row first became visible.
"""
import json
import math
import os
import subprocess
import sys
import threading
import time

import inputs
import jvm
import stats

CONNECTIONS = 4
# The measured window runs at 6 req/s: there a micro-batch over the
# seeded history takes 1.0-1.4 s and gathers 6-9 spool files, far
# below the 32-file threshold above which the file source lists its
# batch with a Spark job (~250 ms more per batch, and a longer batch
# gathers more files, so once over it a batch stays over it). At
# 12 req/s one run in a slow phase of a shared box landed at twice
# the others' median, as batches over 2.7 s, which gather over 32
# files at that rate, would. Batches still follow each
# other back to back, so the window holds as many of them as at a
# higher rate. The ramp steps are 25 * 2^k req/s from k = 2, where
# every step so far has been above what the program drains.
STEADY_RATE = 6.0
# a fresh Serve's first batches take 5, 3 and 2 s (code generation,
# then catching up past the listing threshold), and its batches keep
# getting faster while the JIT compiles them: landed latency settles
# 25-45 s after the first POST, depending on how busy the box is
WARMUP_S = 20.0
RAMP_RATES = (100.0, 200.0, 400.0, 800.0, 1600.0)
STEP_S = 4.0
LANDED_LIMIT_S = 5.0
POLL_S = 0.02
SPOOL_POLL_S = 0.25
DRAIN_S = 20.0
SETUP_LAUNCHES = 3

SERVE_PROPS = {
    # the deployment's spark-submit settings (docker/entrypoint.sh,
    # scripts/jar_smoke.sh) on this box's 4 cores
    "spark.master": "local[4]",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.extensions": "graft.GraftExtensions",
}


class Poller(threading.Thread):
    """Watches the submit dir (landed rows) and the spool (accepted
    files)."""

    def __init__(self, submit_dir, spool_dir):
        super().__init__(daemon=True)
        self.submit_dir, self.spool_dir = submit_dir, spool_dir
        self.files = set()
        self.landed = {}        # msg_key -> first time visible
        self.spool = []         # (time, spool file count)
        self.spool_at = 0.0
        self.halt = threading.Event()
        self.error = None

    def poll(self):
        import pyarrow.parquet as pq
        now = time.time()
        try:
            names = os.listdir(self.submit_dir)
        except FileNotFoundError:
            names = []
        for n in sorted(names):
            if n.startswith("part-") and n.endswith(".parquet") \
                    and n not in self.files:
                keys = pq.read_table(os.path.join(self.submit_dir, n),
                                     columns=["msg_key"]).column(0)
                for k in keys.to_pylist():
                    self.landed.setdefault(k, now)
                self.files.add(n)
        if now - self.spool_at >= SPOOL_POLL_S:
            self.spool_at = now
            try:
                spooled = sum(1 for n in os.listdir(self.spool_dir)
                              if n.startswith("part-"))
            except FileNotFoundError:
                spooled = 0
            self.spool.append((now, spooled))

    def run(self):
        while not self.halt.is_set():
            try:
                self.poll()
            except Exception as e:  # surfaced by the caller
                self.error = e
                return
            time.sleep(POLL_S)

    def stop(self):
        self.halt.set()
        self.join()
        if self.error:
            raise self.error
        self.spool_at = 0.0
        self.poll()


class Serve:
    """A running `graft.Serve` with its four directories."""

    def __init__(self, classpath, workdir, trace_file=None):
        self.dirs = {k: os.path.join(workdir, k)
                     for k in ("spool", "ckpt", "submit", "state")}
        self.jvm = jvm.Jvm(classpath, "graft.Serve",
                           [self.dirs[k] for k in
                            ("spool", "ckpt", "submit", "state")],
                           workdir, props=SERVE_PROPS, trace_file=trace_file)
        self.setup_s = self.jvm.wait_ready(120)
        ready = next(l for l in self.jvm.stdout_lines if '"ready"' in l)
        self.port = json.loads(ready)["port"]


def measure_setup(classpath, workdir, launches):
    """Launch-to-ready seconds of `launches` throwaway Serve JVMs."""
    out = []
    for k in range(launches):
        s = Serve(classpath, os.path.join(workdir, f"setup{k}"))
        out.append(s.setup_s)
        s.jvm.stop()
    return out


LOADGENS = set()


def kill_loadgens():
    for p in list(LOADGENS):
        if p.poll() is None:
            p.kill()
            p.wait()


def run_load(port, sched, workdir, tag):
    """Run one schedule through a loadgen process; returns the request
    records (with their schedule entries merged in)."""
    sched_file = os.path.join(workdir, f"sched-{tag}.jsonl")
    out_file = os.path.join(workdir, f"load-{tag}.jsonl")
    with open(sched_file, "w") as f:
        for r in sched:
            f.write(json.dumps({k: r[k] for k in ("i", "due", "conn",
                                                  "body")}) + "\n")
    start = time.time() + 0.3
    here = os.path.dirname(os.path.abspath(__file__))
    p = subprocess.Popen([sys.executable, os.path.join(here, "loadgen.py"),
                          str(port), sched_file, repr(start), out_file])
    LOADGENS.add(p)
    try:
        p.wait(timeout=sched[-1]["due"] + 120)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        LOADGENS.discard(p)
    if p.returncode != 0:
        raise RuntimeError(f"load generator exited {p.returncode}")
    by_i = {r["i"]: r for r in sched}
    recs = []
    with open(out_file) as f:
        for line in f:
            r = json.loads(line)
            r.update({k: v for k, v in by_i[r["i"]].items() if k != "due"})
            recs.append(r)
    return recs, start


def annotate(recs):
    """Attach each request's expected outcome: its message key when
    the body is valid, and the expected HTTP status."""
    for r in recs:
        if r["kind"] == "invalid":
            r["key"], r["expect"] = None, 400
        else:
            body = json.loads(r["body"])
            r["key"] = inputs.cot_model(body)["msg_key"]
            r["expect"] = 200


def wait_landed(poller, keys, deadline):
    while time.time() < deadline:
        if all(k in poller.landed for k in keys):
            return True
        time.sleep(POLL_S)
    return all(k in poller.landed for k in keys)


def backlog_at(recs, landed, t):
    """Accepted (200) requests whose row had not landed by time t."""
    return sum(1 for r in recs
               if r["status"] == 200 and r["done"] <= t and
               not (r["key"] in landed and landed[r["key"]] <= t))


def check(recs, submit_dir):
    """Correctness: every request got its expected status, every
    accepted valid point landed exactly once with the CoT fields of
    the T1-T7 model, and nothing else landed. Returns (failed request
    count, problems)."""
    import pyarrow.parquet as pq
    problems = []
    rows = {}
    files = [os.path.join(submit_dir, n) for n in os.listdir(submit_dir)
             if n.startswith("part-") and n.endswith(".parquet")] \
        if os.path.isdir(submit_dir) else []
    for f in files:
        for row in pq.read_table(f).to_pylist():
            rows.setdefault(row["msg_key"], []).append(row)
    expected = {}
    for r in recs:
        if r["key"] is not None:
            expected.setdefault(r["key"], json.loads(r["body"]))
    bad_keys = set()
    for key, body in expected.items():
        got = rows.get(key, [])
        if len(got) != 1:
            bad_keys.add(key)
            problems.append(f"{key} landed {len(got)} times")
            continue
        if not _cot_equal(got[0], inputs.cot_model(body)):
            bad_keys.add(key)
            problems.append(f"{key} CoT fields differ: {got[0]}")
    for key in rows:
        if key not in expected:
            problems.append(f"unexpected row {key}")
    failed = 0
    for r in recs:
        if r["status"] != r["expect"]:
            failed += 1
            problems.append(f"request {r['i']} ({r['kind']}) got "
                            f"{r['status']} {r['err']}, want {r['expect']}")
        elif r["key"] in bad_keys:
            failed += 1
    failed += sum(1 for k in rows if k not in expected)
    return failed, problems


def _cot_equal(row, m):
    p, md, g = row["properties"], row["properties"]["metadata"], \
        row["geometry"]
    got = {
        "msg_key": row["msg_key"], "id": row["id"], "type": row["type"],
        "ptype": p["type"], "how": p["how"], "course": p["course"],
        "callsign": p["callsign"], "time": p["time"], "start": p["start"],
        "inreachId": md["inreachId"], "inreachName": md["inreachName"],
        "inreachDeviceType": md["inreachDeviceType"],
        "inreachDeviceId": md["inreachDeviceId"],
        "inreachReceive": md["inreachReceive"],
        "gtype": g["type"], "coordinates": list(g["coordinates"]),
    }
    return got == m


def latencies(recs, landed, since):
    """POST and landed latencies (ms, from the due time) of the
    requests due at or after `since`; a failed request or a point that
    never landed is None."""
    post, land = [], []
    for r in recs:
        if r["due"] < since:
            continue
        post.append((r["done"] - r["due"]) * 1e3
                    if r["status"] == r["expect"] else None)
        if r["kind"] == "valid":
            t = landed.get(r["key"])
            land.append(None if t is None else (t - r["due"]) * 1e3)
    return post, land


def _finish(serve, poller, recs):
    wait_landed(poller, accepted_keys(recs), time.time() + DRAIN_S)
    rss = serve.jvm.peak_rss_mb()
    poller.stop()
    serve.jvm.stop()
    failed, problems = check(recs, serve.dirs["submit"])
    return rss, failed, problems


def accepted_keys(recs):
    return {r["key"] for r in recs
            if r["key"] is not None and r["status"] == 200}


def _step(serve, poller, mix, rate, workdir, tag):
    """One ramp step: `rate` req/s for STEP_S, then up to the landed
    limit for its points to land; judged by stats.step_passes."""
    sched = inputs.schedule(mix, rate, STEP_S, CONNECTIONS)
    recs, start = run_load(serve.port, sched, workdir, tag)
    annotate(recs)
    keys = accepted_keys(recs)
    wait_landed(poller, keys, start + STEP_S + LANDED_LIMIT_S)
    landed = dict(poller.landed)
    post, land = latencies(recs, landed, start)
    grid = [backlog_at(recs, landed, start + STEP_S * i / 40)
            for i in range(40)]
    first, second = sum(grid[:20]) / 20, sum(grid[20:]) / 20
    ok, why = stats.step_passes(post, land, first, second, rate, STEP_S,
                                landed_limit_ms=LANDED_LIMIT_S * 1e3)
    times = [landed[k] for k in keys if k in landed]
    drained = len(times) / (max(times) - start) if times else 0.0
    return {"rate": rate, "passed": ok, "why": why, "recs": recs,
            "start": start, "drained_per_s": drained}


def run(classpath, workdir, seed, seconds, trace_file):
    """Warm-up and a measured window at STEADY_RATE, then the ramp,
    against a processed log that already holds a long history."""
    setups = measure_setup(classpath, workdir, SETUP_LAUNCHES - 1)
    serve_dir = os.path.join(workdir, "serve")
    history = inputs.write_history(seed, os.path.join(serve_dir, "state"))
    serve = Serve(classpath, serve_dir, trace_file)
    setups.append(serve.setup_s)
    poller = Poller(serve.dirs["submit"], serve.dirs["spool"])
    poller.start()
    mix = inputs.BodyMix(seed)
    steps = []
    try:
        sched = inputs.schedule(mix, STEADY_RATE, WARMUP_S + seconds,
                                CONNECTIONS)
        recs, start = run_load(serve.port, sched, workdir, "steady")
        annotate(recs)
        all_recs = list(recs)
        window = (start + WARMUP_S, start + WARMUP_S + seconds)
        wait_landed(poller, accepted_keys(recs), window[1] + LANDED_LIMIT_S)
        for k, rate in enumerate(RAMP_RATES):
            st = _step(serve, poller, mix, rate, workdir, f"step{k}")
            steps.append(st)
            all_recs.extend(st["recs"])
            if not st["passed"]:
                break
        rss, failed, problems = _finish(serve, poller, all_recs)
    finally:
        if serve.jvm.proc.poll() is None:
            serve.jvm.stop()
    # taken after the drain, so a window point that landed late still
    # counts with its latency; one that never landed is None
    post, land = latencies(recs, poller.landed, window[0])
    # cold start, printed: the warm-up's points, while the fresh JVM's
    # first micro-batches generate their code and catch up
    warmup = [r for r in recs if r["due"] < window[0]]
    _, warm_land = latencies(warmup, poller.landed, start)
    first = next(r for r in recs if r["kind"] == "valid")
    t = poller.landed.get(first["key"])
    return {
        "setups": setups, "rss_mb": rss, "recs": all_recs,
        "failed": failed, "problems": problems,
        "post_ms": post, "landed_ms": land, "window": window,
        "landed": poller.landed, "spool": poller.spool, "steps": steps,
        "warmup_landed_ms": warm_land,
        "first_s": math.inf if t is None else t - first["due"],
        "history": history,
    }
