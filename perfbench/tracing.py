"""Per-layer metrics of the traced run.

The program JVM's listeners (scala/Trace.scala) record micro-batches,
actions (SQL executions), jobs and stages; the benchmark's own files
add the outermost spans: requests for the webhook workloads, query
runs for the corpus. Spans nest root (batch or query run) -> action ->
job -> stage by time containment and by the execution id a job
carries.
"""
import json
import os

import stats

PER_LAYER = [
    ("gen.late_p99_ms", "ms"),
    ("receiver.ack_p50_ms", "ms"), ("receiver.ack_tail_ms", "ms"),
    ("receiver.service_p50_ms", "ms"), ("receiver.service_p99_ms", "ms"),
    ("receiver.accepted", "count"), ("receiver.rejected", "count"),
    ("receiver.spool_files_per_s", "1/s"),
    ("stream.latest_offset_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("stream.get_batch_ms_per_file", "ms"), ("stream.files_per_batch", "count"),
    ("stream.backlog_files", "count"), ("stream.query_planning_ms", "ms"),
    ("stream.batches", "count"),
    ("sink.add_batch_ms", "ms"), ("sink.add_batch_growth", "ratio"),
    ("sink.guard_ms", "ms"), ("sink.state_write_ms", "ms"),
    ("sink.submit_write_ms", "ms"), ("sink.state_files", "count"),
    ("sink.state_rows", "count"), ("sink.rows_guarded", "count"),
    ("landed.wait_ms", "ms"), ("landed.batch_ms", "ms"),
    ("landed.tail_ms", "ms"), ("jvm.peak_rss_mb", "MB"),
    ("queries.build_ms", "ms"), ("queries.cold_p50_ms", "ms"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("codegen.compile_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"), ("exec.task_skew", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.records", "count"), ("spill.bytes", "bytes"),
    ("scan.bytes_read", "bytes"), ("scan.records_read", "count"),
    ("cache.stored_bytes", "bytes"),
    ("self.root_ms", "ms"), ("self.action_ms", "ms"), ("self.job_ms", "ms"),
    ("self.stage_ms", "ms"),
    ("self.cold_driver_ms", "ms"), ("self.warm_driver_ms", "ms"),
    ("self.cold_exec_ms", "ms"), ("self.warm_exec_ms", "ms"),
]


def load(path):
    events = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                events.append(json.loads(line))
    return events


def spans(events):
    """Actions, jobs and stages as dicts with start/end in epoch ms."""
    actions, jobs, stages = {}, {}, {}
    last_end = None
    for e in events:
        k = e["k"]
        if k == "sql_start":
            actions.setdefault(e["id"], {}).update(start=e["t"],
                                                   root=e["root"])
        elif k == "sql_end":
            actions.setdefault(e["id"], {})["end"] = e["t"]
            last_end = e["id"]
        elif k == "action" and last_end is not None:
            # the query-execution listener reports an action right after
            # its SQL execution ends, on the same listener bus
            actions[last_end].update({k2: v for k2, v in e.items()
                                      if k2 not in ("k", "id")})
            last_end = None
        elif k == "job_start":
            jobs[e["id"]] = {"start": e["t"], "exec": e.get("exec"),
                             "stages": e["stages"]}
        elif k == "job_end":
            jobs.setdefault(e["id"], {})["end"] = e["t"]
        elif k == "stage":
            stages[(e["id"], e["attempt"])] = e
    actions = {i: a for i, a in actions.items()
               if "start" in a and "end" in a}
    jobs = {i: j for i, j in jobs.items() if "start" in j and "end" in j}
    return actions, jobs, stages


def tree_self_times(roots, actions, jobs, stages):
    """Sum over roots of the self time of each level (ms): root minus
    its top-level actions (and jobs run outside any action), actions
    minus their jobs, jobs minus their stages, and the stages
    themselves. A job belongs to the top-level action of the SQL
    execution id it carries."""
    out = {"root": 0.0, "action": 0.0, "job": 0.0, "stage": 0.0}

    def top(exec_id):
        a = actions.get(int(exec_id)) if exec_id is not None else None
        return a.get("root", exec_id) if a else None

    for r in roots:
        rs = (r["start"], r["end"])
        tops = [(i, a) for i, a in actions.items()
                if a.get("root", i) == i and rs[0] <= a["start"] < rs[1]]
        top_ids = {i for i, _ in tops}
        js = [j for j in jobs.values() if rs[0] <= j["start"] < rs[1]]
        orphans = [j for j in js if top(j.get("exec")) not in top_ids]
        out["root"] += stats.self_time(
            rs, [(a["start"], a["end"]) for _, a in tops] +
            [(j["start"], j["end"]) for j in orphans])
        for i, a in tops:
            mine = [j for j in js if top(j.get("exec")) == i]
            out["action"] += stats.self_time(
                (a["start"], a["end"]), [(j["start"], j["end"]) for j in mine])
        for j in js:
            st = [(s["start"], s["end"]) for s in
                  (stages.get((sid, 0)) for sid in j["stages"])
                  if s and s["start"] and s["end"]]
            out["job"] += stats.self_time((j["start"], j["end"]), st)
            out["stage"] += stats.covered(
                [(max(s0, j["start"]), min(e0, j["end"])) for s0, e0 in st])
    return out


def exec_counts(actions, jobs, stages, windows):
    """Execution-layer totals over the stages of jobs inside any of the
    windows (epoch ms)."""
    def inside(x):
        return any(w[0] <= x["start"] <= w[1] for w in windows)
    js = [j for j in jobs.values() if inside(j)]
    sts = [stages[(sid, 0)] for j in js for sid in j["stages"]
           if (sid, 0) in stages]
    skews = [s["task_max_ms"] / s["task_med_ms"] for s in sts
             if s["tasks"] >= 2 and s["task_med_ms"] > 0]
    acts = [a for a in actions.values() if inside(a)]
    return {
        "exec.jobs": len(js), "exec.stages": len(sts),
        "exec.tasks": sum(s["tasks"] for s in sts),
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in sts) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in sts) / 1e3,
        "exec.task_skew": stats.median(skews) if skews else 0.0,
        "shuffle.write_bytes": sum(s["sw_bytes"] for s in sts),
        "shuffle.read_bytes": sum(s["sr_bytes"] for s in sts),
        "shuffle.records": sum(s["sw_records"] for s in sts),
        "spill.bytes": sum(s["spill_bytes"] for s in sts),
        "scan.bytes_read": sum(s["in_bytes"] for s in sts),
        "scan.records_read": sum(s["in_records"] for s in sts),
        "catalyst.analysis_ms": sum(a.get("analysis_ms", 0) for a in acts),
        "catalyst.optimization_ms": sum(a.get("optimization_ms", 0)
                                        for a in acts),
        "catalyst.planning_ms": sum(a.get("planning_ms", 0) for a in acts),
    }


def codegen_ms(events):
    """Total Janino compile time: the compile-time histogram's count
    times its mean."""
    for e in events:
        if e["k"] == "codegen":
            return e["count"] * e["mean_ms"]
    return 0.0


def webhook_layers(events, res):
    """Per-layer metrics of a webhook run (res from webhook.run)."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["jvm.peak_rss_mb"] = res["rss_mb"]
    recs = res["recs"]
    landed = stats.missing_as_inf(res["landed_ms"])
    if landed:
        m["landed.tail_ms"] = stats.tail(landed)[1]
    w0, w1 = res["window"]
    lates = [r["late"] * 1e3 for r in recs]
    m["gen.late_p99_ms"] = stats.tail(lates, cap=99.0)[1] if lates else 0.0
    post = [x for x in res["post_ms"] if x is not None]
    if post:
        m["receiver.ack_p50_ms"] = stats.median(post)
        m["receiver.ack_tail_ms"] = stats.tail(post)[1]
    # the service time at the step that failed, when the ramp has one
    failing = [st for st in res["steps"] if not st["passed"]]
    svc_recs = failing[0]["recs"] if failing else recs
    svc = [(r["done"] - r["sent"]) * 1e3 for r in svc_recs if r["status"]]
    if svc:
        m["receiver.service_p50_ms"] = stats.median(svc)
        m["receiver.service_p99_ms"] = stats.tail(svc, cap=99.0)[1]
    m["receiver.accepted"] = sum(1 for r in recs if r["status"] == 200)
    m["receiver.rejected"] = sum(1 for r in recs if r["status"] == 400)
    sp = [(t, n) for t, n in res["spool"] if w0 <= t <= w1]
    if len(sp) >= 2 and sp[-1][0] > sp[0][0]:
        m["receiver.spool_files_per_s"] = \
            (sp[-1][1] - sp[0][1]) / (sp[-1][0] - sp[0][0])

    batches = [e for e in events if e["k"] == "batch" and e["rows"] > 0]
    for b in batches:
        b["end"] = b["start"] + b["dur"].get("triggerExecution", 0)
    # timings of the measured window's batches: the warm-up's first
    # batches compile code and catch up, the ramp's are overloaded
    win = [b for b in batches if w0 * 1e3 <= b["start"] <= w1 * 1e3]
    if win:
        def med(key):
            return stats.median([b["dur"].get(key, 0) for b in win])
        m["stream.latest_offset_ms"] = med("latestOffset")
        m["stream.get_batch_ms"] = med("getBatch")
        m["stream.query_planning_ms"] = med("queryPlanning")
        m["sink.add_batch_ms"] = med("addBatch")
        files = sum(b["rows"] for b in win)
        m["stream.get_batch_ms_per_file"] = \
            sum(b["dur"].get("getBatch", 0) for b in win) / files
        m["stream.files_per_batch"] = files / len(win)
        m["stream.batches"] = len(win)
        q = max(1, len(win) // 4)
        first = sum(b["dur"].get("addBatch", 0) for b in win[:q]) / q
        last = sum(b["dur"].get("addBatch", 0) for b in win[-q:]) / q
        m["sink.add_batch_growth"] = last / first if first else 0.0
        # backlog: spooled files the stream had not taken when each
        # window batch started
        spool = res["spool"]
        taken, backlog = 0, []
        for b in batches:
            if b in win:
                t = b["start"] / 1e3
                n = max((c for s, c in spool if s <= t), default=0)
                backlog.append(max(0, n - taken))
            taken += b["rows"]
        m["stream.backlog_files"] = stats.median(backlog)
        # where a landed point's time went: waiting for the batch that
        # wrote its row, then that batch until the row was visible
        waits, runs = [], []
        for r in recs:
            t = res["landed"].get(r.get("key"))
            if r["kind"] != "valid" or t is None or r["due"] < w0 \
                    or r["due"] > w1:
                continue
            b = max((b for b in batches if b["start"] / 1e3 <= t),
                    key=lambda b: b["start"], default=None)
            if b is None:
                continue
            waits.append(b["start"] - r["due"] * 1e3)
            runs.append(t * 1e3 - b["start"])
        if waits:
            m["landed.wait_ms"] = stats.median(waits)
            m["landed.batch_ms"] = stats.median(runs)

    actions, jobs, stages = spans(events)
    # jobs and actions are taken by start time, so a window batch that
    # ends after w1 still counts whole
    window = [(w0 * 1e3, w1 * 1e3)]
    def in_win(a):
        return w0 * 1e3 <= a["start"] <= w1 * 1e3
    guard = [a for a in actions.values()
             if a.get("name", "").lower().startswith("localcheckpoint")]
    state = [a for a in actions.values()
             if a.get("out", "").rstrip("/").endswith("/state")]
    submit = [a for a in actions.values()
              if a.get("out", "").rstrip("/").endswith("/submit")]
    for key, acts in (("sink.guard_ms", guard), ("sink.state_write_ms", state),
                      ("sink.submit_write_ms", submit)):
        d = [a["end"] - a["start"] for a in acts if in_win(a)]
        if d:
            m[key] = stats.median(d)
    # the processed log's size when the run ended: the seeded history
    # plus what the run appended
    files0, rows0 = res["history"]
    m["sink.state_files"] = files0 + sum(a.get("out_files", 0) for a in state)
    m["sink.state_rows"] = rows0 + sum(a.get("out_rows", 0) for a in state)
    submitted = sum(a.get("out_rows", 0) for a in submit)
    valid = sum(1 for r in recs if r["status"] == 200)
    m["sink.rows_guarded"] = max(0, valid - submitted)
    m.update(exec_counts(actions, jobs, stages, window))
    m["codegen.compile_ms"] = codegen_ms(events)
    st = tree_self_times(win, actions, jobs, stages)
    for k in ("root", "action", "job", "stage"):
        m[f"self.{k}_ms"] = st[k]
    return m


def corpus_layers(events, res):
    """Per-layer metrics of a corpus run (res from corpus.run)."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["jvm.peak_rss_mb"] = res["rss_mb"]
    runs = res["runs"]
    actions, jobs, stages = spans(events)
    windows = [(r["start"], r["end"] + 1) for r in runs]
    m.update(exec_counts(actions, jobs, stages, windows))
    m["queries.build_ms"] = sum(r["build_ms"] for r in runs)
    cold = [r["ms"] for r in runs if r["pass"] == "cold"]
    m["queries.cold_p50_ms"] = stats.median(cold) if cold else 0.0
    m["cache.stored_bytes"] = max((r["stored_bytes"] for r in runs),
                                  default=0)
    m["codegen.compile_ms"] = codegen_ms(events)
    st = tree_self_times(runs, actions, jobs, stages)
    for k in ("root", "action", "job", "stage"):
        m[f"self.{k}_ms"] = st[k]
    for p in ("cold", "warm"):
        # one warm run per query, the first, so both passes cover the
        # same work
        seen, sel = set(), []
        for r in runs:
            if r["pass"] == p and r["name"] not in seen:
                seen.add(r["name"])
                sel.append(r)
        t = tree_self_times(sel, actions, jobs, stages)
        m[f"self.{p}_driver_ms"] = t["root"] + t["action"]
        m[f"self.{p}_exec_ms"] = t["job"] + t["stage"]
    return m
