"""Seeded inputs: the webhook body mix, the corpus tables and the corpus
query draw. The same seed always gives the same inputs."""
import datetime
import json
import os
import random

# -- webhook traffic ---------------------------------------------------

ENTITIES = 500          # distinct trackers
ZIPF_S = 1.1            # entityId skew
RESEND_SHARE = 0.03     # exact re-POST of an earlier valid body
INVALID_SHARE = 0.02    # bodies the schema gate must 400
EMERGENCY_SHARE = 0.02  # isEmergency = true
EMPTY_ALIAS_SHARE = 0.10
MISSING_ALIAS_SHARE = 0.03
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

EMERGENCY_TYPE = "b-a-o-tbl"
FRIENDLY_TYPE = "a-f-G-U-U-S-X"


class BodyMix:
    """Generator of EverywhereItem POST bodies.

    Every new valid point gets a distinct event time, so its message
    identity (`inreach-<entityId>@<ISO time>`) is unique; a resend is
    the byte-identical body of an earlier valid point.
    """

    def __init__(self, seed):
        self.rng = random.Random(seed)
        w = [1.0 / (k ** ZIPF_S) for k in range(1, ENTITIES + 1)]
        total, acc = sum(w), 0.0
        self.cum = []
        for x in w:
            acc += x / total
            self.cum.append(acc)
        ids = list(range(ENTITIES))
        self.rng.shuffle(ids)
        self.entity_ids = [100_000 + 37 * i for i in ids]
        self.sent_valid = []
        self.n = 0

    def _entity(self):
        return self.entity_ids[self.rng.choices(range(ENTITIES),
                                                cum_weights=self.cum)[0]]

    def _valid(self):
        rng = self.rng
        eid = self._entity()
        body = {
            "converterId": "conv-1",
            "deviceId": eid * 7 % 1_000_003,
            "teamId": 42,
            "trackPoint": {
                "time": BASE_MS + self.n * 997 + rng.randrange(997),
                "direction": rng.randrange(360),
                "inboundMessageId": self.n,
                "isEmergency": rng.random() < EMERGENCY_SHARE,
                "source": "GPS",
                "alertsList": [],
                "point": {"x": round(rng.uniform(-180, 180), 6),
                          "y": round(rng.uniform(-90, 90), 6)},
            },
            "source": "inreach",
            "entityId": eid,
            "deviceType": rng.choice(["inReach Mini", "inReach Messenger",
                                      "GPSMAP 66i"]),
            "name": f"Tracker {eid}",
        }
        r = rng.random()
        if r < EMPTY_ALIAS_SHARE:
            body["alias"] = ""
        elif r >= EMPTY_ALIAS_SHARE + MISSING_ALIAS_SHARE:
            body["alias"] = f"call-{eid % 997}"
        return body

    def _invalid(self):
        kind = self.rng.randrange(5)
        good = self._valid()
        if kind == 0:
            del good["entityId"]
        elif kind == 1:
            good["entityId"] = str(good["entityId"])
        elif kind == 2:
            del good["trackPoint"]["time"]
        elif kind == 3:
            good["entityId"] = 3_000_000_000  # outside the int schema
        else:
            return "{not json"
        return json.dumps(good)

    def next(self):
        """(body text, kind) with kind in valid / resend / invalid."""
        self.n += 1
        r = self.rng.random()
        if r < INVALID_SHARE:
            return self._invalid(), "invalid"
        if r < INVALID_SHARE + RESEND_SHARE and self.sent_valid:
            recent = self.sent_valid[-50:]
            return self.rng.choice(recent), "resend"
        text = json.dumps(self._valid())
        self.sent_valid.append(text)
        return text, "valid"


def iso_ms(ms):
    """JS Date.toISOString() of epoch millis (T5)."""
    d = datetime.datetime.fromtimestamp(ms // 1000, datetime.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms % 1000:03d}Z"


def cot_model(body):
    """The CoT row T1-T7 (reference task.ts:121-143) make of a valid
    body, in the columns the submit sink stores."""
    tp = body["trackPoint"]
    iso = iso_ms(tp["time"])
    alias = body.get("alias")
    return {
        "msg_key": f"inreach-{body['entityId']}@{iso}",
        "id": f"inreach-{body['entityId']}",
        "type": "Feature",
        "ptype": EMERGENCY_TYPE if tp.get("isEmergency") else FRIENDLY_TYPE,
        "how": "m-g",
        "course": float(tp["direction"]),
        "callsign": alias if alias else body.get("name"),
        "time": iso,
        "start": iso,
        "inreachId": str(body["entityId"]),
        "inreachName": body.get("name"),
        "inreachDeviceType": body.get("deviceType"),
        "inreachDeviceId": str(body["deviceId"]),
        "inreachReceive": iso,
        "gtype": "Point",
        "coordinates": [tp["point"]["x"], tp["point"]["y"]],
    }


def schedule(mix, rate, seconds, connections):
    """Open-loop arrivals at a fixed rate, bodies from `mix`: request i
    is due at i / rate seconds and goes to connection i mod
    connections."""
    out = []
    for i in range(int(round(rate * seconds))):
        body, kind = mix.next()
        out.append({"i": i, "due": i / rate, "conn": i % connections,
                    "body": body, "kind": kind})
    return out


# The processed log SubmitSink finds when Serve starts: the history of
# HISTORY_KEYS points written by HISTORY_FILES micro-batches. Its
# guard reads the whole log on every batch, so a long history is what
# it costs in a deployment that has run for a while.
HISTORY_KEYS = 6000
HISTORY_FILES = 200


def write_history(seed, state_dir, keys=HISTORY_KEYS, files=HISTORY_FILES):
    """Write a processed log the way the sink leaves it: parquet part
    files of one `msg_key` column. Its event times are in 2023, before
    BASE_MS, so no body of the mix carries one of its keys. Returns
    (files, keys)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(f"history-{seed}")
    os.makedirs(state_dir)
    t = BASE_MS - keys * 997
    per = keys // files
    for f in range(files):
        ks = []
        for _ in range(per if f < files - 1 else keys - per * f):
            t += 1 + rng.randrange(996)
            eid = 100_000 + 37 * rng.randrange(ENTITIES)
            ks.append(f"inreach-{eid}@{iso_ms(t)}")
        pq.write_table(pa.table({"msg_key": ks}),
                       os.path.join(state_dir,
                                    f"part-{f:05d}-history.snappy.parquet"),
                       compression="snappy")
    return files, keys


# -- corpus ------------------------------------------------------------

# The fixed core: the reference's CoT hot path, the materialized-only
# heavies and the grammar / join paths the open items name.
CORE_QUERIES = [
    "tp_cot_transform", "tp_cot_xml", "tp_latest_per_key",
    "q_json_validate", "q_geo_track_enrich",
    "q_window_dist", "q_bootstrap_ci", "q_percentile_weighted",
    "q_join_bloom", "q_asof_join", "q_window_qualify", "q_select_replace",
    "q_distinct_on",
]

# The seeded draw: DRAWN_POOLS of these module pools, one query from
# each. Queries that need fixtures outside the generated tables
# (multimodal, external sources) are left out, and so are those whose
# cold run at sf0.01 takes over a second (q_ab_ttest, q_graph_*,
# q_agg_approx_hll, ...), so that the draw changes which queries run
# but hardly their total cost. q_geo_track_summary is left out because
# its centroid rounds a double at 4 places, and on a tie Spark (which
# rounds the shortest decimal form half up) and the DuckDB oracle
# (which rounds the binary value) differ in the last digit: seed 405's
# tables give 43.9413 against 43.9412.
DRAW_POOLS = {
    "relational": ["q_sql_window", "q_grouping_sets", "q_agg_rollup",
                   "q_window_rank", "q_window_running", "q_topk_per_group",
                   "q_join_semi", "q_agg_percentiles", "q_select_exclude",
                   "q_select_rename"],
    "analytics": ["q_sessionize", "q_funnel_steps", "q_cohort_retention",
                  "q_anomaly_iqr", "q_activity_heatmap", "q_wow_growth"],
    "stats": ["q_outlier_mad", "q_winsorize", "q_ewma",
              "q_gini_concentration"],
    "quality": ["q_drift_psi", "q_dq_expectations", "q_k_anonymity"],
    "functions": ["q_string_funcs", "q_date_funcs", "q_math_funcs",
                  "q_array_funcs", "q_map_funcs"],
    "sequence": ["q_markov_transitions", "q_rfm_segmentation",
                 "q_interpurchase_gap", "q_attribution_last_touch"],
    "geo": ["q_geo_destination", "q_geo_grid_hotspots"],
    "joinext": ["q_asof_join_native", "q_asof_join_sql",
                "q_asof_join_syntax", "q_interval_join", "q_range_join",
                "q_pivot"],
    "ops": ["q_order_aging", "q_snapshot_diff", "q_ledger_reconcile"],
    "pipeline": ["tp_callsign_coalesce", "tp_pipeline_e2e",
                 "tp_retention_eviction", "tp_scd2_intervals",
                 "tp_upsert_merge"],
    "text": ["q_text_token_stats", "q_dedup_exact", "q_text_langid",
             "q_hash_split"],
    "vector": ["q_vector_stats", "q_knn_topk_agg", "q_sample_balanced"],
    "stream": ["q_sliding_window", "q_session_window"],
}
DRAWN_POOLS = 3


def corpus_queries(seed):
    """The fixed core in its fixed order (a query's cold cost depends on
    which operators ran before it), then one query from each of
    DRAWN_POOLS seeded pools."""
    rng = random.Random(seed)
    pools = rng.sample(sorted(DRAW_POOLS), DRAWN_POOLS)
    return CORE_QUERIES + [rng.choice(DRAW_POOLS[p]) for p in pools]


WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear",
             "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en"] * 44 + ["zh"] * 14 + ["de"] * 14 + ["fr"] * 13 + ["es"] * 15


def write_corpus(seed, out_dir, scale=0.01):
    """Write the star schema plus events / documents / embeddings in
    the layout and value domains of the program's test tables, at
    `scale` (0.01 = 60k lineitem rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), \
        int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs = int(1_000_000 * scale), int(50_000 * scale)

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "P", "O")[i] for i in
                          rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(0, 5, n_ord)]})
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    linenum = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):
        if okeys[i] == okeys[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    flags = rng.integers(0, 6, n_line)
    put("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 100000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("O", "F")[i % 2] for i in flags],
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_line),
                               pa.timestamp("us"))})
    ts = np.sort(np.datetime64("2024-01-01", "us") +
                 rng.integers(0, 30 * 86400 * 10**6, n_events)
                 .astype("timedelta64[us]"))
    put("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, n_events // 66),
                                         n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in
                       rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in
                  rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 0 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS),
                                               int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.normal(0.0, 1.0, (n_docs, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array([v.astype(np.float32) for v in vec],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32())})
