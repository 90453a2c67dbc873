"""Open-loop webhook load generator, run as its own process.

    python3 loadgen.py <port> <schedule.jsonl> <start_epoch_s> <out.jsonl>

The schedule (one JSON object per request: i, due, conn, body) is
made by the benchmark from its seed. Each connection is one
keep-alive HTTP/1.1 connection served by one thread. A request is
sent at its due time, or as soon as its connection is free when the
previous reply is late. For every request the output records the due,
send and reply times (epoch seconds), the HTTP status, and how late
the generator itself was: the send time minus the later of the due
time and the moment the connection became free.
"""
import http.client
import json
import sys
import threading
import time


def drive(port, requests, start, results):
    conn = None
    free_at = start
    for r in requests:
        due = start + r["due"]
        now = time.time()
        if now < due:
            time.sleep(due - now)
        sent = time.time()
        late = sent - max(due, free_at)
        status, err = 0, ""
        for attempt in range(2):
            try:
                if conn is None:
                    conn = http.client.HTTPConnection("127.0.0.1", port,
                                                      timeout=30)
                conn.request("POST", "/bench", body=r["body"].encode(),
                             headers={"Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                status = resp.status
                break
            except (OSError, http.client.HTTPException) as e:
                err = type(e).__name__
                if conn is not None:
                    conn.close()
                conn = None
                if attempt == 1 or time.time() - sent > 1.0:
                    break
        done = time.time()
        free_at = done
        results.append({"i": r["i"], "due": due, "sent": sent, "done": done,
                        "status": status, "late": late, "err": err})
    if conn is not None:
        conn.close()


def main():
    port, sched_file, start, out_file = sys.argv[1:5]
    per_conn = {}
    with open(sched_file) as f:
        for line in f:
            r = json.loads(line)
            per_conn.setdefault(r["conn"], []).append(r)
    results = []
    threads = [threading.Thread(target=drive,
                                args=(int(port), reqs, float(start), results))
               for _, reqs in sorted(per_conn.items())]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(out_file, "w") as f:
        for r in sorted(results, key=lambda x: x["i"]):
            f.write(json.dumps(r) + "\n")


if __name__ == "__main__":
    main()
