"""Closed-loop HTTP clients for the server workload, run as their own
process so client work never competes with the server for its
interpreter lock.

    python3 perfbench/loadgen.py --port P --requests FILE --seconds S \
        --clients C [--max-ops N] [--start K]

Each client sends its next request only after the previous reply.
Clients stop sending after S seconds (S = 0: after N requests in
total). Every reply is checked against the expected answer stored with
its request. Prints one JSON list of request records.
"""

from __future__ import annotations

import argparse
import http.client
import json
import threading
import time


def canonical(rows: list) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def check(req: dict, status: int, reply: dict) -> tuple[bool, int]:
    if status != 200 or not reply.get("success"):
        return False, 0
    if req["path"] == "/compile":
        return reply.get("blocks") == req["blocks"], 0
    rows = [r for line in reply.get("output") or [] for r in json.loads(line)]
    return canonical(rows) == canonical(req["expected"]), len(rows)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--requests", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--max-ops", type=int, default=10**9)
    ap.add_argument("--start", type=int, default=0)
    args = ap.parse_args()
    with open(args.requests) as fh:
        reqs = json.load(fh)

    lock = threading.Lock()
    records: list[dict] = []
    sent = [0]
    t0 = time.perf_counter()

    def client(c: int) -> None:
        i = 0
        while True:
            with lock:
                if sent[0] >= args.max_ops:
                    return
                if args.seconds > 0 and time.perf_counter() - t0 >= args.seconds:
                    return
                sent[0] += 1
            req = reqs[(args.start + c * 997 + i) % len(reqs)]
            i += 1
            body = json.dumps({"script": req["script"]})
            conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=300)
            t_send = time.perf_counter()
            try:
                conn.request("POST", req["path"], body, {"Content-Type": "application/json"})
                resp = conn.getresponse()
                status, reply = resp.status, json.loads(resp.read())
            except (OSError, ValueError, http.client.HTTPException) as e:
                status, reply = 0, {"error": repr(e)}
            finally:
                conn.close()
            t_recv = time.perf_counter()
            ok, rows = check(req, status, reply)
            rec = {
                "path": req["path"], "send": t_send - t0, "recv": t_recv - t0,
                "lat": t_recv - t_send, "ok": ok, "rows": rows,
            }
            if not ok:
                rec["reply"] = str(reply)[:300]
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(args.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    print(json.dumps(records))


if __name__ == "__main__":
    main()
