"""HTTP load generator of ``upload_small``: closed-loop clients that submit
tables to the job server and poll each job until it is terminal.

    python3 perfbench/loadgen.py '{"port": 8123, "paths": [...], "clients": 2,
                                  "poll_s": 0.02, "warmup_rounds": 2, "seconds": 20}'

The timed load runs in this separate process, so the clients' requests,
sleeps and JSON parsing do not compete with the job server and the Spark
driver for the server process's interpreter lock: polling every 20 ms from
inside the server process doubled the driver's Python CPU time per job.
Prints one JSON object, ``{"warmup": [job, ...], "jobs": [job, ...]}``; the
caller checks every job's report. Imports only the standard library.
"""

from __future__ import annotations

import http.client
import itertools
import json
import sys
import threading
import time
from contextlib import nullcontext

TERMINAL = ("FINISHED", "FAILED", "KILLED", "NOT_FOUND")


def request(port: int, method: str, path: str, body: dict | None = None) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if body is not None else {}
        conn.request(method, path, body=data, headers=headers)
        return json.loads(conn.getresponse().read())
    finally:
        conn.close()


def one_job(port: int, path: str, poll_s: float, span=None) -> dict:
    """Submit ``path``, poll its status every ``poll_s`` until terminal.
    ``span(name)`` wraps each HTTP call when given (traced run)."""
    span = span or (lambda name: nullcontext())
    t0 = time.perf_counter()
    with span("client.submit"):
        st = request(port, "POST", "/jobserver/submit", {"path": path})
    submit_s = time.perf_counter() - t0
    job_id = st.get("job_id", -1)
    polls, queue_s = 0, None
    while st.get("status") not in TERMINAL:
        time.sleep(poll_s)
        with span("client.status"):
            st = request(port, "GET", f"/jobserver/status/{job_id}")
        polls += 1
        if queue_s is None and st.get("status") in ("RUNNING", "FINISHED"):
            queue_s = time.perf_counter() - t0
    report = st.get("report") or {}
    return {
        "seconds": time.perf_counter() - t0,
        "job_id": job_id,
        "status": st.get("status"),
        "n_rows": report.get("n_rows"),
        "issue_counts": report.get("issue_counts"),
        "error": st.get("error"),
        "submit_s": submit_s,
        "queue_s": queue_s,
        "polls": polls,
    }


def run_clients(spec: dict, tables, deadline: float | None) -> list[dict]:
    """``spec["clients"]`` closed-loop clients taking the tables in turn
    (``tables`` counts submissions). With ``deadline`` None each client runs
    one job; otherwise each keeps going until a job of its ends at or after
    ``deadline``."""
    paths = spec["paths"]
    jobs: list[dict] = []
    errors: list[BaseException] = []

    def loop(client: int) -> None:
        try:
            while True:
                table = next(tables) % len(paths)
                job = one_job(spec["port"], paths[table], spec["poll_s"])
                jobs.append({"client": client, "table": table, **job})
                if deadline is None or time.perf_counter() >= deadline:
                    return
        except BaseException as e:  # reported below, after the join
            errors.append(e)

    threads = [threading.Thread(target=loop, args=(c,)) for c in range(spec["clients"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=150)
    if errors or any(t.is_alive() for t in threads):
        raise RuntimeError(f"client failed: {errors!r}")
    return jobs


def main(argv: list[str]) -> int:
    spec = json.loads(argv[0])
    tables = itertools.count()
    warmup = []
    for _ in range(spec["warmup_rounds"]):  # one job per client per round
        warmup += run_clients(spec, tables, None)
    jobs = run_clients(spec, tables, time.perf_counter() + spec["seconds"])
    print(json.dumps({"warmup": warmup, "jobs": jobs}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
