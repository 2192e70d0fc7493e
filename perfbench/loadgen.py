"""Load generator: runs as its own process, apart from the engine under test.

    python3 perfbench/loadgen.py --port P --uploads DIR

Reads ``<first> <end>`` lines on stdin and POSTs uploads ``u<first>.csv`` ..
``u<end-1>.csv`` one at a time on one connection to ``/weather/data``;
answers each line with a JSON line of ``[[status, post_ms], ...]``.  An
empty line or EOF ends it.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import sys
import time


def post(port: int, path: str, body: bytes, headers: dict) -> tuple[int, bytes]:
    """One POST on a fresh connection (the server answers HTTP/1.0)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def ingest(args) -> None:
    for line in sys.stdin:
        if not line.strip():
            break
        first, end = (int(x) for x in line.split())
        out = []
        for u in range(first, end):
            with open(os.path.join(args.uploads, f"u{u:05d}.csv"), "rb") as f:
                body = f.read()
            t0 = time.perf_counter()
            status, _ = post(args.port, "/weather/data", body,
                             {"X-DATA-FEED": f"upload-{u:05d}",
                              "Content-Type": "text/csv"})
            out.append([status, (time.perf_counter() - t0) * 1000.0])
        print(json.dumps(out), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--uploads", required=True)
    ingest(ap.parse_args())


if __name__ == "__main__":
    main()
