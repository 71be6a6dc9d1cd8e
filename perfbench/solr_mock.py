"""A latency-injecting Solr ``/update/json`` mock, run as its own process.

    python3 perfbench/solr_mock.py

prints ``PORT <n>`` on its first stdout line, then serves until killed.

- HTTP/1.1 keep-alive, ``TCP_NODELAY`` on every accepted socket.
- Every POST to ``.../update/json`` sleeps ``DELAY_S`` (the fixed round
  trip of a remote Solr), then answers 200, or 400 when the batch holds a
  document whose ``title`` contains ``POISON``.
- At most one request per usable core is handled at once (a server with
  that many handler threads); further connections are accepted and their
  requests wait.
- ``GET /admin/stats`` returns the counters since the last
  ``POST /admin/reset``: batch and single-doc POSTs, accepted docs and an
  order-independent digest of their ids, rejected POSTs, the maximum
  number of requests in flight, the per-connection client gaps (time
  from a response to the next request on the same connection) and the
  share of each connection's active time spent waiting on the server.
"""

from __future__ import annotations

import hashlib
import os
import http.server
import json
import socket
import sys
import threading
import time

#: fixed per-POST delay: the round trip of a remote Solr
DELAY_S = 0.010


class Stats:
    """Counters shared by the handler threads; every update holds ``lock``."""

    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.generation = getattr(self, "generation", 0) + 1
        self.batch_posts = self.single_posts = 0
        self.rejected_posts = self.rejected_single_posts = 0
        self.accepted_docs = 0
        self.accepted_sum = 0
        self.inflight = self.max_inflight = 0
        self.gaps_ms: list = []
        self.busy_s = 0.0
        #: generation-local per-connection (first request start, last end)
        self.conn_spans: dict = {}

    def snapshot(self) -> dict:
        active = sum(end - start for start, end in self.conn_spans.values())
        gaps = sorted(self.gaps_ms)
        return {
            "batch_posts": self.batch_posts,
            "single_posts": self.single_posts,
            "rejected_posts": self.rejected_posts,
            "rejected_single_posts": self.rejected_single_posts,
            "accepted_docs": self.accepted_docs,
            "accepted_digest": f"{self.accepted_sum:016x}",
            "max_inflight": self.max_inflight,
            "client_gap_ms_p50": _quantile(gaps, 0.5),
            "client_gap_ms_p99": _quantile(gaps, 0.99),
            "client_gaps": len(gaps),
            "wait_share": self.busy_s / active if active > 0 else 0.0,
            "connections": len(self.conn_spans),
        }


def _quantile(sorted_vals: list, q: float) -> float:
    if not sorted_vals:
        return 0.0
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def _id_hash(doc_id: str) -> int:
    """Per-id term of the accepted-id digest (see gen.id_set_digest)."""
    return int.from_bytes(
        hashlib.blake2b(doc_id.encode("utf-8"), digest_size=8).digest(), "big"
    )


def _doc_id(doc: dict) -> str:
    v = doc.get("id")
    return v[0] if isinstance(v, list) else str(v)


def _is_poison(doc: dict) -> bool:
    title = doc.get("title") or []
    return any("POISON" in t for t in (title if isinstance(title, list) else [title]))


def make_handler(stats: Stats, workers: threading.Semaphore):
    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def setup(self):
            super().setup()
            self.connection.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self.conn_key = id(self)
            self.last_end = None
            self.generation = None

        def log_message(self, *args):
            pass

        def _reply(self, status: int, body: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path.startswith("/admin/stats"):
                with stats.lock:
                    body = json.dumps(stats.snapshot()).encode()
                self._reply(200, body)
            else:
                self._reply(404, b"{}")

        def do_POST(self):
            start = time.perf_counter()
            length = int(self.headers.get("Content-Length", 0))
            payload = self.rfile.read(length)
            if self.path.startswith("/admin/reset"):
                with stats.lock:
                    stats.reset()
                self._reply(200, b"{}")
                return
            with stats.lock:
                if self.generation != stats.generation:
                    self.generation, self.last_end = stats.generation, None
                elif self.last_end is not None:
                    stats.gaps_ms.append((start - self.last_end) * 1e3)
                stats.inflight += 1
                stats.max_inflight = max(stats.max_inflight, stats.inflight)
            with workers:
                time.sleep(DELAY_S)
                docs = json.loads(payload)
                ok = not any(_is_poison(d) for d in docs)
                ids_sum = sum(_id_hash(_doc_id(d)) for d in docs) if ok else 0
            status, body = (200, b'{"responseHeader":{"status":0}}') if ok else (
                400, b'{"error":{"msg":"poison document"}}')
            self._reply(status, body)
            end = time.perf_counter()
            with stats.lock:
                stats.inflight -= 1
                if self.generation == stats.generation:
                    self.last_end = end
                    stats.busy_s += end - start
                    first, _ = stats.conn_spans.get(self.conn_key, (start, end))
                    stats.conn_spans[self.conn_key] = (first, end)
                if len(docs) == 1:
                    stats.single_posts += 1
                else:
                    stats.batch_posts += 1
                if ok:
                    stats.accepted_docs += len(docs)
                    stats.accepted_sum = (stats.accepted_sum + ids_sum) % (1 << 64)
                else:
                    stats.rejected_posts += 1
                    stats.rejected_single_posts += len(docs) == 1

    return Handler


def main() -> int:
    stats = Stats()
    workers = threading.BoundedSemaphore(len(os.sched_getaffinity(0)))
    handler = make_handler(stats, workers)
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    server.daemon_threads = True
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
