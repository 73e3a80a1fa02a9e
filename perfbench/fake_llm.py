"""Localhost fake of an OpenAI-style chat-completions endpoint.

Each POST to /v1/chat/completions is answered, after a fixed delay, by
running the product's `StubLlmClient.generate_structured_batch` on the
posted prompt.  Documents whose text hash is listed in the malformed
file get a reply whose message content is truncated JSON, which the
extract stage records as an error row for that document.  Transport
faults (5xx, 429, timeouts) are never injected.

GET /stats returns the counters behind the `llm.*` metrics; POST
/reset zeroes them.  Triples use the URIs of the product's page
generator (`sources.pages`).

Run as its own process; it prints its port on the first stdout line:

    python3 perfbench/fake_llm.py --delay-ms 20 --malformed hashes.txt
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdf_knowledge_extractor_spark.functions.llm import StubLlmClient  # noqa: E402
from rdf_knowledge_extractor_spark.sources.pages import BASE_URI, NAMESPACE  # noqa: E402

_DOC_RE = re.compile(r"## Document Content\n(.*?)\n\n## Information to Extract", re.S)


def doc_hash(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


class Counters:
    """Request counters; every update holds the lock."""

    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self):
        self.requests = 0
        self.malformed = 0
        self.inflight = 0
        self.inflight_max = 0
        self.latencies_ms: list[float] = []
        self.first_start = None
        self.last_end = None

    def begin(self, now: float):
        with self.lock:
            self.requests += 1
            self.inflight += 1
            self.inflight_max = max(self.inflight_max, self.inflight)
            if self.first_start is None:
                self.first_start = now

    def end(self, start: float, now: float, malformed: bool):
        with self.lock:
            self.inflight -= 1
            self.malformed += malformed
            self.latencies_ms.append((now - start) * 1000.0)
            self.last_end = now

    def snapshot(self) -> dict:
        with self.lock:
            lat = sorted(self.latencies_ms)
            wait_s = sum(lat) / 1000.0
            span = (self.last_end - self.first_start) if lat else 0.0
            return {
                "requests": self.requests,
                "malformed": self.malformed,
                "inflight_max": self.inflight_max,
                # time-weighted mean of requests in flight while any was
                "inflight_mean": wait_s / span if span > 0 else 0.0,
                "wait_s": wait_s,
                "reply_p50_ms": lat[len(lat) // 2] if lat else 0.0,
            }


def make_handler(stub: StubLlmClient, malformed: set[str], delay_s: float, counters: Counters):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):  # keep stderr quiet
            pass

        def _send(self, body: bytes, status: int = 200):
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/stats":
                self._send(json.dumps(counters.snapshot()).encode())
            else:
                self._send(b"{}", 404)

        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path == "/reset":
                with counters.lock:
                    counters.reset()
                self._send(b"{}")
                return
            start = time.monotonic()
            counters.begin(start)
            bad = False
            try:
                prompt = json.loads(body)["messages"][-1]["content"]
                m = _DOC_RE.search(prompt)
                bad = m is not None and doc_hash(m.group(1)) in malformed
                content = stub.generate_structured_batch([prompt])[0]
                if bad:
                    content = content[: max(1, len(content) // 2)] + ' {"unterminated'
                time.sleep(max(0.0, delay_s - (time.monotonic() - start)))
                reply = {
                    "id": "fake",
                    "object": "chat.completion",
                    "model": stub.model,
                    "choices": [{"index": 0, "message": {"role": "assistant", "content": content}}],
                }
                self._send(json.dumps(reply).encode())
            finally:
                counters.end(start, time.monotonic(), bad)

    return Handler


def serve(args) -> None:
    malformed: set[str] = set()
    if args.malformed:
        with open(args.malformed) as f:
            malformed = {line.strip() for line in f if line.strip()}
    counters = Counters()
    stub = StubLlmClient(BASE_URI, NAMESPACE)
    server = ThreadingHTTPServer(
        ("127.0.0.1", 0), make_handler(stub, malformed, args.delay_ms / 1000.0, counters)
    )
    server.daemon_threads = True
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--delay-ms", type=float, default=20.0)
    p.add_argument("--malformed", help="file of document-text hashes to answer malformed")
    serve(p.parse_args(argv))


if __name__ == "__main__":
    main()
