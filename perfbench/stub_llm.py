"""Loopback stand-in for an OpenAI-compatible chat-completions endpoint.

The server answers ``POST /v1/chat/completions`` with the chat-completions
response shape. Its JSON content (sentiment, category) is a pure function
of a hash of the answer text, so a classification is reproducible. Every
request holds for a fixed service time. The first attempt for about 1% of
prompts gets a deterministic HTTP 429, which the classifier's retry loop
must absorb. The server counts requests, 429s and in-flight concurrency
itself, so the figures do not depend on the program reporting them.

``StubClient`` is the client side handed to ``llm_kernel`` through
``client_factory``. It is built inside Spark's Python workers, so this
module must be importable there.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from types import SimpleNamespace

SENTIMENTS = ("Positive", "Neutral", "Negative", "Mixed")
CATEGORIES = ("Price", "Shipping", "Quality", "Fit", "Design", "Support",
              "Value", "Delivery Time")
_ANSWER_START = "\nAnswer: "
_ANSWER_END = "\nSentiment must be one of"
SERVICE_S = 0.002          # fixed service time per request
THROTTLE_PER_MILLE = 10    # share of prompts whose first attempt gets 429


def _digest(text: str) -> int:
    return int.from_bytes(hashlib.sha1(text.encode("utf-8")).digest()[:8],
                          "big")


def classify(answer: str) -> tuple[str, str]:
    """The stub's answer for ``answer``: what a correct report must show."""
    h = _digest(answer)
    return SENTIMENTS[h % 4], CATEGORIES[(h >> 8) % len(CATEGORIES)]


def throttled(prompt: str) -> bool:
    """Whether the first attempt of ``prompt`` gets a 429."""
    return _digest("429|" + prompt) % 1000 < THROTTLE_PER_MILLE


class _Stats:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.throttled = 0
        self.inflight = 0
        self.max_inflight = 0
        self.busy_s = 0.0          # time with >= 1 request in flight
        self.inflight_area = 0.0   # integral of in-flight count over time
        self._last = time.perf_counter()
        self.throttled_prompts: set[str] = set()

    def _advance(self, now: float) -> None:
        dt = now - self._last
        if self.inflight:
            self.busy_s += dt
            self.inflight_area += dt * self.inflight
        self._last = now

    def enter(self) -> None:
        with self.lock:
            self._advance(time.perf_counter())
            self.requests += 1
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)

    def leave(self) -> None:
        with self.lock:
            self._advance(time.perf_counter())
            self.inflight -= 1

    def snapshot(self) -> dict:
        with self.lock:
            self._advance(time.perf_counter())
            return {
                "requests": self.requests,
                "retries": self.throttled,
                "busy_s": self.busy_s,
                "max_inflight": self.max_inflight,
                "mean_inflight": (self.inflight_area / self.busy_s
                                  if self.busy_s else 0.0),
            }


class StubServer:
    """Threaded HTTP server on 127.0.0.1 with an OS-assigned port."""

    def __init__(self):
        self.stats = _Stats()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "StubServer":
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True  # headers and body go separately

            def log_message(self, *args) -> None:
                pass

            def do_POST(self) -> None:
                server.stats.enter()
                try:
                    body = self.rfile.read(
                        int(self.headers.get("Content-Length", 0)))
                    status, payload = server.respond(json.loads(body))
                    time.sleep(SERVICE_S)
                    out = json.dumps(payload).encode()
                    self.send_response(status)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(out)))
                    self.end_headers()
                    self.wfile.write(out)
                finally:
                    server.stats.leave()

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        kwargs={"poll_interval": 0.05},
                                        daemon=True)
        self._thread.start()
        return self

    def respond(self, request: dict) -> tuple[int, dict]:
        prompt = request["messages"][-1]["content"]
        if throttled(prompt):
            with self.stats.lock:
                first = prompt not in self.stats.throttled_prompts
                if first:
                    self.stats.throttled_prompts.add(prompt)
                    self.stats.throttled += 1
            if first:
                return 429, {"error": {"message": "rate limited"}}
        start = prompt.find(_ANSWER_START)
        end = prompt.rfind(_ANSWER_END)
        answer = prompt[start + len(_ANSWER_START):end] if start >= 0 else ""
        sentiment, category = classify(answer)
        content = json.dumps({"sentiment": sentiment, "category": category})
        return 200, {"object": "chat.completion",
                     "choices": [{"index": 0, "finish_reason": "stop",
                                  "message": {"role": "assistant",
                                              "content": content}}]}

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._thread.join(timeout=10)
            self._httpd = None


class StatusError(RuntimeError):
    pass


class StubClient:
    """Minimal OpenAI-style client: ``client.chat.completions.create``
    over one keep-alive HTTP connection."""

    def __init__(self, url: str):
        host, port = url.rsplit("//", 1)[1].split(":")
        self._conn = http.client.HTTPConnection(host, int(port), timeout=30)
        self.chat = SimpleNamespace(completions=self)

    def create(self, **request) -> SimpleNamespace:
        body = json.dumps({k: request[k] for k in ("model", "messages")})
        try:
            self._conn.request("POST", "/v1/chat/completions", body,
                               {"Content-Type": "application/json"})
            resp = self._conn.getresponse()
            data = resp.read()
        except (OSError, http.client.HTTPException):
            self._conn.close()
            raise
        if resp.status != 200:
            raise StatusError(f"HTTP {resp.status}")
        msg = json.loads(data)["choices"][0]["message"]
        return SimpleNamespace(choices=[SimpleNamespace(
            message=SimpleNamespace(content=msg["content"]))])
