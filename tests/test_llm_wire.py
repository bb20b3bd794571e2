"""C5/C6 over the REAL OpenAI SDK: a loopback HTTP server speaks the
chat-completions wire format and llm_kernel drives the genuine `openai`
client (1.99.9, from the reference venv) against it end-to-end from the
driver -- no recording fakes anywhere on the path.

What this lane pins that the fake-client tests cannot:
- the EXACT request payload on the wire equals survey_analysis.py:193-202's
  parameter set (model/messages/temperature/max_tokens/response_format,
  nothing more, nothing less) after real SDK serialization;
- the Authorization header carries the configured key (real auth plumbing);
- OUR retry loop drives real SDK exceptions (429 -> RateLimitError,
  500 -> InternalServerError with the SDK's own retries disabled), with
  the 1s-doubling backoff observable in wire-request timestamps;
- the terminal (Neutral, No Feedback) default fires after exactly
  max_retries wire requests.

Environment: the reference venv's openai/httpx/httpcore/h11/anyio/distro
are pure Python and import fine under this interpreter; its compiled
jiter is a macOS cp39 binary, replaced by tests/wire_shims/jiter.py
(json.loads -- the non-streaming path never calls it); pydantic comes
from the native environment. The factory appends those paths in the
process that builds the client, mirroring test_vader.py's venv-loading
convention.
"""

from __future__ import annotations

import http.server
import json
import os
import threading
import time

import pytest

from automated_review_analysis_pipeline_spark.operators.classify import (
    SYS_PROMPT,
    build_user_prompt,
    llm_kernel,
)
from automated_review_analysis_pipeline_spark.plans.survey_pipeline import (
    analyze_wide,
)

REF_SITE_PACKAGES = "/root/reference/.venv/lib/python3.9/site-packages"
SHIM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "wire_shims")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.join(REF_SITE_PACKAGES, "openai")),
    reason="reference venv with the openai SDK not present",
)


class _LoopbackHandler(http.server.BaseHTTPRequestHandler):
    """Minimal chat-completions endpoint. Per request: record
    (path, auth, payload, monotonic timestamp), then follow the
    per-answer plan -- an int (HTTP error status to inject) or a dict
    (the JSON object to return as the assistant message content)."""

    def do_POST(self):  # noqa: N802  (http.server API)
        n = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(n))
        # slice, don't line-scan: answers may be MULTILINE (S1 parses
        # quoted embedded-newline CSV cells) and must stay distinct here
        content = payload["messages"][1]["content"]
        q_start = content.index("Question: ") + len("Question: ")
        start = content.index("Answer: ", q_start)
        question = content[q_start:start - 1]          # strip the \n
        start += len("Answer: ")
        end = content.rindex("\nSentiment must be one of:")
        answer = content[start:end]
        srv = self.server
        with srv.lock:
            srv.requests.append({
                "path": self.path,
                "auth": self.headers.get("Authorization"),
                "payload": payload,
                "question": question,
                "answer": answer,
                "t": time.monotonic(),
            })
            k = sum(1 for r in srv.requests if r["answer"] == answer)
        plan = srv.plan.get(answer, [])
        step = plan[k - 1] if k <= len(plan) else {
            "sentiment": "Neutral", "category": "General"}
        if isinstance(step, int):
            err = json.dumps({"error": {
                "message": "injected failure", "type": "loopback_test",
                "param": None, "code": None}}).encode()
            self.send_response(step)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(err)))
            self.end_headers()
            self.wfile.write(err)
            return
        body = json.dumps({
            "id": "chatcmpl-loopback", "object": "chat.completion",
            "created": 0, "model": payload["model"],
            "choices": [{"index": 0, "finish_reason": "stop",
                         "message": {"role": "assistant",
                                     "content": json.dumps(step)}}],
            "usage": {"prompt_tokens": 1, "completion_tokens": 1,
                      "total_tokens": 2},
        }).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def wire_server():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0),
                                          _LoopbackHandler)
    srv.lock = threading.Lock()
    srv.requests = []
    srv.plan = {}
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv
    finally:
        srv.shutdown()
        t.join(timeout=5)


def _real_sdk_factory(port: int):
    """Builds the GENUINE openai client in the calling process;
    the SDK's own retries are disabled so the kernel's C6 loop is the
    only retry mechanism under test."""
    ref_pkgs = REF_SITE_PACKAGES
    shim = SHIM_DIR

    def factory():
        import sys
        for p in (shim, ref_pkgs):
            if p not in sys.path:
                sys.path.append(p)
        from openai import OpenAI
        return OpenAI(api_key="loopback-test-key",
                      base_url=f"http://127.0.0.1:{port}/v1",
                      max_retries=0, timeout=30.0)

    return factory


def test_real_sdk_wire_roundtrip_retry_and_terminal_default(
        spark, wire_server):
    """One survey, four behaviors, all through the real SDK:
    - 'love the fit' -> 200 first try, classified from wire JSON;
    - 'meh, retry me' -> 429 then 500 then 200 (three wire requests,
      kernel-level backoff between them);
    - 'always down' -> five 500s, terminal (Neutral, No Feedback),
      exactly max_retries wire requests;
    - 'n/a' filler -> never reaches the wire at all."""
    port = wire_server.server_address[1]
    wire_server.plan = {
        "love the fit": [{"sentiment": "POSITIVE",
                          "category": "Fit Praise"}],
        "meh, retry me": [429, 500,
                          {"sentiment": "mixed", "category": "Sizing"}],
        "always down": [500, 500, 500, 500, 500],
    }
    kernel = llm_kernel("Apparel", client_factory=_real_sdk_factory(port),
                        base_delay=0.05)
    survey = spark.createDataFrame(
        [("a@x", "A", "P1", "love the fit"),
         ("b@x", "B", "P1", "meh, retry me"),
         ("c@x", "C", "P1", "always down"),
         ("d@x", "D", "P1", "n/a")],
        ["Email", "Name", "Products", "How was the fit?"])
    wide, b2d = analyze_wide(survey, classifier=kernel)
    (base,) = b2d
    got = {r[f"{base}_Answer"]:
           (r[f"{base}_Sentiment"], r[f"{base}_Category"])
           for r in wide.collect()}

    # wire-sourced classifications (sentiment normalized engine-side)
    assert got["love the fit"] == ("Positive", "Fit Praise")
    assert got["meh, retry me"] == ("Mixed", "Sizing")
    assert got["always down"] == ("Neutral", "No Feedback")   # terminal
    assert got["n/a"] == ("Neutral", "No Feedback")           # filler

    reqs = wire_server.requests
    by_answer = {}
    for r in reqs:
        by_answer.setdefault(r["answer"], []).append(r)
    # filler never billed; retry counts exact
    assert set(by_answer) == {"love the fit", "meh, retry me",
                              "always down"}
    assert len(by_answer["love the fit"]) == 1
    assert len(by_answer["meh, retry me"]) == 3
    assert len(by_answer["always down"]) == 5    # max_retries, then default

    # C6 backoff timing on the wire: gaps >= base_delay then >= 2x
    # (lower bounds only -- shared-VM clocks can only stretch them)
    t = [r["t"] for r in by_answer["meh, retry me"]]
    assert t[1] - t[0] >= 0.045
    assert t[2] - t[1] >= 0.090

    # real SDK auth plumbing reached the wire
    assert all(r["auth"] == "Bearer loopback-test-key" for r in reqs)
    assert all(r["path"] == "/v1/chat/completions" for r in reqs)


def test_cli_api_mode_end_to_end_bills_278_wire_requests(
        wire_server, tmp_path):
    """THE production path, whole-CLI: a subprocess runs
    `python -m ...api` with OPENAI_API_KEY set (S5 env-mode selection
    -> llm_kernel with the DEFAULT client construction -- OpenAI() from
    env, base_url via OPENAI_BASE_URL), PYTHONPATH carrying the
    reference venv's openai SDK into the driver. On the bundled
    2,071-non-filler-cell survey the memo cache must collapse the wire
    traffic to EXACTLY the 278 distinct keys, every one authenticated
    and answered by the loopback server, and the cache must hold the
    wire-sourced values."""
    import subprocess
    import sys

    import duckdb

    port = wire_server.server_address[1]
    out = str(tmp_path / "api_mode_report.xlsx")
    cache = str(tmp_path / "api_mode_cache")
    env = dict(os.environ)
    env["OPENAI_API_KEY"] = "loopback-cli-key"
    env["OPENAI_BASE_URL"] = f"http://127.0.0.1:{port}/v1"
    # SHIM_DIR only: its sitecustomize.py appends the reference venv to
    # the END of sys.path in the driver AND every UDF worker, so the
    # pure-Python openai stack imports while the venv's cp39-darwin
    # pandas can never shadow the native one (the round-6 failure mode
    # of putting REF_SITE_PACKAGES directly on PYTHONPATH).
    env["PYTHONPATH"] = os.pathsep.join(
        [SHIM_DIR, env.get("PYTHONPATH", "")])
    proc = subprocess.run(
        [sys.executable, "-m", "automated_review_analysis_pipeline_spark.api",
         "--input", "/root/reference/example_survey_large.csv",
         "--industry", "Apparel", "--output", out, "--cache", cache,
         "--max-parallelism", "4"],
        cwd="/root/repo", env=env, capture_output=True, text=True,
        timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]

    reqs = wire_server.requests
    # one wire request per DISTINCT non-filler key -- never per cell.
    # The memo key is (industry, question, answer): 278 distinct keys,
    # but only 274 distinct answer STRINGS (a few answers recur under
    # more than one question), so distinctness is asserted on the pair.
    assert len(reqs) == 278
    assert len({(r["question"], r["answer"]) for r in reqs}) == 278
    assert all(r["auth"] == "Bearer loopback-cli-key" for r in reqs)

    # the cache table holds exactly those wire-sourced classifications
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT count(*), count(DISTINCT (question, answer)) "
        f"FROM '{cache}/*.parquet'"
    ).fetchone()
    assert rows == (278, 278)
    cats = {c for (c,) in con.execute(
        f"SELECT DISTINCT category FROM '{cache}/*.parquet'").fetchall()}
    assert cats == {"General"}   # the loopback default response


def test_real_sdk_request_payload_is_reference_exact(spark, wire_server):
    """The decisive C5 parity check at the WIRE level: the JSON body the
    real SDK serializes must equal survey_analysis.py:193-202's parameter
    set EXACTLY -- same five keys, same values, byte-identical prompt
    strings, and no extra parameters smuggled in by the engine."""
    port = wire_server.server_address[1]
    kernel = llm_kernel("Apparel", client_factory=_real_sdk_factory(port),
                        base_delay=0.01)
    survey = spark.createDataFrame(
        [("a@x", "A", "P1", "great value for the price")],
        ["Email", "Name", "Products", "Would you recommend us?"])
    wide, _ = analyze_wide(survey, classifier=kernel)
    wide.collect()

    assert len(wire_server.requests) == 1
    assert wire_server.requests[0]["payload"] == {
        "model": "gpt-4o-mini",
        "temperature": 0.1,
        "max_tokens": 40,
        "response_format": {"type": "json_object"},
        "messages": [
            {"role": "system", "content": SYS_PROMPT},
            {"role": "user", "content": build_user_prompt(
                "Apparel", "Would you recommend us?",
                "great value for the price")},
        ],
    }
