"""In-process stdlib LLM stub serving ``/api/generate`` (Ollama) and
``/chat/completions`` (OpenAI-compatible) with deterministic replies.

* ``/api/generate`` replies with the first ``k`` whitespace tokens of the
  prompt — the ``MockSummarizer(k)`` rule, so a summarizer whose prompt
  template is ``"{text}"`` returns exactly what the mock returns.
* ``/chat/completions`` replies ``{"score": s}`` with ``s`` in 1..5 derived
  from a CRC of the prompt.

At most ``slots`` requests are served at once (the handler pool has
``slots`` threads; the rest wait in its queue). Each request holds its slot
for ``base_ms + per_token_us * prompt_tokens``. The stub counts requests,
prompt tokens, repeated prompts, requests in flight, slot-busy time and
per-request latency (accept to reply).
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer


def first_k(prompt: str, k: int) -> str:
    return " ".join(prompt.split()[:k])


def judge_score(prompt: str) -> int:
    return 1 + zlib.crc32(prompt.encode("utf-8")) % 5


class _Server(HTTPServer):
    request_queue_size = 128

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address, time.perf_counter())

    def _work(self, request, client_address, t_accept):
        try:
            self.t_accept[threading.get_ident()] = t_accept
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):  # keep stderr clean
        pass

    def do_POST(self):
        stub: LLMStub = self.server.stub
        body = json.loads(self.rfile.read(int(self.headers.get("Content-Length", 0))))
        if self.path.endswith("/api/generate"):
            prompt = body["prompt"]
            reply = {"response": first_k(prompt, stub.k)}
        elif self.path.endswith("/chat/completions"):
            prompt = "\n".join(m["content"] for m in body["messages"])
            content = json.dumps({"score": judge_score(prompt)})
            reply = {"choices": [{"message": {"role": "assistant", "content": content}}]}
        else:
            self.send_error(404)
            return
        n_tok = len(prompt.split())
        stub._enter(self.path, prompt, n_tok)
        service = stub.base_s + stub.per_token_s * n_tok
        time.sleep(service)
        data = json.dumps(reply).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)
        t_accept = self.server.t_accept[threading.get_ident()]
        stub._leave(service, time.perf_counter() - t_accept)


class LLMStub:
    def __init__(self, slots: int, k: int, base_ms: float = 2.0, per_token_us: float = 2.0):
        self.slots, self.k = slots, k
        self.base_s, self.per_token_s = base_ms / 1e3, per_token_us / 1e6
        self._lock = threading.Lock()
        self._server: _Server | None = None
        self._thread: threading.Thread | None = None
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.requests: dict[str, int] = {}
            self.prompt_tokens = 0
            self.repeated = 0
            self._seen: set[bytes] = set()
            self.inflight = self.max_inflight = 0
            self.busy_s = 0.0
            self.latencies_ms: list[float] = []

    def _enter(self, path: str, prompt: str, n_tok: int) -> None:
        digest = hashlib.blake2b(prompt.encode("utf-8"), digest_size=16).digest()
        with self._lock:
            self.requests[path] = self.requests.get(path, 0) + 1
            self.prompt_tokens += n_tok
            if digest in self._seen:
                self.repeated += 1
            self._seen.add(digest)
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)

    def _leave(self, service_s: float, latency_s: float) -> None:
        with self._lock:
            self.inflight -= 1
            self.busy_s += service_s
            self.latencies_ms.append(latency_s * 1e3)

    def snapshot(self) -> dict:
        with self._lock:
            lat = sorted(self.latencies_ms)
            pct = lambda q: lat[min(len(lat) - 1, int(q * len(lat)))] if lat else 0.0  # noqa: E731
            return {
                "requests": sum(self.requests.values()),
                "by_path": dict(self.requests),
                "prompt_tokens": self.prompt_tokens,
                "repeated": self.repeated,
                "max_inflight": self.max_inflight,
                "busy_s": self.busy_s,
                "latency_p50_ms": pct(0.5),
                "latency_p99_ms": pct(0.99),
            }

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def start(self) -> "LLMStub":
        srv = _Server(("127.0.0.1", 0), _Handler)
        srv.stub, srv.t_accept = self, {}
        srv.pool = ThreadPoolExecutor(max_workers=self.slots, thread_name_prefix="llm-stub")
        self._server = srv
        self._thread = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._server is None:
            return
        self._server.shutdown()
        self._thread.join()
        self._server.pool.shutdown(wait=True)
        self._server.server_close()
        self._server = None
