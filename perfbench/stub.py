"""Azure-OpenAI-shaped chat-completions stub for the `serve_llm` workload.

Runs on 127.0.0.1 inside the benchmark's own process. A completion waits a
fixed delay, then answers with "[LLM_STUB]" + the summary text found at the
end of the user prompt. A fixed share of texts, chosen by text hash, get a
`429 ... try again in 0.05s` on every first attempt and succeed on the
retry, so the client's retry path runs and never exhausts. A 429 is sent at
once, without the delay, as a rate limiter rejects a call before any
generation. The share and the hint exercise the retry path; they are not a
measured rate.

Counters (read by the benchmark): calls, 429s sent, the most requests in
flight at once, errors, and the backoff wait clients spent between a 429
and their retry of the same text.
"""

import hashlib
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

MARK = "[LLM_STUB]"
RATE_LIMIT_PERCENT = 10
RETRY_AFTER = "0.05"


def text_hash(text):
    return int(hashlib.sha1(text.encode("utf-8")).hexdigest()[:8], 16)


class Stub:
    def __init__(self, texts, delay_s):
        self.texts = texts  # longest first, so the longest suffix wins
        self.delay_s = delay_s
        self.lock = threading.Lock()
        self.calls = self.rate_limited = self.errors = 0
        self.in_flight = self.max_in_flight = 0
        self.wait_s = 0.0
        self.limited_at = {}  # prompt -> time its 429 was sent
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                status, out = stub.answer(body)
                data = json.dumps(out, ensure_ascii=False).encode("utf-8")
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    @property
    def endpoint(self):
        return "http://127.0.0.1:%d" % self.server.server_address[1]

    def start(self):
        self.thread.start()
        return self

    def stop(self):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()

    def answer(self, body):
        with self.lock:
            self.calls += 1
            self.in_flight += 1
            self.max_in_flight = max(self.max_in_flight, self.in_flight)
        try:
            prompt = json.loads(body)["messages"][1]["content"]
            text = next((t for t in self.texts if prompt.endswith(t)), None)
            if text is None:
                with self.lock:
                    self.errors += 1
                return 400, {"error": {"code": "400", "message": "unknown text"}}
            with self.lock:
                sent = self.limited_at.pop(prompt, None)
                if sent is not None:
                    self.wait_s += time.monotonic() - sent
                elif text_hash(text) % 100 < RATE_LIMIT_PERCENT:
                    self.limited_at[prompt] = time.monotonic()
                    self.rate_limited += 1
                    return 429, {"error": {"code": "429", "message":
                                           "Rate limit reached. Please try again in %ss." % RETRY_AFTER}}
            time.sleep(self.delay_s)
            return 200, {"choices": [{"message": {"role": "assistant", "content": MARK + text}}]}
        finally:
            with self.lock:
                self.in_flight -= 1

    def counters(self):
        with self.lock:
            return {"calls": self.calls, "rate_limited": self.rate_limited,
                    "errors": self.errors, "unanswered_429": len(self.limited_at),
                    "max_in_flight": self.max_in_flight, "wait_ms": self.wait_s * 1000.0}
