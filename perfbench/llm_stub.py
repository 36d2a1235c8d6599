"""In-process stub of the YandexGPT completion endpoint.

It serves ``HttpLLMEnricher`` requests on localhost with a fixed service time
and labels each key by a deterministic rule. A fixed share of first attempts
is answered with a fault, chosen by a hash of the batch and the attempt
number: HTTP 500, fenced JSON, truncated JSON, or labels for keys that were
not in the batch. A small share of those batches fails again on the retry,
so some keys exhaust their retries and take the operator's fallback.

The prompt templates are the benchmark's own: ``<kind> attempt=<n> |
<items>``, where ``kind`` is ``titles`` or ``fields`` and ``items`` is the
comma-separated key list ``HttpLLMEnricher`` fills in.
"""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
    FIELD_TAXONOMY,
    TITLE_TAXONOMY,
    HttpLLMEnricher,
)

from perfbench.datagen import stable_hash

TITLE_TEMPLATE = "titles attempt={attempt} | {items}"
FIELD_TEMPLATE = "fields attempt={attempt} | {items}"
FAULTS = ("http500", "fenced", "truncated", "foreign_keys")
#: share of first attempts that get a fault (one per FAULTS kind in turn)
FAULT_SHARE = 0.20
#: share of faulted batches whose retry fails too (HTTP 500)
RETRY_FAULT_SHARE = 0.10

_PROMPT_RE = re.compile(r"(titles|fields) attempt=(\d+) \| (.*)$", re.DOTALL)
# "Другое" is left out so every stub label passes the reference queries'
# filters and each query sees all of its groups.
_TITLES = [t for t in TITLE_TAXONOMY if t != "Другое"]
_CATEGORIES = [c for c in FIELD_TAXONOMY if c != "Другое"]


def title_label(key: str) -> dict[str, str]:
    return {"normalized_title": _TITLES[stable_hash(key) % len(_TITLES)]}


def field_labels(key: str) -> dict[str, str]:
    h = stable_hash(key)
    return {
        "category": _CATEGORIES[h % len(_CATEGORIES)],
        "specialization": f"Спец-{h % 7}",
    }


def fault_for(keys: list[str], attempt: int) -> str | None:
    h = stable_hash("\x1f".join(keys))
    faulted = (h % 1000) < FAULT_SHARE * 1000
    if attempt == 0:
        return FAULTS[(h // 1000) % len(FAULTS)] if faulted else None
    if faulted and ((h // 7919) % 1000) < RETRY_FAULT_SHARE * 1000:
        return "http500"
    return None


class StubLLM:
    """Threaded localhost server; counters are read between jobs."""

    def __init__(self, service_s: float = 0.010):
        self.service_s = service_s
        self._lock = threading.Lock()
        self.reset()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.0"

            def do_POST(self):
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                status, text = stub.handle(body["messages"][0]["text"])
                self.send_response(status)
                if status != 200:
                    self.end_headers()
                    return
                data = json.dumps(
                    {"result": {"alternatives": [{"message": {"text": text}}]}},
                    ensure_ascii=False,
                ).encode("utf-8")
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_port}/foundationModels/v1/completion"

    def reset(self) -> None:
        with self._lock:
            self.requests = 0
            self.retries = 0
            self.faults = 0
            self.keys_requested = 0
            self.busy_s = 0.0
            self.inflight = 0
            self.inflight_peak = 0
            #: key -> labels the stub delivered in a parseable answer
            self.delivered: dict[tuple[str, str], dict[str, str]] = {}

    def stats(self) -> dict[str, float]:
        with self._lock:
            return {
                "requests": self.requests,
                "retries": self.retries,
                "faults_injected": self.faults,
                "busy_s": self.busy_s,
                "inflight_peak": self.inflight_peak,
                "keys_per_request": self.keys_requested / max(1, self.requests),
            }

    def handle(self, prompt: str) -> tuple[int, str]:
        t0 = time.perf_counter()
        with self._lock:
            self.inflight += 1
            self.inflight_peak = max(self.inflight_peak, self.inflight)
        try:
            m = _PROMPT_RE.search(prompt)
            kind, attempt = m.group(1), int(m.group(2))
            keys = [k.strip() for k in m.group(3).split(", ") if k.strip()]
            rule = title_label if kind == "titles" else field_labels
            fault = fault_for(keys, attempt)
            time.sleep(self.service_s)
            answered = keys
            if fault == "foreign_keys":
                answered = keys[: len(keys) // 2]
            items = [{"original": k, **rule(k)} for k in answered]
            if fault == "foreign_keys":
                items += [{"original": f"{k} (копия)", **rule(k)} for k in keys[len(keys) // 2 :]]
            text = json.dumps(items, ensure_ascii=False)
            if fault == "fenced":
                text = f"```json\n{text}\n```"
            elif fault == "truncated":
                text = text[: len(text) // 2]
                answered = []
            elif fault == "http500":
                answered = []
            with self._lock:
                self.requests += 1
                self.retries += attempt > 0
                self.faults += fault is not None
                self.keys_requested += len(keys)
                for k in answered:
                    self.delivered[(kind, k)] = rule(k)
            return (500, "") if fault == "http500" else (200, text)
        finally:
            with self._lock:
                self.inflight -= 1
                self.busy_s += time.perf_counter() - t0

    def enrichers(self) -> tuple[HttpLLMEnricher, HttpLLMEnricher]:
        common = dict(endpoint=self.url, api_key="bench", model="gpt://bench/yandexgpt", timeout_s=30.0)
        return (
            HttpLLMEnricher(prompt_template=TITLE_TEMPLATE, output_cols=("normalized_title",), **common),
            HttpLLMEnricher(prompt_template=FIELD_TEMPLATE, output_cols=("category", "specialization"), **common),
        )

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()
