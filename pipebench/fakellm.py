"""Benchmark-side fake LLM service around ``DeterministicFakeLLM``.

Adds what a paid chat endpoint costs and does, all seeded so a seed
always yields the same calls:

- a per-call delay drawn from ``DELAY_MS``: the reference's 0.15-1.0 s
  call pacing scaled down 1000x, so enrichment is a large share of a
  fresh run while the exact D4 dedup still dominates it;
- transient failures at ``FAIL_RATE`` per attempt, retried through
  ``enrich.client.retry_with_backoff``. The rate is an assumption: the
  reference inputs carry no failure rate;
- on the scoring task, the reference's malformed score values: a string
  ``"N.5/10"`` for ``clarity`` and an out-of-range ``15`` for
  ``impact_potential`` (every 11th prompt each), with the dims lifted
  from 0-10 to 5-10.

Calls, retries and the time spent waiting are counted outside the
package through Spark accumulators, so they reach the Spark driver from the
Python workers that run ``mapInPandas``.
"""

from __future__ import annotations

import hashlib
import re
import time
from dataclasses import dataclass

from llm_enhanced_data_pipeline_spark.enrich.client import (
    DeterministicFakeLLM,
    retry_with_backoff,
)

DELAY_MS = (0.15, 1.0)
FAIL_RATE = 0.02
# Never binds: the benchmark measures the program, not the limiter.
RATE_PER_SEC = 1e9
_DIM = re.compile(r'"(novelty|technical_depth|clarity|impact_potential)": (\d+)')


class TransientLLMError(RuntimeError):
    """A retryable failure, like an HTTP 429/503 from a real endpoint."""


@dataclass
class Counters:
    """Driver-side accumulators shared by every client of one run."""

    calls: object
    retries: object
    wait_s: object

    @classmethod
    def create(cls, sc) -> "Counters":
        return cls(sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))

    def read(self) -> dict[str, float]:
        return {"calls": self.calls.value, "retries": self.retries.value,
                "wait_s": self.wait_s.value}


def respond(inner: DeterministicFakeLLM, prompt: str) -> str:
    """The service's answer text for ``prompt`` (no delay, no failure)."""
    text = inner.generate(prompt)
    if inner.task == "scoring":
        # lift the 0-10 dims to 5-10 so about half the papers pass
        # the gate, as in the reference (6242 → 3236)
        text = _DIM.sub(lambda m: f'"{m[1]}": {5 + int(m[2]) // 2}', text)
        h = int(hashlib.md5(prompt.encode("utf-8")).hexdigest()[:8], 16)
        if h % 11 == 0:
            text = re.sub(r'"clarity": (\d+)', r'"clarity": "\1.5/10"', text)
        if h % 11 == 1:
            text = re.sub(r'"impact_potential": \d+', '"impact_potential": 15', text)
    return text


def _unit(*parts: object) -> float:
    digest = hashlib.md5(":".join(map(str, parts)).encode("utf-8")).hexdigest()
    return int(digest[:12], 16) / float(16**12)


@dataclass
class FakeLLMService:
    task: str
    seed: int
    counters: Counters

    def __post_init__(self) -> None:
        self._inner = DeterministicFakeLLM(task=self.task)

    def _attempt(self, prompt: str, attempt: int) -> str:
        lo, hi = DELAY_MS
        delay = (lo + (hi - lo) * _unit(self.seed, self.task, prompt, attempt, "d")) / 1000.0
        self.counters.calls.add(1)
        self.counters.wait_s.add(delay)
        time.sleep(delay)
        if _unit(self.seed, self.task, prompt, attempt, "f") < FAIL_RATE:
            self.counters.retries.add(1)
            raise TransientLLMError("transient endpoint failure")
        return respond(self._inner, prompt)

    def generate(self, prompt: str, max_tokens: int = 300) -> str:
        attempt = [0]

        def call() -> str:
            attempt[0] += 1
            return self._attempt(prompt, attempt[0])

        return retry_with_backoff(call, max_tries=6, base_delay=0.0005)
