"""Deterministic stand-in for the enrichment model.

The answer is a pure function of the prompt: a 64-bit BLAKE2b digest of it
picks whether the call raises, returns malformed JSON, or returns a valid
``{"sentiment", "category", "summary"}`` object whose fields are also read
off the digest.  An optional per-call sleep stands in for model latency.

``FakeModel`` instances are installed with the engine's public
``enrich.set_transport``; ``enrich()`` captures the transport into the
worker closure, so calls run inside the Python workers and are counted
there through Spark accumulators (calls, busy seconds, raised, malformed
and, on passes that track repeats, the set of prompt digests seen).
"""

from __future__ import annotations

import hashlib
import json
import time

SENTIMENTS = ("Positive", "Negative", "Neutral")
CATEGORIES = ("WORLD NEWS", "POLITICS", "BUSINESS", "TECH", "MONEY")
# What the enrich stage stores for a failed call (Main.py:87,101,124).
ERROR_TRIPLE = ("ERROR_API", "ERROR_API", "Error generating summary.")


def digest(prompt: str) -> int:
    return int.from_bytes(hashlib.blake2b(prompt.encode(), digest_size=8).digest(), "big")


def outcome(prompt: str, raise_pct: int, malformed_pct: int) -> str:
    """'raise', 'malformed' or 'ok' for this prompt."""
    bucket = digest(prompt) % 100
    if bucket < raise_pct:
        return "raise"
    if bucket < raise_pct + malformed_pct:
        return "malformed"
    return "ok"


def answer(prompt: str) -> tuple[str, str, str]:
    h = digest(prompt)
    return (
        SENTIMENTS[(h >> 8) % 3],
        CATEGORIES[(h >> 16) % len(CATEGORIES)],
        f"Markets may react to this story ({h >> 24:010x}).",
    )


def expected_triple(prompt: str, raise_pct: int, malformed_pct: int) -> tuple[str, str, str]:
    """The enriched columns a correct stage stores for this prompt."""
    if outcome(prompt, raise_pct, malformed_pct) != "ok":
        return ERROR_TRIPLE
    return answer(prompt)


class _SetParam:
    """Accumulator of prompt digests (set union)."""

    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


class FakeModel:
    """Callable transport ``prompt -> raw response`` with counters."""

    def __init__(self, sc, raise_pct: int = 0, malformed_pct: int = 0,
                 latency_s: float = 0.0):
        self.raise_pct = raise_pct
        self.malformed_pct = malformed_pct
        self.latency_s = latency_s
        self.calls = sc.accumulator(0)
        self.busy = sc.accumulator(0.0)
        self.raised = sc.accumulator(0)
        self.malformed = sc.accumulator(0)
        self._digests = sc.accumulator(set(), _SetParam())
        self.seen = None

    def reset(self, track_repeats: bool = False) -> None:
        """Zero the counters on the driver before a pass.  ``enrich()``
        pickles the transport for every pass, so repeats are tracked only on
        the passes that ask for it."""
        for acc in (self.calls, self.raised, self.malformed):
            acc.value = 0
        self.busy.value = 0.0
        self._digests.value = set()
        self.seen = self._digests if track_repeats else None

    def __call__(self, prompt: str) -> str:
        t0 = time.perf_counter()
        self.calls.add(1)
        if self.seen is not None:
            self.seen.add({digest(prompt)})
        if self.latency_s:
            time.sleep(self.latency_s)
        kind = outcome(prompt, self.raise_pct, self.malformed_pct)
        self.busy.add(time.perf_counter() - t0)
        if kind == "raise":
            self.raised.add(1)
            raise RuntimeError("model unavailable")
        if kind == "malformed":
            self.malformed.add(1)
            return '{"sentiment": "Positive", "category": '
        s, c, m = answer(prompt)
        return json.dumps({"sentiment": s, "category": c, "summary": m})
