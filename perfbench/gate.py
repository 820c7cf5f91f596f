"""Correctness checks and failure accounting.

Every timed operation is counted in a ``Ledger``. Results are kept and
checked against the pure-Python oracle (``tfidf_spark.oracle``) after the
timed region ends; an exception, an over-time call or a wrong result
counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import math
import time
import traceback

from tfidf_spark.oracle import OracleIndex

# a single timed call taking longer than this counts as failed (timeout)
OP_TIMEOUT_S = 120.0
# score agreement: ranks must be identical; scores may differ by float
# rounding between the JVM and Python paths
SCORE_REL = 1e-9


class Ledger:
    """Attempted and failed operations. An operation is a timed engine
    call (``timed``) or a standalone check (``record``); a timed call
    fails on an exception, a timeout, or a wrong result (``wrong``)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.reasons) < 20:
            self.reasons.append(what)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self._fail(what)
        return ok

    def wrong(self, what: str) -> None:
        """The result of a timed call, already attempted, is wrong."""
        self._fail(what)

    def timed(self, fn, what: str):
        """Run fn() as one operation. Returns (result, seconds); the
        result is None when the call raised or took over OP_TIMEOUT_S."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self._fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if dt > OP_TIMEOUT_S:
            self._fail(f"{what}: timeout {dt:.1f}s")
            return None, dt
        return out, dt

    def result(self, metrics: dict[str, float], units: dict[str, str]) -> dict:
        """The run's result object: correct only when no operation failed."""
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                name: {"value": float(metrics[name]), "unit": unit}
                for name, unit in units.items()
            },
        }


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Identical doc-id sequence, scores equal up to SCORE_REL."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(
        math.isclose(a, b, rel_tol=SCORE_REL, abs_tol=1e-12)
        for (_, a), (_, b) in zip(got, want)
    )


def first_difference(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str:
    """Where two rankings part, for failure reports."""
    for rank, (g, w) in enumerate(zip(got, want), 1):
        if not same_ranking([g], [w]):
            return f"rank {rank}: got {g}, want {w}"
    return f"got {len(got)} results, want {len(want)}"


class Oracle:
    """``OracleIndex`` over a changing doc set, following the engine's
    maintenance semantics: incremental merges pin the base avgdl;
    tombstones leave N and df unchanged and only hide the deleted docs
    from results (``patch_deletes`` then applies them to N and df)."""

    def __init__(self, docs: dict[int, str]):
        self.docs = dict(docs)
        self.hidden: set[int] = set()
        self.index = OracleIndex(self.docs)
        self.pinned_avgdl = self.index.avgdl

    def add(self, docs: dict[int, str]) -> None:
        self.docs.update(docs)
        self._rebuild()

    def hide(self, ids) -> None:
        self.hidden |= set(ids)

    def apply_hidden(self) -> None:
        for d in self.hidden:
            self.docs.pop(d, None)
        self.hidden = set()
        self._rebuild()

    def _rebuild(self) -> None:
        self.index = OracleIndex(self.docs)
        self.index.avgdl = self.pinned_avgdl

    def topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        ranked = self.index.bm25_topk(terms, k + len(self.hidden))
        return [(d, s) for d, s in ranked if d not in self.hidden][:k]

    @property
    def n_postings(self) -> int:
        return sum(len(c) for c in self.index.counts.values())


def content_sha256(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()
