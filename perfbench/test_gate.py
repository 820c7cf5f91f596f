"""The benchmark's own check: a wrong result is reported as a failed
operation and makes the run incorrect.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import time

from perfbench.gate import Ledger, Oracle, same_ranking

DOCS = {
    1: "alpha beta beta gamma",
    2: "alpha alpha delta",
    3: "beta gamma gamma gamma",
    4: "alpha beta gamma delta epsilon",
    5: "",
}
UNITS = {"latency_p50_ms": "ms"}


def _run(results):
    """Check each (terms, k, result) against the oracle, as the
    workloads do after their timed region."""
    oracle = Oracle(DOCS)
    ledger = Ledger()
    for terms, k, got in results:
        ledger.record(same_ranking(got, oracle.topk(terms, k)), f"{terms}")
    return ledger.result({"latency_p50_ms": 1.0}, UNITS)


def test_exact_results_pass():
    oracle = Oracle(DOCS)
    out = _run([(["alpha", "gamma"], 3, oracle.topk(["alpha", "gamma"], 3))])
    assert out == {
        "correct": True,
        "attempted": 1,
        "failed": 0,
        "metrics": {"latency_p50_ms": {"value": 1.0, "unit": "ms"}},
    }


def test_perturbed_results_are_failed():
    oracle = Oracle(DOCS)
    right = oracle.topk(["alpha", "gamma"], 3)
    swapped = [right[1], right[0]] + right[2:]
    shifted = [(d, s * (1 + 1e-6)) for d, s in right]
    truncated = right[:-1]
    out = _run(
        [
            (["alpha", "gamma"], 3, right),
            (["alpha", "gamma"], 3, swapped),
            (["alpha", "gamma"], 3, shifted),
            (["alpha", "gamma"], 3, truncated),
        ]
    )
    assert out["correct"] is False
    assert (out["attempted"], out["failed"]) == (4, 3)


def test_deleted_doc_in_result_is_failed():
    oracle = Oracle(DOCS)
    before = oracle.topk(["gamma"], 2)
    oracle.hide([before[0][0]])
    after = oracle.topk(["gamma"], 2)
    assert before[0][0] not in {d for d, _ in after}
    ledger = Ledger()
    ledger.record(same_ranking(before, after), "tombstoned doc returned")
    assert ledger.failed == 1


def test_patch_keeps_pinned_avgdl():
    oracle = Oracle(DOCS)
    avgdl = oracle.index.avgdl
    oracle.hide([4])
    oracle.apply_hidden()
    assert oracle.index.n_docs == len(DOCS) - 1
    assert oracle.index.avgdl == avgdl


def test_timed_calls_fail_on_exception_timeout_or_wrong_result(monkeypatch):
    ledger = Ledger()

    def boom():
        raise ValueError("engine error")

    assert ledger.timed(boom, "raises")[0] is None
    assert ledger.timed(lambda: 5, "ok")[0] == 5
    ledger.wrong("ok: result differs from the oracle")
    assert ledger.timed(lambda: 6, "ok")[0] == 6
    monkeypatch.setattr("perfbench.gate.OP_TIMEOUT_S", 0.0)
    assert ledger.timed(lambda: time.sleep(0.001), "slow")[0] is None
    assert (ledger.attempted, ledger.failed) == (4, 3)
    assert ledger.result({}, {})["correct"] is False
