"""tools/check_plan_drift.py: normalization must erase capture-to-capture
noise in PLANS.md and nothing else."""

from __future__ import annotations

from tools.check_plan_drift import normalize

def test_normalize_drops_lambda_and_common_expr_counters() -> None:
    # both counters advance with every lambda or shared subexpression an
    # earlier query in the session created
    a = "Condition : exists(tf#9, lambdafunction((lambda x_2#25L > 0), lambda x_2#25L, false)) AS _common_expr_6#30"
    b = "Condition : exists(tf#7, lambdafunction((lambda x_26#41L > 0), lambda x_26#41L, false)) AS _common_expr_7#12"
    assert normalize(a) == normalize(b)


_CHECKPOINT_SCAN = (
    "Arguments: [query_id#1979L, doc_id#118L, rel#2031L], MapPartitionsRDD[270] at "
    "localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)"
)


def test_normalize_drops_rdd_call_site_noise() -> None:
    # the same checkpoint scan, captured in two sessions
    other = _CHECKPOINT_SCAN.replace("NativeMethodAccessorImpl.java:0", "<unknown>:0")
    assert other != _CHECKPOINT_SCAN
    assert normalize(other) == normalize(_CHECKPOINT_SCAN)


def test_normalize_keeps_the_rdd_operation() -> None:
    # a reliable checkpoint in place of a local one is a different plan
    reliable = _CHECKPOINT_SCAN.replace("localCheckpoint", "checkpoint")
    assert normalize(reliable) != normalize(_CHECKPOINT_SCAN)
