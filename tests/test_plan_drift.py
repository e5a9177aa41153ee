"""tools/check_plan_drift.py: normalization must erase capture-to-capture
noise in PLANS.md and nothing else."""

from __future__ import annotations

from tools.check_plan_drift import normalize

# dedup_unicode_normalized, nodes (5)-(9), from two captures of the same
# plan in one session: the distinct columns and their gids come out in
# either order.
_CAPTURE_A = """\
## dedup_unicode_normalized

(5) Expand
Input [3]: [digest#8, raw_digest#9, was_denormalized#10L]
Arguments: [[null, null, 0, was_denormalized#10L], [raw_digest#9, null, 1, null], [null, digest#8, 2, null]], [raw_digest#24, digest#25, gid#23, was_denormalized#26L]

(6) HashAggregate
Input [4]: [raw_digest#24, digest#25, gid#23, was_denormalized#26L]
Keys [3]: [raw_digest#24, digest#25, gid#23]
Functions [2]: [partial_count(1), partial_sum(was_denormalized#26L)]
Aggregate Attributes [2]: [count#44L, sum#45L]
Results [5]: [raw_digest#24, digest#25, gid#23, count#46L, sum#47L]

(7) Exchange
Input [5]: [raw_digest#24, digest#25, gid#23, count#46L, sum#47L]
Arguments: hashpartitioning(raw_digest#24, digest#25, gid#23, 4), ENSURE_REQUIREMENTS, [plan_id=46]

(8) HashAggregate
Input [5]: [raw_digest#24, digest#25, gid#23, count#46L, sum#47L]
Keys [3]: [raw_digest#24, digest#25, gid#23]
Functions [2]: [count(1), sum(was_denormalized#26L)]
Aggregate Attributes [2]: [count(1)#18L, sum(was_denormalized#26L)#19L]
Results [5]: [raw_digest#24, digest#25, gid#23, count(1)#18L AS count(1)#27L, sum(was_denormalized#26L)#19L AS sum(was_denormalized)#29L]

(9) HashAggregate
Input [5]: [raw_digest#24, digest#25, gid#23, count(1)#27L, sum(was_denormalized)#29L]
Keys: []
Functions [4]: [partial_first(count(1)#27L, true) FILTER (WHERE (gid#23 = 0)), partial_first(sum(was_denormalized)#29L, true) FILTER (WHERE (gid#23 = 0)), partial_count(digest#25) FILTER (WHERE (gid#23 = 2)), partial_count(raw_digest#24) FILTER (WHERE (gid#23 = 1))]
Aggregate Attributes [6]: [first#32L, valueSet#33, first#34L, valueSet#35, count#36L, count#37L]
Results [6]: [first#38L, valueSet#39, first#40L, valueSet#41, count#42L, count#43L]
"""

_CAPTURE_B = """\
## dedup_unicode_normalized

(5) Expand
Input [3]: [digest#50, raw_digest#51, was_denormalized#52L]
Arguments: [[null, null, 0, was_denormalized#52L], [digest#50, null, 1, null], [null, raw_digest#51, 2, null]], [digest#66, raw_digest#67, gid#65, was_denormalized#68L]

(6) HashAggregate
Input [4]: [digest#66, raw_digest#67, gid#65, was_denormalized#68L]
Keys [3]: [digest#66, raw_digest#67, gid#65]
Functions [2]: [partial_count(1), partial_sum(was_denormalized#68L)]
Aggregate Attributes [2]: [count#86L, sum#87L]
Results [5]: [digest#66, raw_digest#67, gid#65, count#88L, sum#89L]

(7) Exchange
Input [5]: [digest#66, raw_digest#67, gid#65, count#88L, sum#89L]
Arguments: hashpartitioning(digest#66, raw_digest#67, gid#65, 4), ENSURE_REQUIREMENTS, [plan_id=99]

(8) HashAggregate
Input [5]: [digest#66, raw_digest#67, gid#65, count#88L, sum#89L]
Keys [3]: [digest#66, raw_digest#67, gid#65]
Functions [2]: [count(1), sum(was_denormalized#68L)]
Aggregate Attributes [2]: [count(1)#60L, sum(was_denormalized#68L)#61L]
Results [5]: [digest#66, raw_digest#67, gid#65, count(1)#60L AS count(1)#69L, sum(was_denormalized#68L)#61L AS sum(was_denormalized)#71L]

(9) HashAggregate
Input [5]: [digest#66, raw_digest#67, gid#65, count(1)#69L, sum(was_denormalized)#71L]
Keys: []
Functions [4]: [partial_first(count(1)#69L, true) FILTER (WHERE (gid#65 = 0)), partial_first(sum(was_denormalized)#71L, true) FILTER (WHERE (gid#65 = 0)), partial_count(digest#66) FILTER (WHERE (gid#65 = 1)), partial_count(raw_digest#67) FILTER (WHERE (gid#65 = 2))]
Aggregate Attributes [6]: [first#74L, valueSet#75, first#76L, valueSet#77, count#78L, count#79L]
Results [6]: [first#80L, valueSet#81, first#82L, valueSet#83, count#84L, count#85L]
"""


def test_normalize_canonicalizes_grouping_set_gids() -> None:
    assert _CAPTURE_A != _CAPTURE_B
    assert normalize(_CAPTURE_A) == normalize(_CAPTURE_B)


def test_normalize_keeps_a_real_gid_change() -> None:
    # counting digest under raw_digest's grouping set is a different plan
    swapped = _CAPTURE_A.replace(
        "partial_count(digest#25) FILTER (WHERE (gid#23 = 2))",
        "partial_count(digest#25) FILTER (WHERE (gid#23 = 1))",
    )
    assert swapped != _CAPTURE_A
    assert normalize(swapped) != normalize(_CAPTURE_B)


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
