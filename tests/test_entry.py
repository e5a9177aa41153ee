"""Smoke: driver contract (entry + registry shape)."""

from __future__ import annotations

import __spark_entry__ as e


def test_registry_shape() -> None:
    q = e.queries()
    o = e.oracle_sql()
    assert len(q) >= 40
    assert set(o) <= set(q)
    # every oracle-backed query is the majority of the surface
    assert len(o) >= 30


def test_attestation_ordering() -> None:
    """queries() iteration order spends a budget-capped verifier's window on
    the least-verified surface: last-round fails first, then never-attested,
    then greens stalest-first."""
    from pythonmapreduce_spark.plans import registry

    names = list(e.queries())
    # same key set as the registry, just reordered
    assert set(names) == set(registry.QUERIES)
    state = registry._attestation_state()
    if not state:  # no CORRECTNESS files present (fresh clone) — order is moot
        return
    tiers = []
    for n in names:
        st = state.get(n)
        if st and not st[1]:
            tiers.append(0)
        elif st is None or (st[2] and n in registry.ORACLES):
            # never attested, or only rows-only evidence for a query that
            # has since gained a full oracle (unattested-in-current-form)
            tiers.append(1)
        else:
            tiers.append(2)
    # tiers must be monotonically non-decreasing
    assert tiers == sorted(tiers)
    # within the green tier, STALEST attestation first (the round-9+
    # rotation: once everything is attested once, each window re-attests
    # the rows whose last driver check is oldest)
    green_rounds = [
        state[n][0] for n, t in zip(names, tiers) if t == 2 and n in state
    ]
    assert green_rounds == sorted(green_rounds)


def test_entry_flagship(spark) -> None:
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"r_name", "n_name", "revenue", "n_items"} == set(df.columns)
