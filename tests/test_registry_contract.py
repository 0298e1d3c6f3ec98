"""The driver contract (``__spark_entry__``) re-exposes the query registry
in name order, and every oracle-exempt query names a registered,
oracle-backed companion."""

from __future__ import annotations

import __spark_entry__ as entry
from kinesis_spark.queries import get_registry

EXEMPT_COMPANIONS = {
    "d8_minhash_lsh_mllib": "d8c_mllib_pairs_exact_jaccard",
    "sim5_brp_ann_mllib": "sim5c_brp_recall_vs_exact",
}


def test_contract_serves_the_registry_in_name_order():
    reg = get_registry()
    assert list(entry.queries()) == sorted(reg)
    oracles = entry.oracle_sql()
    assert list(oracles) == sorted(n for n, q in reg.items() if q.oracle)
    for name, sql in oracles.items():
        assert sql == reg[name].oracle, name
    assert entry.companions() == EXEMPT_COMPANIONS


def test_oracle_exempt_queries_have_oracle_backed_companions():
    """d8/sim5 are randomized by design; each one's correctness record
    is its deterministic companion's exact oracle match."""
    reg = get_registry()
    exempt = {
        n for n, q in reg.items() if q.oracle is None and q.companion
    }
    assert exempt == set(EXEMPT_COMPANIONS)
    for n in exempt:
        comp = reg[n].companion
        assert comp in reg and reg[comp].oracle is not None, (
            n, "companion must be oracle-backed")


def test_companion_names_are_validated():
    """ADVICE r9: a typo'd companion string must raise at registry load,
    not silently park the exempt query with no companion coverage."""
    import pytest

    from kinesis_spark.queries import REGISTRY, Query, _validate_companions

    get_registry()  # ensure modules are loaded and current names validate
    _validate_companions()

    bogus = Query(name="zz_bogus_exempt", spark_fn=lambda s, d: None,
                  oracle=None, companion="zz_no_such_query")
    REGISTRY[bogus.name] = bogus
    try:
        with pytest.raises(ValueError, match="not a registered query"):
            _validate_companions()
        # companion exists but is itself oracle-less -> also invalid
        REGISTRY[bogus.name] = Query(
            name=bogus.name, spark_fn=lambda s, d: None,
            oracle=None, companion="d8_minhash_lsh_mllib")
        with pytest.raises(ValueError, match="no oracle"):
            _validate_companions()
    finally:
        del REGISTRY[bogus.name]
