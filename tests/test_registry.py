"""Driver-contract registry invariants: every oracle belongs to a
registered query, the rows-only set is exactly the documented one, each
name registers once, and the gate priority heads the registration
order."""

import pytest

import __spark_entry__ as entry


def test_oracles_subset_of_queries():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q), sorted(set(o) - set(q))
    # the documented rows-only entry: murmur3 shingle hashing is not
    # SQL-replayable (its portable-hash twin minhash_dedup is oracled);
    # the full-length IIR twins gained un-sliced oracles in round 7
    assert sorted(set(q) - set(o)) == ["minhash_dedup_prod"]


def test_gate_window_is_first_fifty_priority():
    q = entry.queries()
    names = list(q)
    prio = entry._GATE_PRIORITY
    assert len(prio) == len(set(prio)), "duplicate priority entries"
    missing = [p for p in prio if p not in q]
    assert not missing, missing
    assert names[: len(prio)] == prio


def test_every_oracle_is_nonempty_sql():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_registered_callables_are_distinct():
    q = entry.queries()
    fns = list(q.values())
    assert len(fns) == len(set(id(f) for f in fns))


def test_second_registration_raises():
    """A second registration of a name would silently shadow the first
    (a rename collision did exactly this once): register refuses it."""
    from openseize_spark import registry

    before = registry.builders()
    with pytest.raises(ValueError, match="pricing_summary"):
        registry.register("pricing_summary", lambda spark, sf_dir: None, None)
    assert registry.builders() == before
    assert "pricing_summary" in entry.oracle_sql()


def test_one_register_call_per_query():
    """Every query is one ``register`` call in a registry module."""
    import re
    from pathlib import Path

    mods = Path(entry.__file__).parent / "openseize_spark" / "registry"
    calls = sum(
        len(re.findall(r"^register\(", p.read_text(), re.M))
        for p in mods.glob("*.py")
    )
    assert calls == len(entry.queries())


def test_market_basket_queries_have_no_pair_self_join(spark):
    """Scale contract for the in-row pair-expansion rewrites: the
    bounded-set co-occurrence queries must generate pairs from one
    collect_set aggregate, never a self-join of the exploded relation
    (the shape they replaced exchanged the vocabulary/order relation
    2-3 extra times)."""
    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    for name in ("brand_cooccurrence", "link_prediction", "word_pmi"):
        df = qs[name](spark, sf)
        df.write.mode("overwrite").format("noop").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the collect_set aggregate lives inside the checkpoint-build
        # job; the final plan must show the in-row pair explode and no
        # sort-merge join anywhere (totals ride broadcast joins)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "Generate explode" in plan, (name, plan)
