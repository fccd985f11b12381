"""Order and closure contract of the query registry.

``registry.query_names()`` lists every oracle-bearing query in
registration order, then every rows-only query in registration order,
so a bounded prefix of it (a correctness gate's window) is fully
hash-checkable against the DuckDB oracle.
"""

from pathlib import Path

from weather_data_data_pipeline_spark import registry

WINDOW = 50


def test_rows_only_never_in_gate_window():
    """VERDICT r8 ask #3: a rows-only query sampled by the gate window
    records `err: no_oracle` — the window prefix must therefore be
    100% oracle-bearing (188 oracle queries > the ~50 window, so no
    slot is wasted either)."""
    oracles = registry.oracle_sql()
    window = registry.query_names()[:WINDOW]
    offenders = [n for n in window if n not in oracles]
    assert not offenders, (
        f"rows-only queries inside the gate window: {offenders}"
    )
    # stronger: every oracle-bearing query precedes every rows-only one
    names = registry.query_names()
    last_oracle = max(i for i, n in enumerate(names) if n in oracles)
    first_rows_only = min(
        (i for i, n in enumerate(names) if n not in oracles),
        default=len(names),
    )
    assert last_oracle < first_rows_only


def test_ordering_preserves_full_surface():
    # Reordering must not drop or duplicate anything.
    names = registry.query_names()
    assert len(names) == len(set(names))
    assert set(names) == set(registry.queries())
    # every oracle key is a registered query
    assert set(registry.oracle_sql()) <= set(names)
    # within each group, oracle-bearing and rows-only, registration order
    oracles = registry.oracle_sql()
    registered = list(registry._REGISTRY)
    assert names == [n for n in registered if n in oracles] + [
        n for n in registered if n not in oracles
    ]


def test_each_name_binds_distinct_function():
    """Guard against stacked @register decorators binding two names to
    one function (the r5 bpe_token_budget/doremi_domain_weights mixup —
    ADVICE r5 #1). registry.register also raises at import time; this
    pins the invariant over the loaded surface."""
    seen: dict[int, str] = {}
    for name in registry.query_names():
        fn = registry.get_query(name).fn
        assert id(fn) not in seen, (
            f"{name} and {seen[id(fn)]} are bound to the same function"
        )
        seen[id(fn)] = name


def test_rows_only_queries_declare_resolvable_closure():
    """VERDICT r3 ask #5: every oracle-less query must name either an
    oracle-checked registered TWIN (portable replay of the same
    algorithm) or a tests/ file that pins it to ground truth/bounds —
    so future rounds don't re-litigate the rows-only set."""
    oracles = registry.oracle_sql()
    for name in registry.query_names():
        q = registry.get_query(name)
        if q.oracle is not None:
            continue
        vb = q.verified_by
        assert vb, f"rows-only query {name} declares no verified_by"
        if vb.startswith("tests/"):
            assert Path(vb).is_file(), f"{name}: {vb} does not exist"
        else:
            assert vb in oracles, (
                f"{name}: twin {vb} is not an oracle-checked registered query"
            )


def test_rows_only_closures_stay_fresh():
    """A rows-only query rests on its verified_by closure, so a tests/
    closure must actually reference the query or its function (pytest
    re-runs it every time, so reference == re-verification). A twin
    closure is oracle-checked itself (see the test above)."""
    for name in registry.query_names():
        q = registry.get_query(name)
        if q.oracle is not None:
            continue
        vb = q.verified_by
        if vb.startswith("tests/"):
            text = Path(vb).read_text()
            assert name in text or q.fn.__name__ in text, (
                f"{name}: closure file {vb} never references the query — "
                "the pin is not actually re-run against it"
            )
