"""Driver-contract invariants: ``__spark_entry__`` exposes every registered
key once, in registration order, with an oracle for every oracled key; and
every declared oracle stays hash-safe, tie-safe and fast for the driver's
value comparison."""

from __future__ import annotations

from debias_spark.registry import load_all_queries


def test_priority_ordering_is_total_permutation():
    """queries() is the registry in registration order (so no duplicates
    and no missing key), and oracle_sql() covers exactly the oracled keys."""
    import __spark_entry__ as entrymod

    specs = load_all_queries()
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    assert list(qs) == list(specs)
    assert set(osql) == {k for k, s in specs.items() if s.oracle is not None}
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) for sql in osql.values())


def test_every_key_has_callable_and_section():
    for name, spec in load_all_queries().items():
        assert callable(spec.fn), name
        assert spec.section, name
        if spec.oracle is not None:
            assert "SELECT" in spec.oracle.upper(), name


# Types the driver's value-hash serializes differently from Spark's output
# even when every value is numerically identical (round-3 adjudication:
# embedding_quantize_int8 / tpch_q11 false hash-fails — DuckDB sum(BIGINT)
# and list_sum return HUGEINT).  Oracles must CAST these to BIGINT/DOUBLE.
_BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT")


def test_no_oracle_returns_hugeint_or_decimal():
    """Execute every oracle's type signature at sf0.001 and assert no result
    column carries a DuckDB type whose cell serialization diverges from the
    Spark-side long/double (the round-3 false-hash-fail class)."""
    from debias_spark.testing import duck_connection

    con = duck_connection("/root/testdata/sf0.001")
    bad = []
    for name, spec in load_all_queries().items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ).upper()
            if any(b in t for b in _BANNED_DUCK_TYPES):
                bad.append((name, col, t))
    assert not bad, f"oracles emitting driver-hash-unsafe types: {bad}"


def test_no_oracle_rounds_a_double_mean():
    """Regression guard for the rounding-tie class (round-5 Y33): Spark's
    round() HALF_UPs the shortest-decimal repr while DuckDB rounds the
    binary double, so `round(avg(<double>))` oracle pairs diverge whenever
    the mean lands on an exact .xx5 decimal tie.  The sanctioned emission
    is the floor-eps integer recipe `floor(x*scale + 0.5 + 1e-9)`
    (llm_ops13.py flesch) — assert no declared oracle still carries the
    fragile form (stddev/var share the same many-term-double risk)."""
    import re

    fragile = re.compile(r"round\s*\(\s*(avg|mean|stddev|var_samp|var_pop)\s*\(", re.I)
    bad = [
        name
        for name, spec in load_all_queries().items()
        if spec.oracle is not None and fragile.search(spec.oracle)
    ]
    assert not bad, f"oracles still using round(avg/stddev(...)): {bad}"


def test_no_oracle_exceeds_runtime_ceiling():
    """Execute every oracle at sf0.01 (the driver's own t2 scale) and
    assert none takes more than 5 s.  This is the regression guard for
    the round-4 CTE-inlining class: DuckDB re-evaluates an inlined CTE
    per reference, so an unrolled iterative oracle whose round CTEs are
    multi-referenced blows up exponentially in rounds (k-core measured
    112 s, BPE 9.3 s — both now AS MATERIALIZED and ~0.1 s).  Normal
    oracles run well under 1 s at this scale; 5 s leaves margin for a
    loaded host while still catching any exponential chain."""
    import time

    from debias_spark.testing import duck_connection

    con = duck_connection("/root/testdata/sf0.01")
    slow = []
    for name, spec in load_all_queries().items():
        if spec.oracle is None:
            continue
        t0 = time.perf_counter()
        con.sql(spec.oracle).fetchall()
        dt = time.perf_counter() - t0
        if dt > 5.0:
            # the ceiling is load-sensitive: a legitimately ~1s oracle can
            # flake past 5s on a busy host.  The exponential-blowup class
            # this guards against (k-core 112s, BPE 9.3s pre-MATERIALIZED)
            # doesn't pass on retry — so retry once before declaring slow.
            t0 = time.perf_counter()
            con.sql(spec.oracle).fetchall()
            dt = time.perf_counter() - t0
            if dt > 5.0:
                slow.append((name, round(dt, 2)))
    assert not slow, f"oracles over the 5s ceiling at sf0.01 (after retry): {slow}"


def test_floor_eps_oracles_keep_boundary_margin():
    """The Y33 rounding-tie regression gate, generalized: no oracle that
    emits integers via floor(x*scale + 0.5 + 1e-9) may have a
    TRANSCENDENTAL-math value within 2e-9 of a floor boundary on the
    current testdata (Java Math.log and C libm can disagree in the last
    ulp, so a near-boundary log-derived value could floor differently
    per engine).  Rational near-boundary hits are the benign exact-tie
    class — both engines evaluate them bit-identically and the eps
    breaks the tie consistently — and are reported, not failed, by
    tools/float_margin_audit.py."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.float_margin_audit import audit

    fragile, _ties = audit("/root/testdata/sf0.001")
    assert not fragile, (
        f"transcendental floor-eps oracles within 2e-9 of a boundary: "
        f"{fragile} — widen the emission scale or restate the formula "
        f"over integers (see tools/float_margin_audit.py)"
    )
