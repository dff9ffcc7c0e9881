"""Structural invariants of the driver-gate rotation (queries.py's
policy block made machine-checked): the partition arithmetic, the
50-row driver cap, and the rows-only twin constraint hold for
WHATEVER the current DRIVER_OMIT says — so the per-round gate edit
can never silently strand a query or a proof (the checks each round
ran by hand, r12 verdict #2, now permanent)."""

import pathlib

from willa_spark.queries import (
    DRIVER_OMIT,
    EXHIBITION,
    ORACLE_SQL,
    QUERIES,
    ROWS_ONLY_TWINS,
    driver_oracles,
    driver_queries,
)


def test_omit_set_names_registered_queries():
    """Every omitted name is a registered query — a typo'd or removed
    name in DRIVER_OMIT silently widens the gate past the cap."""
    assert DRIVER_OMIT <= set(QUERIES), DRIVER_OMIT - set(QUERIES)


def test_gate_fits_the_driver_cap():
    """The driver records at most 50 oracle rows (in registration
    order); a gate past 50 silently drops the newest registrations
    from the correctness record."""
    gate = driver_queries()
    assert len(gate) <= 50, len(gate)
    assert set(driver_oracles()) <= set(gate)


def test_every_oracle_names_a_registered_query():
    assert set(ORACLE_SQL) <= set(QUERIES), set(ORACLE_SQL) - set(QUERIES)


def test_rows_only_twin_map_is_exact():
    """ROWS_ONLY_TWINS covers EXACTLY the registered no-oracle names
    (an unlisted rows-only row has no declared proof; a stale entry
    claims one that no longer exists), and every declared twin is a
    registered oracle-bearing query."""
    rows_only = {n for n in QUERIES if n not in ORACLE_SQL}
    assert set(ROWS_ONLY_TWINS) == rows_only, (
        set(ROWS_ONLY_TWINS) ^ rows_only
    )
    for name, twins in ROWS_ONLY_TWINS.items():
        assert twins, name
        for twin in twins:
            assert twin in QUERIES, (name, twin)
            assert twin in ORACLE_SQL, (name, twin)


def test_rows_only_gate_names_carry_their_twin_in_gate():
    """THE twin constraint: a rows-only name may be driver-visible
    only alongside at least one oracle-bearing family twin — a gate
    where every twin rests records a weaker rows-only row with no
    same-round hash-grade proof of the family."""
    gate = set(driver_queries())
    for name, twins in ROWS_ONLY_TWINS.items():
        if name in gate:
            assert any(t in gate for t in twins), (
                f"rows-only gate name {name} with NO family twin of "
                f"{twins} in the same gate — the FORWARD SCHEDULE's "
                "twin keeps were not honored"
            )


def test_exhibition_rows_keep_their_proof():
    """The exhibition retirement (capacity policy (a), r14) trades
    bench seconds, never correctness coverage: every exhibition name
    is a registered query WITH a DuckDB oracle (so the automatic
    omitted-parity pytest pins it every round) and rests in
    DRIVER_OMIT outside exhibition rounds (an exhibition round moves
    them into the gate and sets SPARK_GRAFT_EXHIBITION for bench)."""
    assert EXHIBITION <= set(QUERIES), EXHIBITION - set(QUERIES)
    assert EXHIBITION <= set(ORACLE_SQL), EXHIBITION - set(ORACLE_SQL)
    assert EXHIBITION <= DRIVER_OMIT or any(
        n in driver_queries() for n in EXHIBITION
    ), "exhibition rows must rest OR be deliberately gate-visible"
    # no rows-only name may ever be exhibited: its twin proof cadence
    # is the rotation's, not the exhibition's
    assert not (EXHIBITION & set(ROWS_ONLY_TWINS))


def test_exhibition_round_flag_consistency():
    """On a non-exhibition round the flag is off and the rows rest;
    an exhibition round must flip BOTH (flag on for bench, rows into
    the gate for the driver's oracle record) — a one-sided edit
    either benches rows with no same-round green proof, or gates
    them while the bench record silently omits their prices."""
    from willa_spark.queries import EXHIBITION_ROUND

    if EXHIBITION_ROUND:
        assert EXHIBITION <= set(driver_queries()), (
            "EXHIBITION_ROUND is on but the rows are not gate-visible"
        )
    else:
        assert EXHIBITION <= DRIVER_OMIT, (
            "exhibition rows gate-visible with the flag off — bench "
            "would omit rows the driver records this round"
        )


def test_exhibition_round_dry_run_both_directions():
    """The r18 exhibition-round mechanics, exercised BEFORE that round
    runs them for real (r14 verdict #4): the round is two edits — flip
    queries.EXHIBITION_ROUND and move the 10 retirees from DRIVER_OMIT
    into the gate — and this derives BOTH states end-to-end through
    the real bench-list function so the first real exhibition round is
    a config edit, not an adventure."""
    from bench import HEADLINE, derive_bench_list

    # --- today's state (flag off): the retirees are skipped ---------
    off, stale = derive_bench_list(
        HEADLINE, QUERIES, EXHIBITION, False, None
    )
    assert not stale
    assert not (set(off) & EXHIBITION)
    assert set(off) == set(QUERIES) - EXHIBITION
    # the ad-hoc env override alone restores them (any round)
    env, _ = derive_bench_list(HEADLINE, QUERIES, EXHIBITION, False, "1")
    assert set(env) == set(QUERIES)

    # --- the r18 state (flag on): every retiree benches -------------
    on, stale = derive_bench_list(HEADLINE, QUERIES, EXHIBITION, True, None)
    assert not stale
    assert EXHIBITION <= set(on)
    assert set(on) == set(QUERIES)
    # curated-prefix order is preserved in both states (cross-round
    # per-query comparability): the off-list is the on-list filtered
    assert off == [n for n in on if n not in EXHIBITION]

    # --- the r18 GATE edit, simulated: retirees leave DRIVER_OMIT ---
    omit_r18 = DRIVER_OMIT - EXHIBITION
    gate_r18 = set(QUERIES) - omit_r18
    assert EXHIBITION <= gate_r18
    # moving 10 rows in pushes today's full gate past the driver cap,
    # so the REAL r18 edit must also rest (gate_r18 - 50) names — the
    # arithmetic the policy block's forward schedule budgets for
    assert len(gate_r18) == len(driver_queries()) + len(EXHIBITION)
    # every retiree re-enters the gate WITH its oracle (hash-grade
    # rows, not rows-only), and none ever needs a twin keep
    for n in EXHIBITION:
        assert n in ORACLE_SQL, n
        assert n not in ROWS_ONLY_TWINS, n


def test_fast_gate_skip_list_names_real_tests():
    """Every fast-gate skip entry (conftest.SLOW_FULL_SUITE_ONLY) must
    name a test that still collects — a renamed/removed test would
    otherwise leave a stale entry silently skipping nothing while the
    renamed (slow) test re-enters the driver's budgeted gate."""
    import subprocess
    import sys

    from tests.conftest import SLOW_FULL_SUITE_ONLY

    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q",
         "--no-header", "-p", "no:cacheprovider"],
        capture_output=True, text=True, timeout=300,
        env={**__import__("os").environ, "WILLA_FULL_SUITE": "1"},
        cwd=pathlib.Path(__file__).resolve().parents[1],
    )
    assert out.returncode == 0, out.stderr or out.stdout[-4000:]
    collected = set(out.stdout.splitlines())
    missing = {t for t in SLOW_FULL_SUITE_ONLY if t not in collected}
    assert not missing, missing


def test_fast_gate_key_ignores_the_rootdir():
    """The skip matcher keys a test the same whether pytest's rootdir
    is the repo root or ``tests/`` itself (the nodeid differs)."""
    from tests.conftest import SLOW_FULL_SUITE_ONLY, fast_gate_key

    tests_dir = pathlib.Path(__file__).resolve().parent
    listed = "tests/test_lm.py::test_kn_bigram_python_differential"
    assert listed in SLOW_FULL_SUITE_ONLY
    path = tests_dir / "test_lm.py"
    for nodeid in (
        "tests/test_lm.py::test_kn_bigram_python_differential",
        "test_lm.py::test_kn_bigram_python_differential",
    ):
        assert fast_gate_key(path, nodeid) == listed
    assert (
        fast_gate_key(tests_dir / "test_pq.py", "test_pq.py::test_x[sf0.1]")
        == "tests/test_pq.py::test_x[sf0.1]"
    )
