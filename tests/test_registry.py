"""Registry-ordering invariants: the driver samples a PREFIX of
``ordered_queries()``, so the properties that make that sample useful
are contracts, not accidents — pin them."""

from __future__ import annotations

import pytest

from sql_database_engine_spark import operators

operators.load_all()

PREFIX = 50  # the driver's per-round sample size observed so far

# The registry's own notion of "already driver-checked" (including its
# malformed-file tolerance and the rewritten-since-sampled carve-out):
# pinning the ordering against the same helper it sorts by keeps the
# test from drifting when that logic evolves.
_driver_checked = operators._driver_checked


def _ordered():
    return list(operators.ordered_queries())


def test_ordering_is_lossless_and_deterministic():
    names = _ordered()
    assert set(names) == set(operators.QUERIES)
    assert names == _ordered()


def test_prefix_spans_operator_families():
    """The sample window must span the operator surface — but the
    bound has to be ADAPTIVE (VERDICT r7 item 2): while >PREFIX
    queries are still unchecked, every slot rightly goes to the
    never-sampled backlog, which late in the drain survives in only a
    few families (r7 close: 71 queries across 11 families), so a fixed
    `>= 12` fails the moment the driver's own new CORRECTNESS file
    lands. Once the drain converges the prefix mixes in the rotating
    checked tail and the full 12-family bar applies again."""
    def fam(n):
        return operators.QUERIES[n].__module__.rsplit(".", 1)[-1]

    names = _ordered()
    prefix = names[:PREFIX]
    fams = {fam(n) for n in prefix}
    seen = _driver_checked()
    unchecked = [n for n in names if n not in seen]
    if len(unchecked) >= PREFIX:
        bound = min(12, len({fam(n) for n in unchecked}))
    else:
        # Converged-drain state (found by the round-8 r9-simulation
        # BEFORE it could trip live): the rotation fills leftover
        # slots from the OLDEST round-groups, whose family spread is
        # whatever those early rounds happened to sample — a fixed 12
        # would trip the moment the drain converges, the r7-lesson
        # failure mode on a new branch. Derive the expected span by
        # replaying the rotation's own guarantee: tier 3 consumes
        # round-groups oldest-first, round-robin over families in
        # sorted order, so k picks from a group cover its first
        # min(k, F) sorted families.
        rounds = operators._sampled_rounds()
        covered = {fam(n) for n in unchecked}
        slots = PREFIX - len(unchecked)
        checked = [n for n in names if n in seen]
        for rnd in sorted({rounds.get(n, 0) for n in checked}):
            if slots <= 0:
                break
            grp = [n for n in checked if rounds.get(n, 0) == rnd]
            grp_fams = sorted({fam(n) for n in grp})
            covered |= set(grp_fams[:min(slots, len(grp_fams))])
            slots -= min(slots, len(grp))
        bound = min(12, len(covered))
    assert len(fams) >= bound, (
        f"prefix covers only families {sorted(fams)} (bound {bound})")


def test_prefix_prioritizes_never_checked_queries():
    """Round keying: with the committed CORRECTNESS files in place and
    >PREFIX queries still unchecked, nearly every prefix slot must go
    to a query with no prior hash-checked driver row (a handful of
    flagship re-pins are the documented exception)."""
    seen = _driver_checked()
    names = _ordered()
    unchecked_total = sum(n not in seen for n in names)
    if unchecked_total < PREFIX:
        return  # late-round state: rotation has converged
    prefix_unchecked = sum(n not in seen for n in names[:PREFIX])
    assert prefix_unchecked >= PREFIX - 5, (
        f"only {prefix_unchecked}/{PREFIX} prefix slots are"
        " never-checked queries")


def test_oracle_backed_sorts_before_rows_only_within_prefix():
    prefix = _ordered()[:PREFIX]
    rows_only = [n for n in prefix if n not in operators.ORACLES]
    # rows-only entries may appear (flagship pins), but oracle-backed
    # queries must dominate any sample window.
    assert len(rows_only) <= 5


def test_oracle_output_types_survive_pandas_canonicalization():
    """Bind-time type gate (VERDICT r6 item 2): every oracle's output
    columns must be types whose pandas materialization matches the
    Spark side's. DuckDB HUGEINT / UHUGEINT / DECIMAL wider than int64
    all become float64 (lossy past 2^53) while Spark's LONG / DECIMAL
    stay int64 / Decimal objects — equal values, different canonical
    reprs, red driver row (the `pack_sequences_greedy` class). Binding
    is lazy — the whole registry audits in seconds with no execution."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from oracle_type_audit import bind_gate

    from sql_database_engine_spark.catalog import register_duck_views

    con = duckdb.connect()
    sf = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    register_duck_views(con, sf)
    violations, errors = bind_gate(con, operators.ORACLES)
    assert not errors, f"oracles failed to bind: {errors}"
    assert not violations, (
        "oracle output columns too wide for the driver's pandas "
        f"canonicalization (cast to BIGINT or VARCHAR): {violations}")


def test_prefix_pins_self_clear_once_driver_checked(monkeypatch):
    """Round-6 mechanism: prefix_head pins evaporate on their own once
    their driver row lands, so the round-opening stale-pin commit —
    and the invariant trip it fixed in rounds 5 and 6 — cannot recur.

    Hardening lineage: the r8 trip (VERDICT r8 item 1) taught that the
    simulation must widen _sampled_rounds ALONGSIDE _driver_checked.
    The r9 trip (VERDICT r9 item 1) taught that the live-pin SUPPLY
    must be drain-state-independent: r8's "hide the newest round" only
    exposes live pins while that round contains FIRST-TIME rows — after
    the drain converges (round 9: all 413 queries green) every round is
    pure re-entries, so hiding one exposes nothing and the premise
    assertion fails. Manufacture never-checked names in a way no drain
    state can defeat: pick victims and delete their rows from EVERY
    round in the simulated view."""
    real = operators._correctness_rows()
    assert real, "committed CORRECTNESS files are this test's premise"
    checked_now = sorted(operators._driver_checked())
    assert len(checked_now) >= 8, "premise: a mostly-checked registry"
    # spread the victims across the checked set so the family-span and
    # rotation invariants see a realistic mix, not 8 neighbours
    step = max(1, len(checked_now) // 8)
    victims = set(checked_now[::step][:8])
    hidden = {r: {n: row for n, row in rows.items() if n not in victims}
              for r, rows in real.items()}
    monkeypatch.setattr(operators, "_correctness_rows",
                        lambda: {r: dict(v) for r, v in hidden.items()})
    baseline = operators._driver_checked()
    assert not (victims & baseline), "victims must read as never-checked"
    head = [n for n in _ordered()[:10] if n not in baseline]
    assert head, "deleting names from every round must expose live pins"
    # Simulate their green rows landing the way the REAL flow does:
    # checked AND sampled in a strictly newer round — never one without
    # the other (the r8 incompleteness).
    nxt = max(real) + 1
    sim_rounds = dict(operators._sampled_rounds(),
                      **{n: nxt for n in head})
    monkeypatch.setattr(operators, "_driver_checked",
                        lambda: baseline | set(head))
    monkeypatch.setattr(operators, "_sampled_rounds",
                        lambda: dict(sim_rounds))
    names = _ordered()
    assert set(names) == set(operators.QUERIES)  # still lossless
    # every formerly-pinned name must now sort with the checked tail,
    # not occupy prefix slots
    prefix = names[:PREFIX]
    assert not (set(head) & set(prefix)), (
        f"converted pins still burn prefix slots: {set(head) & set(prefix)}")
    # and within the checked tail they sort by RECENCY: every checked
    # name with a strictly older round precedes every converted pin
    # (they carry the newest round by construction).
    checked_pos = {n: i for i, n in enumerate(names)
                   if n in baseline | set(head)}
    oldest_pin_pos = min(checked_pos[n] for n in head)
    staler = [n for n in checked_pos
              if sim_rounds.get(n, nxt) < nxt]
    late_staler = [n for n in staler if checked_pos[n] > oldest_pin_pos]
    assert not late_staler, (
        f"converted pins outrank staler checked names: {late_staler[:5]}")


def test_rotation_defaults_unrounded_checked_names_to_freshest(monkeypatch):
    """VERDICT r8 item 7: a checked-but-unrounded name (unreachable in
    the real flow, but exactly what an incomplete simulation produces)
    must be treated as freshly verified — sorted into the NEWEST
    round-group of the rotation — never as infinitely stale."""
    names_all = sorted(operators.QUERIES)
    orphan = names_all[0]
    rounds = {n: (i % 5) + 1 for i, n in enumerate(names_all)}
    del rounds[orphan]  # checked, but no sampled round on record
    monkeypatch.setattr(operators, "_sampled_rounds", lambda: dict(rounds))
    monkeypatch.setattr(operators, "_driver_checked",
                        lambda: set(names_all))
    ordered = list(operators.ordered_queries())
    assert set(ordered) == set(names_all)
    newest = max(rounds.values())
    first_newest = min(i for i, n in enumerate(ordered)
                       if rounds.get(n) == newest)
    assert ordered.index(orphan) >= first_newest, (
        "unrounded checked name sorted stale-first instead of freshest")


@pytest.mark.parametrize("shape", ["reentries", "first_time"])
def test_registry_survives_next_round_artifact(monkeypatch, shape):
    """The class-killer for the failure mode that cost a red pytest in
    rounds 7, 8 AND 9: an ordering invariant that silently goes stale
    the moment the driver's NEXT CORRECTNESS file lands. Inject a
    synthetic next-round artifact (the current prefix, all green) and
    re-run every live ordering invariant under it. Parameterized over
    BOTH round shapes (VERDICT r9 item 1): ``reentries`` is the
    converged-drain steady state (every row a staleness-rotation
    re-verify of an already-green name — what every real future round
    looks like); ``first_time`` strips the prefix names from all
    committed rounds first so the synthetic round is their first row
    (the pre-convergence shape). The r9 trip happened because the test
    only ever exercised one of these shapes at a time."""
    real = operators._correctness_rows()
    nxt = max(real, default=0) + 1
    green_row = {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None}
    prefix_names = set(_ordered()[:PREFIX])
    if shape == "first_time":
        synthetic = {r: {n: row for n, row in rows.items()
                         if n not in prefix_names}
                     for r, rows in real.items()}
    else:
        synthetic = {r: dict(rows) for r, rows in real.items()}
    synthetic[nxt] = {n: dict(green_row) for n in sorted(prefix_names)}
    monkeypatch.setattr(operators, "_correctness_rows",
                        lambda: {r: dict(v) for r, v in synthetic.items()})
    test_ordering_is_lossless_and_deterministic()
    test_prefix_spans_operator_families()
    test_prefix_prioritizes_never_checked_queries()
    test_oracle_backed_sorts_before_rows_only_within_prefix()
    test_prefix_pins_self_clear_once_driver_checked(monkeypatch)


def test_checked_tail_rotates_by_staleness(monkeypatch):
    """Post-drain regime (round 8, VERDICT r7 item 4): once every
    query is driver-checked, prefix slots re-verify the STALEST green
    rows first — the ordering's checked tier must be non-decreasing in
    last-sampled round. Simulated converged state: all queries
    checked, rounds assigned synthetically."""
    names_all = list(operators.QUERIES)
    rounds = {n: (i % 5) + 1 for i, n in enumerate(sorted(names_all))}
    monkeypatch.setattr(operators, "_sampled_rounds", lambda: dict(rounds))
    monkeypatch.setattr(operators, "_driver_checked",
                        lambda: set(names_all))
    ordered = list(operators.ordered_queries())
    assert set(ordered) == set(names_all)  # rotation stays lossless
    seq = [rounds[n] for n in ordered]
    assert seq == sorted(seq), (
        "checked tail is not ordered oldest-sampled-first")


def test_fingerprint_drift_reenters_prefix(monkeypatch):
    """The mechanical rewritten-since-sampled invariant: corrupting a
    checked query's committed fingerprint stamp (simulating a code or
    oracle edit after its green row landed) must drop it from
    _driver_checked() and move it into the never-checked tier of the
    ordering."""
    baseline = _driver_checked()
    stamps = operators._fingerprint_stamps()
    victim = sorted(n for n in baseline
                    if n in operators.QUERIES and n in stamps)[0]
    assert stamps[victim] == operators.query_fingerprint(victim), (
        "shipped tree must have zero drift for this test's premise")
    bad = dict(stamps)
    bad[victim] = "0" * 64
    monkeypatch.setattr(operators, "_fingerprint_stamps", lambda: bad)
    now = operators._driver_checked()
    assert victim not in now
    ordered = list(operators.ordered_queries())
    n_unchecked = sum(n not in now for n in ordered)
    assert ordered.index(victim) < n_unchecked, (
        "drifted query did not re-enter the unchecked tier")


def test_fingerprint_stamps_describe_registered_queries():
    """Every committed stamp names a live registered query (retired
    names are pruned by --stamp) and is a sha256 hex digest."""
    stamps = operators._fingerprint_stamps()
    assert stamps, "QUERY_FINGERPRINTS.json missing or empty"
    unknown = sorted(set(stamps) - set(operators.QUERIES))
    assert not unknown, f"stamps for unregistered queries: {unknown}"
    assert all(len(v) == 64 and set(v) <= set("0123456789abcdef")
               for v in stamps.values())


def test_every_query_lives_in_a_family_module():
    """The family is the defining module's name, so a query registered
    from the package itself (``operators/__init__.py``) would form a
    bogus ``operators`` family; every registration goes through
    ``@query`` in ``operators/<family>.py``."""
    pkg = operators.__name__
    stray = sorted(n for n, fn in operators.QUERIES.items()
                   if fn.__module__.rsplit(".", 1)[0] != pkg)
    assert not stray, f"queries outside operators/<family>.py: {stray}"


def test_duplicate_registration_raises():
    """Registering a taken name is a hard error and leaves both
    registries untouched."""
    name = next(iter(operators.QUERIES))
    fn, oracle = operators.QUERIES[name], operators.ORACLES[name]
    with pytest.raises(ValueError, match="duplicate query registration"):
        operators.query(name, oracle="SELECT 1")(lambda spark, sf_dir: None)
    assert operators.QUERIES[name] is fn
    assert operators.ORACLES[name] == oracle
