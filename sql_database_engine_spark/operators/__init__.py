"""Operator inventory: named, oracle-checked DataFrame query builders.

Each operator module registers its queries with :func:`query`, the
only way into the registry. A registered query is a callable
``(spark, sf_dir) -> DataFrame`` paired with the DuckDB-dialect SQL
computing the same result (same column names, bit-identical values —
see ``functions.exact`` for the float-determinism policy). Every query
has an oracle; the streaming twins (``operators/streaming.py``, the
``streaming`` family) drain the incremental engine to a deterministic
result so they are oracle-checked like any batch query.

``__spark_entry__.py`` exposes the union of all registries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str):
    """Register a named query with its DuckDB oracle SQL.

    Duplicate names are a hard error: the registry is a flat
    namespace, and a silent overwrite once shadowed an existing query
    with a same-named new one — both halves of the contract moved
    together, so every differential stayed green while an operator
    quietly vanished."""
    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(existing: {QUERIES[name].__module__})")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn
    return deco


def load_all() -> None:
    """Import every operator module (side effect: registry fills).
    ``streaming`` comes last, so the twins end the registration order."""
    from . import (relational, analytics, windows, setops, scalar, events,  # noqa: F401
                   text, similarity, multimodal, udfs, cdc, timeseries,
                   tpch_extra, training, sketches, quality, corpusstats,
                   graph, streaming)


def _correctness_rows() -> dict[int, dict]:
    """Round number -> parsed ``CORRECTNESS_r{N}.json`` (committed at
    the repo root). Missing/unreadable/odd-shaped files are simply
    skipped (round 1 had none; driver output formats have changed
    between rounds before and must never crash the ordering)."""
    import json
    import re
    from pathlib import Path

    out: dict[int, dict] = {}
    root = Path(__file__).resolve().parents[2]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p.name)
        if not m:
            continue
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            out[int(m.group(1))] = rows
    return out


def _sampled_rounds() -> dict[str, int]:
    """Query name -> latest round with ANY driver row.

    Committed files still hold rows-only rows ("no_oracle") from
    before a query had its oracle. Such a row does NOT count for a
    query that has an oracle NOW: it deserves a real hash-checked
    row."""
    sampled: dict[str, int] = {}
    for rnd, rows in _correctness_rows().items():
        for name, row in rows.items():
            if (isinstance(row, dict) and row.get("err") == "no_oracle"
                    and name in ORACLES):
                continue
            sampled[name] = max(sampled.get(name, 0), rnd)
    return sampled


def _green_in_round(rnd: int) -> set[str]:
    """Names whose row in round ``rnd`` is hash-green (used by
    tools/gen_query_fingerprints.py to stamp only verified code)."""
    rows = _correctness_rows().get(rnd, {})
    return {name for name, row in rows.items()
            if isinstance(row, dict) and row.get("hash_match") is True}


def query_fingerprint(name: str) -> str:
    """sha256 over (implementing function source, oracle SQL) — the
    identity a driver row vouches for. Shared helpers are NOT covered
    (documented approximation, tools/gen_query_fingerprints.py)."""
    import hashlib
    import inspect

    fn = QUERIES[name]
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):  # source unavailable (e.g. frozen)
        src = f"{fn.__module__}.{fn.__qualname__}"
    return hashlib.sha256(
        (src + "\x00" + ORACLES.get(name, "")).encode()).hexdigest()


def _fingerprint_stamps() -> dict[str, str]:
    """Committed ``QUERY_FINGERPRINTS.json``: name -> fingerprint at
    the last tree whose driver row verified it (round-open --stamp
    cadence, see tools/gen_query_fingerprints.py)."""
    import json
    from pathlib import Path

    p = Path(__file__).resolve().parents[2] / "QUERY_FINGERPRINTS.json"
    try:
        d = json.loads(p.read_text())
    except (OSError, ValueError):
        return {}
    return d if isinstance(d, dict) else {}


def _driver_checked() -> set[str]:
    """Query names whose CURRENT code already has a hard-signal driver
    row.

    The driver samples a PREFIX of the registry each round, so queries
    it has already checked should yield their prefix slots to queries
    it has never seen — this is what converts local-suite green into
    driver-verified green across rounds.

    A green row retires the QUERY AS SAMPLED, not its name forever:
    any sampled query whose current :func:`query_fingerprint` differs
    from its committed stamp re-enters the prefix automatically. The
    manual set below remains ONLY as the escape hatch for
    shared-helper edits the per-function fingerprint cannot see; it
    is empty in the steady state."""
    seen = set(_sampled_rounds())
    stamps = _fingerprint_stamps()
    drifted = {n for n in seen
               if n in QUERIES and n in stamps
               and stamps[n] != query_fingerprint(n)}
    # neardup_cluster_assignment reads embedding_neardup_pairs,
    # rewritten as a one-shuffle bucket pairing; minhash_quality_eval
    # reads minhash_lsh_neardup, rewritten the same way.
    rewritten_since_sampled: set[str] = {"neardup_cluster_assignment",
                                         "minhash_quality_eval"}
    return seen - drifted - rewritten_since_sampled


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry reordered so ANY prefix spans the operator surface.

    The correctness driver samples a prefix of the registry in iteration
    order, so plain registration order (module import order) starves
    late-imported families of driver rows. The rules, all mechanical:

    1. Never-checked first: queries without a driver row for their
       current code (:func:`_driver_checked`, which folds in the
       fingerprint-drift re-entry) sort before every checked query.
    2. Within the never-checked tier, a breadth pass (one query per
       family) then a weighted drain (biggest remaining family first).
    3. The checked tail rotates by staleness: oldest last-sampled
       round first, families interleaved within each round.

    Deterministic: dict insertion order + fixed import order + the
    committed correctness files, no hashing.
    """
    seen = _driver_checked()
    families: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        fam = fn.__module__.rsplit(".", 1)[-1]
        families.setdefault(fam, []).append(name)
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    # Never-checked tier. The breadth pass takes a single query per
    # family, so any prefix still spans the operator surface (the
    # test_registry contract). The weighted drain then always takes
    # from the family with the MOST remaining never-checked queries
    # (ties alphabetical): with a fixed ~50-row sample per round,
    # equal-share round-robin would convert the biggest never-sampled
    # pools slowest precisely because they are big; the weighted drain
    # levels the pools instead.
    queues = {fam: [n for n in names if n not in seen]
              for fam, names in families.items()}
    queues = {fam: q for fam, q in queues.items() if q}
    for fam in sorted(queues):  # breadth pass: one per family
        name = queues[fam].pop(0)
        out[name] = QUERIES[name]
    queues = {fam: q for fam, q in queues.items() if q}
    while queues:  # weighted drain: biggest pool first
        fam = min(queues, key=lambda f: (-len(queues[f]), f))
        name = queues[fam].pop(0)
        out[name] = QUERIES[name]
        if not queues[fam]:
            del queues[fam]
    # Staleness rotation: once the never-sampled backlog is smaller
    # than the driver's sample window, the leftover prefix slots must
    # do verification work too — they go to the queries whose green
    # rows are OLDEST (most rounds of code/testdata churn since last
    # re-verified). Group the checked tail by last-sampled round
    # ascending; within a round-group keep the family interleave so
    # any prefix still spans the operator surface.
    rounds = _sampled_rounds()
    # A checked-but-unrounded name defaults to the NEWEST round, not
    # 0: in the real flow "seen" derives from _sampled_rounds so every
    # checked name has a round, but if the two are ever sourced
    # differently (a monkeypatched simulation, say), an unknown-round
    # name must be treated as freshly verified, never as infinitely
    # stale — the stale default would rotate fresh names straight back
    # into the prefix.
    newest = max(rounds.values(), default=0)
    by_round: dict[int, dict[str, list[str]]] = {}
    for fam, names in families.items():
        for n in names:
            if n in seen:
                by_round.setdefault(rounds.get(n, newest), {}) \
                    .setdefault(fam, []).append(n)
    for rnd in sorted(by_round):
        qlist = [by_round[rnd][f] for f in sorted(by_round[rnd])]
        while any(qlist):
            for q in qlist:
                if q:
                    name = q.pop(0)
                    out[name] = QUERIES[name]
    return out
