"""The driver's correctness gate checks only the FIRST 50 registry
entries — ordering is part of the driver contract (VERDICT r4 item 1),
so pin it structurally (VERDICT r5 item 1): the checked window must be
exactly the explicit list in queries/__init__, and EVERY registered
query must carry attestation — its own in-window row, an arm of an
in-window suite (whose oracle embeds the singleton's registered SQL
verbatim, so suite coverage cannot drift), a hash-green row in a
recorded prior round's CORRECTNESS file, or a documented rows-only
attestation pair. This makes the round-4 silent-unattestation failure
mode (a registered query no driver run ever verified) impossible by
construction: a brand-new query with no prior row fails this test
unless it is in-window or folded into an in-window suite.
"""

from __future__ import annotations

import glob
import json
import os

from time_series_data_pipeline_spark.queries import (
    ORACLE,
    QUERIES,
    ROWS_ONLY_ATTESTATION,
    SUITE_CONSTITUENTS,
    _CHECKED_WINDOW,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prior_green() -> set[str]:
    """Query names with a hash-green row in any recorded round."""
    green: set[str] = set()
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                green.add(name)
    return green


def test_checked_window_is_first_50():
    assert len(_CHECKED_WINDOW) == 50
    assert len(set(_CHECKED_WINDOW)) == 50
    assert list(QUERIES)[:50] == _CHECKED_WINDOW


def test_new_and_changed_queries_lead_the_window():
    # round-16 policy (VERDICT r15 item 3): the optimization round
    # registers no new queries, so the TOUCHED re-attestation block
    # leads — every query whose implementation changed in r15/r16
    # without same-round driver verification gets its own hash row.
    from time_series_data_pipeline_spark.queries import TOUCHED_THIS_ROUND

    n = len(TOUCHED_THIS_ROUND)
    assert _CHECKED_WINDOW[:n] == TOUCHED_THIS_ROUND
    assert "curation_pipeline" in TOUCHED_THIS_ROUND  # the r15 regression
    assert _CHECKED_WINDOW[n] == "approx_distinct_users"  # oldest r11
    assert _CHECKED_WINDOW[44] == "vocab_coverage"  # last aged slot
    # core tail: flagships + the two suites still covering arms that
    # are NOT individually in this window
    assert _CHECKED_WINDOW[45:] == [
        "window_5m_mean",
        "flux_pipeline_mean",
        "window_5m_mean_bucketed",
        "suite_round5",
        "suite_timeseries_stats",
    ]


def test_rotation_ledger_matches_window_policy():
    """The window's 'oldest first' claim is COMPUTED: against the
    ledger derived from CORRECTNESS_r*.json (bounded at
    WINDOW_ROUND - 1, the evidence available when the window was
    authored), the non-core slots must be exactly the OLDEST
    oracle-bearing entries in (round, name) order, preceded by any
    never-own-row entries (new queries registered this round lead).
    Once the driver lands THIS round's CORRECTNESS file every slot
    gets a fresh row — that is the goal, not a policy violation."""
    import subprocess
    import sys

    from time_series_data_pipeline_spark.queries import WINDOW_ROUND

    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "rotation_ledger.py"),
         "--json", "--until", str(WINDOW_ROUND - 1)],
        capture_output=True, text=True, check=True,
    ).stdout
    ledger = json.loads(out)
    assert set(ledger) == set(QUERIES)
    n_core = 5  # the fixed core tail pinned above
    window_noncore = _CHECKED_WINDOW[:-n_core]
    core = set(_CHECKED_WINDOW[-n_core:])
    never = [
        n for n in QUERIES
        if ledger[n]["own_row_round"] is None and ledger[n]["has_oracle"]
        and n not in core
    ]
    # never-own-row (new this round) leads, any order within the block
    assert set(window_noncore[: len(never)]) == set(never), (
        "new/never-own-row queries must lead the window"
    )
    rest = window_noncore[len(never):]
    # TOUCHED re-attestation block (r16 policy, VERDICT r15 item 3):
    # queries whose implementation changed this round or the previous
    # one without same-round driver verification are re-attested right
    # after the never-own-row block, regardless of ledger age — the
    # rotation must never again roll a rewritten query OUT of the
    # window in the round of its rewrite.
    from time_series_data_pipeline_spark.queries import TOUCHED_THIS_ROUND

    touched = [
        n for n in TOUCHED_THIS_ROUND
        if n not in core and n not in set(never)
    ]
    assert rest[: len(touched)] == touched, (
        "touched-this-round queries must follow the never-own-row block"
    )
    rest = rest[len(touched):]
    aged_candidates = sorted(
        (
            n for n in QUERIES
            if ledger[n]["own_row_round"] is not None
            and ledger[n]["has_oracle"] and n not in core
            and n not in set(touched)
        ),
        key=lambda n: (ledger[n]["own_row_round"], n),
    )
    # the rows-only re-attestation block (round-15 policy, VERDICT r14
    # item 3): a rows-only entry STRICTLY OLDER than every remaining
    # oracle-bearing entry is due for a fresh driver rows-check, but a
    # slot spent on it alone yields no hash — so it enters WITH its
    # *_verify twin (the twin pulled forward if the aged order would
    # not reach it), in ledger (round, name) order within the block
    oldest_oracle_round = ledger[aged_candidates[0]]["own_row_round"]
    due_rows_only = sorted(
        (
            n for n in QUERIES
            if ledger[n]["rows_only"]
            and ledger[n]["own_row_round"] is not None
            and ledger[n]["own_row_round"] < oldest_oracle_round
        ),
        key=lambda n: (ledger[n]["own_row_round"], n),
    )
    pair_block: list[str] = []
    for n in due_rows_only:
        pair_block.append(n)
        twin = ROWS_ONLY_ATTESTATION[n]
        if twin is not None:
            pair_block.append(twin)
    assert rest[: len(pair_block)] == pair_block, (
        "due rows-only entries must enter paired with their *_verify "
        "twins, oldest first"
    )
    placed = set(pair_block)
    want = [n for n in aged_candidates if n not in placed][
        : len(rest) - len(pair_block)
    ]
    assert rest[len(pair_block):] == want, (
        "non-core window slots must be the ledger's oldest "
        "oracle-bearing entries in (round, name) order — recompute "
        "with tools/rotation_ledger.py"
    )


def test_oracles_subset_of_queries():
    assert set(ORACLE) <= set(QUERIES)
    # rows-only queries are exactly the documented sketch/sequential set
    assert set(QUERIES) - set(ORACLE) == set(ROWS_ONLY_ATTESTATION)


def test_suite_constituents_embedded_verbatim():
    """A suite attests a singleton ONLY because its oracle embeds the
    singleton's registered SQL verbatim — pin that, so editing a
    singleton's oracle without the suite picking it up is impossible
    (the f-string interpolation makes this automatic; this test guards
    against someone inlining a copy)."""
    for suite, members in SUITE_CONSTITUENTS.items():
        assert suite in ORACLE, suite
        for name in members:
            assert name in ORACLE, name
            assert ORACLE[name] in ORACLE[suite], (
                f"{suite} does not embed {name}'s registered oracle SQL"
            )


def test_every_query_attested():
    """The structural invariant: no registered query can ship without
    driver-visible attestation."""
    window = set(_CHECKED_WINDOW)
    suite_covered = {
        name
        for suite, members in SUITE_CONSTITUENTS.items()
        if suite in window
        for name in members
    }
    prior = _prior_green()
    rows_only_ok = {
        name
        for name, verify in ROWS_ONLY_ATTESTATION.items()
        if verify is None or verify in window or verify in prior
    }
    unattested = [
        name
        for name in QUERIES
        if name not in window
        and name not in suite_covered
        and name not in prior
        and name not in rows_only_ok
    ]
    assert not unattested, (
        f"registered queries with no attestation path: {unattested} — "
        "add them to _CHECKED_WINDOW, fold them into an in-window suite, "
        "or (rows-only ops) register a verify attestation"
    )


def test_rows_only_attestations_hold():
    """Each rows-only query's verify partner must itself be a registered
    oracle query (the attestation is only as good as its own hash)."""
    for name, verify in ROWS_ONLY_ATTESTATION.items():
        assert name in QUERIES, name
        if verify is not None:
            assert verify in ORACLE, f"{name}'s attestation {verify} has no oracle"


def test_folded_singletons_remain_registered():
    # the suites fold these; they stay available as singletons below the
    # cap so a user can still run them directly
    for members in SUITE_CONSTITUENTS.values():
        for name in members:
            assert name in QUERIES and name in ORACLE, name


def test_window_slots_all_carry_oracles():
    """A driver slot spent on a rows-only query gets only the weak
    rows-check — every in-window query must carry an oracle, EXCEPT
    the documented rows-only re-attestation pattern (round 15, VERDICT
    r14 item 3): a rows-only entry may take a slot when its
    hash-bearing *_verify twin is in the SAME window (the pair lands
    rows-check + hash evidence together), or when it has no twin by
    documented design (bpe_learn_merges: golden-trace attested)."""
    window = set(_CHECKED_WINDOW)
    missing = [
        n for n in _CHECKED_WINDOW
        if n not in ORACLE
        and not (
            n in ROWS_ONLY_ATTESTATION
            and (
                ROWS_ONLY_ATTESTATION[n] is None
                or ROWS_ONLY_ATTESTATION[n] in window
            )
        )
    ]
    assert not missing, missing


def test_bench_line_keeps_sub_tenth_timings():
    """The stdout line's precision ladder may shed digits from large
    entries, but a nonzero timing under 0.1 s keeps 2 dp at every rung
    — at 1 dp 0.026 s printed as 0.0, which reads as a dropped query."""
    from bench import _line_round

    for prec in (0, 1, 2):
        assert _line_round(0.026, prec) == 0.03
    assert [_line_round(0.56, p) for p in (0, 1, 2)] == [0.56, 0.56, 0.6]
    assert [_line_round(1.234, p) for p in (0, 1, 2)] == [1.23, 1.2, 1.2]
