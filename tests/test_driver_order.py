"""The driver samples the FIRST 50 entries of ``queries()`` per round,
so the ordering IS the official-coverage rotation. Round 4's verdict
asked for it to be self-maintaining: computed at import time from the
committed CORRECTNESS_r*.json records, never-sampled entries first, so
a missed manual rotation can never waste a round's sample window.

These tests pin that contract without pinning any literal ordering
(which legitimately changes every round as records accrue).
"""

from __future__ import annotations

import json

from text_extraction_evaluation_spark.plans.queries import (
    FILLER_GREENS,
    ROWS_ONLY_PIPELINE,
    SQL_CHECKED,
    _find_correctness_records,
    driver_order,
    official_row_green,
)


def _official_latest():
    latest = {}
    for idx, path in enumerate(_find_correctness_records()):
        for k, v in json.load(open(path)).items():
            if isinstance(v, dict):
                latest[k] = (idx, v)
    return latest


def test_never_sampled_entries_precede_sampled_greens():
    recs = _find_correctness_records()
    if not recs:
        return  # wheel-install layout: fallback literal governs
    latest = _official_latest()
    order = driver_order(list(SQL_CHECKED))
    pos = {n: i for i, n in enumerate(order)}
    never = [n for n in SQL_CHECKED if n not in latest]
    greens = [
        n
        for n in SQL_CHECKED
        if n in latest and official_row_green(latest[n][1])
    ]
    if never and greens:
        assert max(pos[n] for n in never) < min(pos[n] for n in greens)


def test_red_or_err_entries_lead_the_window():
    recs = _find_correctness_records()
    if not recs:
        return
    latest = _official_latest()
    order = driver_order(list(SQL_CHECKED))
    pos = {n: i for i, n in enumerate(order)}
    reds = [
        n
        for n in SQL_CHECKED
        if n in latest and not official_row_green(latest[n][1])
    ]
    for n in reds:
        assert pos[n] < 50, f"red entry {n} outside the 50-entry window"


def test_rows_only_pipeline_entries_reach_the_window_when_stale():
    """The round-1..4 failure mode: the four rows-only flagship entries
    were appended after 174 SQL entries, permanently outside the
    driver's first-50 window. The computed order must place them inside
    the window whenever their latest rows-only record is not from the
    most recent round."""
    recs = _find_correctness_records()
    if not recs:
        return
    latest = _official_latest()
    last_idx = len(recs) - 1
    order = driver_order(list(SQL_CHECKED))
    pos = {n: i for i, n in enumerate(order)}
    for n in ROWS_ONLY_PIPELINE:
        assert n in pos
        fresh = (
            n in latest
            and latest[n][0] == last_idx
            and latest[n][1].get("spark_rows") is not None
        )
        if not fresh:
            assert pos[n] < 50, f"stale rows-only entry {n} outside window"


def test_order_is_a_permutation_and_deterministic():
    names = list(SQL_CHECKED)
    a = driver_order(names)
    b = driver_order(names)
    assert a == b
    assert sorted(a) == sorted(set(names) | set(ROWS_ONLY_PIPELINE))


def test_entry_queries_follow_driver_order():
    import __spark_entry__ as entry_mod

    q = list(entry_mod.queries())
    assert q == driver_order(list(SQL_CHECKED))
    oracle = entry_mod.oracle_sql()
    assert set(q) - set(oracle) == set(ROWS_ONLY_PIPELINE)


def test_filler_greens_are_registered():
    for n in FILLER_GREENS:
        assert n in SQL_CHECKED, n


def test_order_rules_on_synthetic_records(tmp_path, monkeypatch):
    """Pin the ordering rules themselves against a synthetic record set
    (independent of the real repo history): reds first, then stale
    rows-only, then never-sampled, then filler/greens; a rows-only
    entry with a fresh row in the LATEST record counts green and drops
    out of the head."""
    import json as _json

    from text_extraction_evaluation_spark.plans import queries as qmod

    r1 = tmp_path / "CORRECTNESS_r01.json"
    r2 = tmp_path / "CORRECTNESS_r02.json"
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    red = {"rows_match": True, "schema_match": True, "hash_match": False,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    rows_only = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "spark_rows": 7, "oracle_rows": None,
                 "err": "no_oracle"}
    r1.write_text(_json.dumps({"a": green, "b": green, "p_stale": rows_only}))
    r2.write_text(_json.dumps({"a": green, "c": red, "p_fresh": rows_only}))
    monkeypatch.setattr(
        qmod, "_find_correctness_records", lambda: [r1, r2]
    )
    order = qmod.driver_order(
        ["a", "b", "c", "d"], rows_only=("p_stale", "p_fresh")
    )
    pos = {n: i for i, n in enumerate(order)}
    assert pos["c"] == 0                       # latest-red re-check first
    assert pos["p_stale"] == 1                 # stale rows-only precede
    assert pos["d"] == 2                       # ...the backlog (a 50+
    #                                            backlog must not push the
    #                                            four flagship entries out)
    assert pos["p_fresh"] > pos["d"]           # fresh rows-only is green
    # greens refresh stalest-first: b's latest row is r1, a's is r2
    assert pos["b"] < pos["a"]


def test_fallback_used_only_without_records(monkeypatch):
    """With no CORRECTNESS records findable (wheel install outside the
    repo), the fallback literal governs; entries absent from the
    registry are skipped, unknown registry entries appended."""
    from text_extraction_evaluation_spark.plans import queries as qmod

    monkeypatch.setattr(qmod, "_find_correctness_records", lambda: [])
    order = qmod.driver_order(["q1_pricing_summary", "zz_new_entry"])
    assert order[:4] == list(qmod.ROWS_ONLY_PIPELINE)
    assert "zz_new_entry" in order
    assert len(order) == len(set(order))


def test_stray_correctness_files_are_ignored(tmp_path):
    """Only CORRECTNESS_rNN.json names are official records: a stray
    scratch file next to them must not be picked up as a round."""
    (tmp_path / "CORRECTNESS_r01.json").write_text("{}")
    (tmp_path / "CORRECTNESS_rscratch.json").write_text("{}")
    assert _find_correctness_records(tmp_path) == [
        tmp_path / "CORRECTNESS_r01.json"
    ]
