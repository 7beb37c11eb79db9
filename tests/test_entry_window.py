"""The correctness check window: ``__spark_entry__.window_order`` derives
the order of ``queries()`` from the committed CORRECTNESS_r{N}.json
records. Rule tests run on synthetic records; the last tests pin the
order the repo's own records give."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entry_mod
from transit_data_pipeline_spark.operators.registry import all_specs

REPO = os.path.dirname(entry_mod.__file__)
WINDOW = 50


def _records(tmp_path, **rounds):
    """Write ``r<N>=[names]`` as CORRECTNESS_r<N>.json files."""
    for key, names in rounds.items():
        row = {"rows_match": True, "hash_match": True, "err": None}
        path = tmp_path / f"CORRECTNESS_{key}.json"
        path.write_text(json.dumps({n: row for n in names}))
    return str(tmp_path)


def _order(names, records_dir, rows_only=(), front=(), front_after=0):
    return entry_mod.window_order(
        names, rows_only, records_dir, front=front, front_after=front_after
    )


def test_rounds_compare_as_numbers(tmp_path):
    d = _records(tmp_path, r09=["a"], r10=["b"], r9=["c"])
    assert entry_mod.last_checked(d) == {"a": 9, "b": 10, "c": 9}
    # r9 is staler than r10, so it refreshes first
    assert _order(["b", "a"], d) == ["a", "b"]


def test_front_goes_first_in_its_own_order(tmp_path):
    d = _records(tmp_path, r3=["a", "b", "c", "d"])
    order = _order(["a", "b", "c", "d"], d, front=["d", "b"], front_after=3)
    assert order == ["d", "b", "a", "c"]


def test_front_entry_expires_once_a_newer_round_has_its_row(tmp_path):
    d = _records(tmp_path, r5=["a", "b", "c"], r11=["c"])
    names = ["a", "b", "c"]
    assert _order(names, d, front=["c", "b"], front_after=11)[:2] == ["c", "b"]
    _records(tmp_path, r12=["c"])
    assert _order(names, d, front=["c", "b"], front_after=11) == ["b", "a", "c"]


def test_never_checked_before_checked(tmp_path):
    d = _records(tmp_path, r1=["a"])
    assert _order(["a", "b"], d) == ["b", "a"]


def test_rows_only_after_oracle_backed(tmp_path):
    d = _records(tmp_path, r2=["b"], r7=["a"], r8=["c"])
    # "b" is stalest but rows-only: it goes after every oracle-backed one
    assert _order(["a", "b", "c"], d, rows_only=["b"]) == ["a", "c", "b"]


def test_stalest_first_and_ties_keep_registry_order(tmp_path):
    d = _records(tmp_path, r4=["c", "a"], r6=["b", "d"])
    assert _order(["d", "c", "b", "a", "e", "f"], d) == [
        "e", "f", "c", "a", "d", "b",
    ]


def test_no_records_gives_registry_order(tmp_path):
    (tmp_path / "CORRECTNESS_notes.json").write_text("{}")
    names = ["c", "a", "b"]
    assert _order(names, str(tmp_path), rows_only=["a"], front=["b"]) == names


def test_front_names_are_registered():
    specs = all_specs()
    assert len(set(entry_mod._FRONT)) == len(entry_mod._FRONT)
    assert [n for n in entry_mod._FRONT if n not in specs] == []


@pytest.fixture(scope="module")
def order():
    return list(entry_mod.queries())


def test_queries_cover_the_registry_once(order):
    specs = all_specs()
    assert len(order) == len(specs) == len(set(order))
    assert set(order) == set(specs)


def test_oracle_sql_covers_the_oracle_backed_specs():
    specs = all_specs()
    assert entry_mod.oracle_sql() == {
        n: s.oracle for n, s in specs.items() if s.oracle is not None
    }


def test_window_fronts_the_unexpired_front(order):
    last = entry_mod.last_checked(REPO)
    live = [n for n in entry_mod._FRONT if last.get(n, 0) <= entry_mod._FRONT_AFTER]
    assert order[: len(live)] == live
    if max(last.values()) <= entry_mod._FRONT_AFTER:
        assert live == list(entry_mod._FRONT)
        assert len(live) == 25 and set(live) <= set(order[:WINDOW])


def test_window_skips_the_two_newest_rounds(order):
    """Names whose newest row is in one of the two newest rounds are
    not re-checked next round unless fronted (at r11: r10 and r11)."""
    last = entry_mod.last_checked(REPO)
    newest = max(last.values())
    fresh = {n for n, r in last.items() if r >= newest - 1}
    fresh -= set(entry_mod._FRONT)
    assert fresh and not fresh & set(order[:WINDOW])
