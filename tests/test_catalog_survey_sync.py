"""SURVEY §2 ↔ catalog registry lock-step (VERDICT r5 #3).

The round-5 judge found one inventory drift (`stream_pq_encode_maintain`
registered + gated but absent from SURVEY §2).  This pins the closure in
both directions so the drift cannot recur:

1. every backticked first-column ID in a §2 table is a registered catalog
   query, or its row is explicitly annotated ``(op)`` (operator without its
   own catalog query, pinned by dedicated tests instead);
2. every registered catalog query is named somewhere in §2 — as an operator
   row, in family prose (§2.11's streaming list), or in the §2.13 facet
   index — and every facet's declared parent is itself named in §2.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from cell_kn_mvp_etl_ontologies_spark import catalog


def _section2() -> str:
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    m = re.search(r"\n## 2\..*?\n## 3\.", text, re.S)
    assert m, "SURVEY.md §2 not found"
    return m.group(0)


def _catalog_ids() -> set[str]:
    catalog.load_all()
    return set(catalog.QUERIES)


def test_every_survey_row_id_is_registered_or_op_annotated():
    sec2 = _section2()
    cat = _catalog_ids()
    bad = []
    for line in sec2.splitlines():
        m = re.match(r"\|\s*`([a-z0-9_]+)`(.*)", line)
        if not m:
            continue
        qid, rest = m.group(1), m.group(2)
        if qid not in cat and "(op)" not in rest.split("|")[0]:
            bad.append(qid)
    assert not bad, f"SURVEY §2 rows with no catalog query and no (op) marker: {bad}"


def test_every_catalog_query_is_named_in_survey_section2():
    sec2 = _section2()
    missing = sorted(q for q in _catalog_ids() if f"`{q}`" not in sec2)
    assert not missing, (
        "catalog queries absent from SURVEY §2 (add an operator row or a "
        f"§2.13 facet entry): {missing}"
    )


def test_facet_parents_exist():
    sec2 = _section2()
    cat = _catalog_ids()
    m = re.search(r"### 2\.13.*?(?=\n### |\n## )", sec2 + "\n## ", re.S)
    assert m, "SURVEY.md §2.13 facet index not found"
    rows = re.findall(r"\|\s*`([a-z0-9_]+)`\s*\|\s*`([a-z0-9_]+)`\s*\|", m.group(0))
    assert rows, "facet index has no rows"
    for facet, parent in rows:
        assert facet in cat, f"facet {facet} is not a registered catalog query"
        assert f"`{parent}`" in sec2, f"facet {facet}: parent {parent} not in §2"
        assert parent != facet


def _evidence_rounds() -> tuple[int, dict[str, int]]:
    """Newest all-green evidence round per query across every checked-in
    correctness artifact (driver CORRECTNESS_rN + local CORRECTNESS_LOCAL_rN),
    and the newest artifact round overall."""
    import glob
    import json

    newest: dict[str, int] = {}
    current = 0
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_*r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        current = max(current, rnd)
        for qid, res in json.load(open(path)).items():
            if not isinstance(res, dict):
                continue
            green = (
                res.get("rows_match") is True
                and not res.get("err")
                and res.get("hash_match") is not False
            )
            if green:
                newest[qid] = max(newest.get(qid, 0), rnd)
    return current, newest


def test_evidence_freshness_floor():
    """VERDICT r8 #8, tightened 4 → 3 rounds in round 10 (VERDICT r9 #6):
    every catalog query must carry all-green correctness evidence (driver
    gate or local sweep) no older than 3 rounds — with a 50-slot driver
    gate over a 400+-row catalog, this floor is what prevents a
    permanently-stale tail.  A query with NO recorded evidence at all is
    exactly the round-8 process failure (frontier5 shipped ungated), so it
    is red too.  Fix for a red row: run `python tools/check_correctness.py
    --json-out CORRECTNESS_LOCAL_r{N}.json` (the full sweep is the round's
    last commit by doctrine)."""
    current, newest = _evidence_rounds()
    assert current >= 2, "no correctness artifacts found"
    floor = current - 3
    stale = sorted(
        q for q in _catalog_ids() if newest.get(q, -1) < floor
    )
    never = sorted(q for q in _catalog_ids() if q not in newest)
    assert not never, (
        "catalog queries with NO recorded correctness evidence (run the "
        f"local sweep before committing new queries): {never}"
    )
    assert not stale, (
        f"catalog queries whose newest evidence is older than round {floor} "
        f"(current artifact round {current}): {stale}"
    )


def test_never_driver_rows_sit_in_gate_prefix():
    """The standing rotation rule, pinned: every catalog query with NO
    driver-round hash proof (new contracts registered since the last gate)
    must sit inside the first 50 entries of queries() — the driver gates a
    PREFIX, so a never-driver row outside it cannot earn evidence and
    becomes next round's backlog (the round-11 'What's wrong #1').  This
    test would have caught the round-12 mis-ordering where the new block
    initially landed BELOW the executed round-11 prefix."""
    import glob
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    prefix = set(list(entry.queries().keys())[:50])

    driver_green: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        for qid, res in json.load(open(path)).items():
            if (
                isinstance(res, dict)
                and res.get("rows_match") is True
                and not res.get("err")
                and res.get("hash_match") is not False
            ):
                driver_green.add(qid)
    never_driver = sorted(q for q in _catalog_ids() if q not in driver_green)
    outside = [q for q in never_driver if q not in prefix]
    assert not outside, (
        f"{len(never_driver)} never-driver rows, {len(outside)} OUTSIDE the "
        f"50-slot gate prefix (they can never earn driver evidence there): "
        f"{outside[:10]}{'...' if len(outside) > 10 else ''} — either move "
        "them into the prefix head or, if they exceed 50, stage the "
        "overflow as the precomputed next-round head with a comment."
    )


def test_priority_list_is_duplicate_free_and_pins_the_gate_order():
    """``_PRIORITY`` names each registered query exactly once, so deleting
    a catalog row is one edit, and ``queries()`` keeps the order the gate
    prefix was recorded under: the 507-row order before the
    driver-collect brute cosine row was removed, minus that row (pinned as
    a sha256 of the newline-joined ids)."""
    import hashlib
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    prio = entry._PRIORITY
    dups = sorted({q for q in prio if prio.count(q) > 1})
    assert not dups, f"_PRIORITY repeats: {dups}"
    unregistered = sorted(set(prio) - _catalog_ids())
    assert not unregistered, f"_PRIORITY names unregistered ids: {unregistered}"
    order = list(entry.queries())
    assert len(order) == 506
    assert (
        hashlib.sha256("\n".join(order).encode()).hexdigest()
        == "c0a8d2980e3c8f4d103d10293e3c68b17c0fae758a499db9eb5de25e20a9eec1"
    )
