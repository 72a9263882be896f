"""Negative self-test of the benchmark's checks: a corrupted report (one
row dropped or one added) must count as a failed operation.

    python3 -m pytest kgbench/test_checks.py -q
"""

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from checks import (  # noqa: E402
    Tally,
    edges_equal,
    files_complete,
    focus_nodes_nt,
    kg_report_ledger,
    report_equals,
)


def _people_ledger(tmp_path):
    g = gen.write_people(str(tmp_path / "g.nt"), str(tmp_path / "s.ttl"), 400, seed=3)
    assert g.ledger, "the generator must plant violations"
    return g.ledger


def _rows(ledger: Counter) -> list[tuple]:
    return [k for k, n in ledger.items() for _ in range(n)]


def test_exact_report_passes(tmp_path):
    ledger = _people_ledger(tmp_path)
    tally = Tally()
    tally.record(report_equals(_rows(ledger), ledger))
    assert (tally.attempted, tally.failed) == (1, 0)


def test_dropped_or_added_row_fails(tmp_path):
    ledger = _people_ledger(tmp_path)
    rows = _rows(ledger)
    tally = Tally()
    tally.record(report_equals(rows[1:], ledger), "dropped")
    tally.record(report_equals(rows + [rows[0]], ledger), "duplicated")
    extra = ("http://example.org/id/person/0", gen.SH + "MinCountConstraintComponent", gen.EX + "name")
    tally.record(report_equals(rows + [extra], ledger), "added")
    assert (tally.attempted, tally.failed) == (3, 3)
    assert tally.error_rate == 1.0


def test_kg_report_and_file_checks(tmp_path):
    c = gen.write_corpus(str(tmp_path / "corpus"), 300, seed=5)
    ledger = kg_report_ledger(c.bad_files)
    rows = _rows(ledger)
    assert report_equals(rows, ledger)
    assert not report_equals(rows[:-1], ledger)
    assert not report_equals(rows + [(next(iter(c.file_iris - c.bad_files)),) + rows[0][1:]], ledger)
    assert files_complete(c.file_iris, c.file_iris)
    assert not files_complete(list(c.file_iris)[1:], c.file_iris)


def test_edge_check_catches_a_lost_merge_or_an_extra_triple(tmp_path):
    c = gen.write_corpus(str(tmp_path / "corpus"), 300, seed=5)
    assert c.merged > 0, "the corpus must plant entities the linker merges"
    assert len(c.edges) < c.extracted
    rows = sorted(c.edges, key=str)
    assert edges_equal(rows, c.edges)
    assert not edges_equal(rows[1:], c.edges)
    assert not edges_equal(rows + [rows[0]], c.edges)
    # a build that stops merging keeps the pre-merge triples
    unmerged = [("kg:file/x#HTTPClient",) + rows[0][1:]] + rows[1:]
    assert not edges_equal(unmerged, c.edges)


def test_focus_nodes_of_an_ntriples_report():
    sh = gen.SH
    lines = [
        f"<urn:r/1> <{sh}focusNode> <kg:file/a@1> .",
        f"<urn:r/1> <{sh}resultPath> <kg:sha256> .",
        f"<urn:r/2> <{sh}focusNode> <kg:file/b@2#f> .",
    ]
    assert focus_nodes_nt(lines) == {"kg:file/a@1", "kg:file/b@2#f"}
    assert focus_nodes_nt(lines[:2]) != {"kg:file/a@1", "kg:file/b@2#f"}


def test_cdc_check_catches_drift():
    feed = gen.CdcFeed(seed=7, seed_files=50)
    for _ in range(3):
        feed.next_batch()
    expected = feed.expected_report()
    assert all(k + (None,) in expected for k in feed.breaks)
    assert any(k[1].endswith("NodeConstraintComponent") for k in expected), "sha256 breaks cascade"
    report = _rows(expected)
    assert report_equals(report, expected)
    assert not report_equals(report[1:], expected)
    assert not report_equals(report + [("x", "y", "z", None)], expected)


def test_seed_changes_inputs(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), 100, seed=1)
    b = gen.write_corpus(str(tmp_path / "b"), 100, seed=2)
    assert a.file_iris != b.file_iris and a.edges != b.edges
    assert gen.write_corpus(str(tmp_path / "c"), 100, seed=1).file_iris == a.file_iris


def test_benchmark_json_matches_the_metrics_printed():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
