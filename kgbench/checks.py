"""Per-operation correctness checks.  Pure Python over collected rows, so
the negative self-test (test_checks.py) runs without Spark."""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

from gen import KG, SH


class Tally:
    """Operations attempted and failed; a failed check is a failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def kg_report_ledger(bad_files: Iterable[str]) -> Counter:
    """The kg_build report: one sh:in result on kg:lang per planted file."""
    return Counter((f, SH + "InConstraintComponent", KG + "lang") for f in bad_files)


def report_equals(rows: Iterable[tuple], ledger: Counter) -> bool:
    """The report's (focus, component, path) multiset equals the ledger."""
    return Counter(tuple(r) for r in rows) == ledger


def files_complete(file_nodes: Iterable[str], expected: set[str]) -> bool:
    """Every corpus file appears exactly once as a kg:File node."""
    nodes = list(file_nodes)
    return len(nodes) == len(expected) and set(nodes) == expected


def edges_equal(rows: Iterable[tuple], expected: set[tuple]) -> bool:
    """The edge table (rows of subj, pred, obj, obj_kind, obj_dt,
    obj_lang) holds exactly the expected triples, each once."""
    rows = [tuple(r) for r in rows]
    return len(rows) == len(expected) and set(rows) == expected


def focus_nodes_nt(lines: Iterable[str]) -> set[str]:
    """The sh:focusNode IRIs of an N-Triples validation report."""
    pred = f"<{SH}focusNode> <"
    return {ln.split(pred, 1)[1].rsplit(">", 1)[0] for ln in lines if pred in ln}
