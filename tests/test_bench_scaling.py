"""scripts/bench_scaling.py tooling: the section table names real
queries, SCALING.md carries every section's markers once, and the
marker writer touches only the section it rewrites. No SparkSession
needed.
"""

from __future__ import annotations

import os
import sys

import pytest

from kcore_spark.queries import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import bench_scaling  # noqa: E402


def test_section_queries_are_registered():
    qs = all_queries()
    for section in bench_scaling.SECTIONS.values():
        names = {*section.queries, *section.skip_at_scale, *section.budgets}
        assert names <= set(qs), (section.marker, sorted(names - set(qs)))


def test_scaling_md_holds_each_marker_pair_once():
    with open(os.path.join(REPO, "SCALING.md")) as f:
        doc = f.read()
    for marker in bench_scaling.SECTIONS:
        assert doc.count(f"<!-- {marker}:begin -->\n") == 1, marker
        assert doc.count(f"<!-- {marker}:end -->") == 1, marker


def _doc(bodies: dict[str, str]) -> str:
    parts = ["# hand-written head\n\n"]
    for marker, body in bodies.items():
        parts.append(f"<!-- {marker}:begin -->\n{body}<!-- {marker}:end -->\n\nnote after {marker}\n\n")
    return "".join(parts)


def test_writer_changes_only_its_own_section(tmp_path):
    old = {"a": "\nold a\n\n", "b": "\nold b\n\n", "c": "\nold c\n\n"}
    path = tmp_path / "SCALING.md"
    path.write_text(_doc(old))
    bench_scaling.write_sections(str(path), {"b": "\nnew b\n| t | 1 |\n\n"})
    assert path.read_text() == _doc({**old, "b": "\nnew b\n| t | 1 |\n\n"})


def test_writer_refuses_missing_markers(tmp_path):
    path = tmp_path / "SCALING.md"
    path.write_text("# no markers\n")
    with pytest.raises(ValueError):
        bench_scaling.write_sections(str(path), {"a": "x\n"})
    assert path.read_text() == "# no markers\n"
