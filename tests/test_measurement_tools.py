"""The measuring tools, checked without Spark: the one SCALING.md writer
(tools/scale_probe.py ``write_section``), the plan canonicalizer PLANS.md
is generated through, and a source tripwire that keeps bench.py the only
place a query is timed and tools/scale_probe.py the only SCALING.md
writer."""

import ast
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import scale_probe  # noqa: E402
from dump_plans import canonicalize  # noqa: E402


def _sections(doc: str) -> dict[str, str]:
    """Each SECTIONS marker's text, up to the next marker in the file."""
    at = sorted((doc.index(m), m) for m in scale_probe.SECTIONS if m in doc)
    ends = [p for p, _ in at[1:]] + [len(doc)]
    return {m: doc[p:end] for (p, m), end in zip(at, ends)}


@pytest.fixture
def scaling(tmp_path):
    path = tmp_path / "SCALING.md"
    path.write_text((REPO / "SCALING.md").read_text())
    return path


def test_committed_scaling_md_has_every_section_in_order():
    doc = (REPO / "SCALING.md").read_text()
    assert [m for m in scale_probe.SECTIONS if m in doc] == list(scale_probe.SECTIONS)
    assert [doc.index(m) for m in scale_probe.SECTIONS] == sorted(
        doc.index(m) for m in scale_probe.SECTIONS
    )


@pytest.mark.parametrize("marker", scale_probe.SECTIONS)
def test_rewriting_a_section_leaves_the_others_byte_identical(scaling, marker):
    before = _sections(scaling.read_text())
    lines = [marker, "", "rewritten", "", "| q_x | 1 |"]
    scale_probe.write_section(marker, lines, path=str(scaling))
    after = _sections(scaling.read_text())
    assert after.keys() == before.keys()
    assert after[marker].rstrip("\n") == "\n".join(lines)
    for m in before:
        if m != marker:
            assert after[m].rstrip("\n") == before[m].rstrip("\n"), m


@pytest.mark.parametrize("marker", scale_probe.SECTIONS)
def test_rewriting_a_section_with_its_content_is_a_no_op(scaling, marker):
    doc = scaling.read_text()
    lines = _sections(doc)[marker].rstrip("\n").split("\n")
    scale_probe.write_section(marker, lines, path=str(scaling))
    assert scaling.read_text() == doc


@pytest.mark.parametrize("marker", scale_probe.SECTIONS)
def test_a_missing_section_is_inserted_at_its_place(scaling, marker):
    doc = scaling.read_text()
    text = _sections(doc)[marker]
    scaling.write_text(doc.replace(text, ""))
    scale_probe.write_section(
        marker, text.rstrip("\n").split("\n"), path=str(scaling)
    )
    assert scaling.read_text() == doc


def test_subset_rewrite_replaces_only_the_named_rows(scaling):
    marker = scale_probe.DECADE_MARKER
    doc = scaling.read_text()
    old = _sections(doc)[marker].rstrip("\n").split("\n")
    new = [marker, "", "narrative of a subset run", "", "| q_pagerank | new |", "| q_new | added |"]
    scale_probe.write_section(
        marker, new, subset=["q_pagerank", "q_new"], path=str(scaling)
    )
    got = _sections(scaling.read_text())[marker].rstrip("\n").split("\n")
    want = [
        "| q_pagerank | new |" if line.startswith("| q_pagerank |") else line
        for line in old
    ] + ["| q_new | added |"]
    assert got == want
    rest = scaling.read_text().replace(_sections(scaling.read_text())[marker], "")
    assert rest == doc.replace(_sections(doc)[marker], "")


def test_canonical_plans_ignore_the_staging_uid_and_fingerprint():
    def plan(uid: str, fp: str) -> str:
        return (
            "FileScan parquet spark_catalog.default.sg_orders_b_"
            f"{fp}[o_orderkey#12L] Batched: true, Location: "
            f"InMemoryFileIndex(1 paths)[file:/tmp/spark_graft_physical_{uid}"
            f"/{fp}/sg_orders_b_{fp[:8]}..., ReadSchema: struct<>\n"
            f"+- FileScan parquet [value#3] Location: InMemoryFileIndex(1 paths)"
            f"[file:/tmp/spark_graft_physical_{uid}/{fp}/silver_events]"
        )

    a = canonicalize(plan("0", "4ae5ba9cfa943ee5"))
    assert a == canonicalize(plan("1000", "0123456789abcdef"))
    assert "4ae5ba9c" not in a


def _trees():
    for path in [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]:
        yield path.name, ast.parse(path.read_text())


def _calls(tree):
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)]


def test_one_measurement_stack():
    """bench.py and tools/ hold one host canary, one JVM GC call (the
    cleanup of bench.timed_run), one file that opens SCALING.md for
    writing (through one ``open`` for writing), and no HTTP client."""
    canaries, gcs, scaling_writers, writes, http = [], [], [], {}, []
    for name, tree in _trees():
        canaries += [
            name
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name == "host_canary"
        ]
        for call in _calls(tree):
            f = call.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "gc"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "System"
            ):
                gcs.append(name)
            mode = call.args[1] if len(call.args) > 1 else None
            if (
                isinstance(f, ast.Name)
                and f.id == "open"
                and isinstance(mode, ast.Constant)
                and set(str(mode.value)) & set("wax+")
            ):
                writes[name] = writes.get(name, 0) + 1
        if any(
            isinstance(n, ast.Constant) and n.value == "SCALING.md"
            for n in ast.walk(tree)
        ):
            scaling_writers.append(name)
        http += [
            name
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            and any(
                (a.name if isinstance(n, ast.Import) else n.module or "").startswith(
                    "urllib"
                )
                for a in n.names
            )
        ]
    assert canaries == ["bench.py"]
    assert gcs == ["bench.py"]
    assert scaling_writers == ["scale_probe.py"]
    assert writes.get("scale_probe.py") == 1
    assert "bench.py" not in writes
    assert not http
