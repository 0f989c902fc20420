"""Measurement-artifact freshness gate (pure text, no Spark).

Rounds 3-5 repeatedly shipped code whose committed PLANS.md / SCALING.md
described PREVIOUS-round plans — green gates with stale evidence.  These
tests make freshness mechanical: a plan-affecting edit without a
`python tools/dump_plans.py` regen, or a scale-notes edit without a
`python tools/scale_probe.py 10` re-run, turns pytest red.
"""

from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_plans_md_covers_every_audit_needle():
    """Every (query, needle) pair in dump_plans.AUDIT must appear as a
    checked line inside that query's section of the committed PLANS.md.
    dump_plans exits non-zero on any missing property, so a committed
    PLANS.md regenerated at HEAD contains exactly these ✓ lines; an
    AUDIT edit (or a plan regression caught by a regen) without a fresh
    commit fails here without starting Spark."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    from dump_plans import AUDIT

    text = (REPO / "PLANS.md").read_text()
    sections: dict[str, str] = {}
    name = None
    for chunk in text.split("\n## "):
        head, _, body = chunk.partition("\n")
        sections[head.strip()] = body
    missing = []
    for name, checks in AUDIT.items():
        body = sections.get(name)
        if body is None:
            missing.append(f"{name}: section absent")
            continue
        for needle, _why in checks:
            if f"- ✓ `{needle}`" not in body:
                missing.append(f"{name}: `{needle}`")
    assert not missing, (
        "PLANS.md is stale vs tools/dump_plans.py AUDIT — run "
        "`python tools/dump_plans.py` and commit the regen:\n  "
        + "\n  ".join(missing)
    )


def test_scaling_md_matches_probe_configuration():
    """SCALING.md must carry a row for every PROBES query, the output-rows
    column (the format scale_probe writes), and the CURRENT text of every
    NOTES adjudication — so editing a note in the tool without re-running
    the probe (the round-5 failure) goes red, as does dropping a probe."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    from scale_probe import NOTES, PROBES

    text = (REPO / "SCALING.md").read_text()
    missing = [n for n in PROBES if f"| {n} |" not in text]
    assert not missing, f"SCALING.md lacks probe rows for: {missing}"
    assert "out rows" in text, (
        "SCALING.md predates the output-rows probe format — re-run "
        "`python tools/scale_probe.py 10`"
    )
    stale = [n for n, note in NOTES.items() if note.strip() not in text]
    assert not stale, (
        "SCALING.md notes differ from tools/scale_probe.py NOTES for: "
        f"{stale} — re-run `python tools/scale_probe.py 10` and commit"
    )


def test_scaling_md_has_ab_adjudication_appendix():
    """The interleaved-A/B appendix (`tools/scale_probe.py --ab`) is the
    only trustworthy per-query timing record on this host; the other
    probe modes rewrite only their own sections, so it must never
    silently vanish."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    from scale_probe import AB_MARKER

    text = (REPO / "SCALING.md").read_text()
    assert AB_MARKER in text
    assert "Σ(min)" in text, "appendix present but empty — re-run ab_bench"


def test_no_hard_coded_checkout_path():
    """Tools and tests import the package, and write their outputs,
    under the checkout they live in: a hard-coded checkout path made a
    run in any other copy of the tree time and rewrite that path's
    code instead."""
    literal = "/".join(["", "root", "repo"])
    hits = [
        f"{py.relative_to(REPO)}:{i}"
        for top in ("tools", "tests")
        for py in sorted((REPO / top).rglob("*.py"))
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if literal in line
    ]
    assert not hits, hits
