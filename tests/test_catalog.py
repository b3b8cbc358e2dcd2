"""OPERATORS.md stays in sync with the registry (regen:
python tools/gen_catalog.py)."""

from __future__ import annotations

import os
import re

from kafka_hadoop_loader_spark.registry import load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_in_sync():
    reg = load_all()
    path = os.path.join(REPO, "OPERATORS.md")
    assert os.path.exists(path), "OPERATORS.md missing — run tools/gen_catalog.py"
    names = set()
    for line in open(path):
        m = re.match(r"\| `([a-z0-9_]+)` \|", line)
        if m:
            names.add(m.group(1))
    missing = sorted(set(reg) - names)
    stale = sorted(names - set(reg))
    assert not missing and not stale, (
        f"OPERATORS.md out of sync: missing={missing[:5]} stale={stale[:5]} "
        "— run python tools/gen_catalog.py"
    )
    # every data row must have exactly the table's 4 columns (unescaped
    # '|' in a docstring would split a row into extra cells)
    bad = [
        line
        for line in open(path)
        if re.match(r"\| `[a-z0-9_]+` \|", line)
        and len(re.split(r"(?<!\\)\|", line.strip().strip("|"))) != 4
    ]
    assert not bad, f"malformed catalog rows: {bad[:3]}"


def test_plans_lists_every_query_once():
    """PLANS.md has exactly one row per registry query, none missing and
    none stale.  The row contents (exchanges, joins, scans) are not
    checked: they need ``python tools/plan_report.py``, which plans every
    query (about 2 minutes), so regenerate it when a plan changes."""
    reg = load_all()
    path = os.path.join(REPO, "PLANS.md")
    lines = open(path).read().splitlines()
    start = lines.index("|---|---|---|---|---|---|") + 1
    names = []
    for line in lines[start:]:
        if not line.startswith("| "):
            break
        names.append(line.split("|")[1].strip())
    dupes = sorted({n for n in names if names.count(n) > 1})
    missing = sorted(set(reg) - set(names))
    stale = sorted(set(names) - set(reg))
    assert not dupes and not missing and not stale, (
        f"PLANS.md out of sync: duplicated={dupes[:5]} missing={missing[:5]} "
        f"stale={stale[:5]} — run python tools/plan_report.py"
    )
