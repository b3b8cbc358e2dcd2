"""Static scale-doctrine gates, companions to test_broadcast_hints.

Three more patterns the per-round plan audits check by hand are pinned
here so a regression fails the suite instead of waiting for a reviewer:

1. Driver-side materialization (`.collect` / `.toPandas` /
   `collectAsList` / `.toLocalIterator` / `.take` / `.head` /
   `.first`) is banned outside the one documented non-hot-path site —
   a collect in an operator is a driver bottleneck that multiplies at
   100 TB.  (`F.first(...)` the AGGREGATE is excluded: it runs on
   executors.)
2. `crossJoin` is only legal when one side is bounded: wrapping
   `F.broadcast(<bounded>)` (already reviewed by the broadcast
   allowlist), or one of the reviewed non-broadcast sites below (1-row
   aggregates, the bounded query side of the exact-kNN baselines, the
   |region|x|nation| operator demo).
3. Row-at-a-time Python UDFs are banned: every `F.udf(` call must carry
   `useArrow=True` (ArrowEvalPython), the static twin of the
   plan-level BatchEvalPython flag in tools/plan_report.py — checked by
   AST walk so the keyword must sit in THAT call, not merely nearby.
"""

from __future__ import annotations

import ast
import re
from collections import Counter

from tests.test_broadcast_hints import _code_only, _sources

# The one documented driver-side materialization: sources/formats.py
# one-time binaryFile fixture staging.
COLLECT_ALLOWED = {
    "sources/formats.py": 1,
}

# crossJoin sites whose argument is NOT F.broadcast(...): keyed by
# (file, first identifier of the argument).  Every entry must be a
# bounded frame; review before extending.
CROSSJOIN_ALLOWED = {
    "operators/dedup.py": {"nt": 1},             # 1-row count aggregate
    "operators/graph.py": {"extra": 1},          # 1-row count aggregate
    "operators/joins.py": {"n": 1},              # join_cross demo: region x nation
    "operators/similarity.py": {"c": 3},         # corpus side; the LEFT is the
    # bounded broadcast query side (exact-kNN baselines: BNLJ streams the
    # corpus against N_QUERIES rows)
}

# every driver-materializing DataFrame method, whitespace/args
# tolerated; the (?<!F) lookbehind excludes the F.first aggregate
# (executor-side), which would otherwise false-positive
_COLLECT_RX = re.compile(
    r"(?<!F)\.(?:collect|toPandas|toLocalIterator|take|head|first)\s*\("
    r"|collectAsList"
)
_CROSS_RX = re.compile(r"\.?crossJoin\(\s*([A-Za-z_][\w.]*)")


def test_no_driver_side_collect_outside_allowlist():
    found = {}
    for rel, src in _sources():
        n = len(_COLLECT_RX.findall(_code_only(src)))
        if n:
            found[rel] = n
    assert found == COLLECT_ALLOWED, (
        "Driver-side materialization drifted from the one documented "
        "site (sources/formats.py fixture staging): found "
        f"{found}, allowed {COLLECT_ALLOWED}. A .collect() "
        "in an operator hot path is a driver bottleneck at scale — "
        "restructure, or document and allowlist if genuinely bounded."
    )


def test_crossjoin_sides_are_reviewed():
    found = {}
    for rel, src in _sources():
        code = _code_only(src)
        toks = [t for t in _CROSS_RX.findall(code) if t.split(".")[0] != "F"]
        n_sites = len(re.findall(r"crossJoin\(", code))
        n_bcast = len(re.findall(r"crossJoin\(\s*F\.broadcast", code))
        # fail closed: every crossJoin must either wrap F.broadcast or
        # tokenize to an identifier this allowlist can key
        assert n_sites == n_bcast + len(toks), (
            f"{rel}: {n_sites} crossJoin sites, {n_bcast} broadcast-wrapped,"
            f" {len(toks)} tokenized — rewrite the opaque site(s) as"
            " crossJoin(<name>) or crossJoin(F.broadcast(<name>))"
        )
        if toks:
            found[rel] = dict(Counter(t.split(".")[0] for t in toks))
    assert found == CROSSJOIN_ALLOWED, (
        "Non-broadcast crossJoin inventory drifted from the reviewed "
        f"allowlist: found {found}, allowed {CROSSJOIN_ALLOWED}. A "
        "crossJoin against an unbounded side is quadratic at scale — "
        "review the new site's boundedness before allowlisting."
    )


def test_python_udfs_are_arrow_batched():
    offenders = []
    for rel, src in _sources():
        for node in ast.walk(ast.parse(src)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "udf"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                continue
            arrow = any(
                kw.arg == "useArrow"
                and isinstance(kw.value, ast.Constant)
                and kw.value.value is True
                for kw in node.keywords
            )
            if not arrow:
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        "F.udf without useArrow=True plans row-wise BatchEvalPython "
        "(the plan auditor's policy violation); use useArrow=True or a "
        f"pandas_udf: {offenders}"
    )
