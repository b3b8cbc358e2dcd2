"""Physical-plan inspection helpers — the engine's seatbelt for its
100 TB posture.  The reference has no optimizer to inspect (its plan is
the fixed scan->map->write pipeline [pub: …/HadoopJob.java]); this
engine delegates planning to Catalyst and VERIFIES the outcome instead:
tests assert pushdown reached the scan, dimensions broadcast, hot paths
stayed inside whole-stage codegen.

Used by tests/test_plans.py; also handy interactively:

    from kafka_hadoop_loader_spark.plans.inspect import formatted_plan
    print(formatted_plan(df))
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """Untruncated ``explain("formatted")`` output as a string.

    Raises the metadata truncation limits first: the default 100-char
    clip hides exactly the interesting parts (PushedFilters, ReadSchema).
    """
    spark = df.sparkSession
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists of every scan in the plan (flattened)."""
    out: list[str] = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            inner = line.split("[", 1)[-1].rsplit("]", 1)[0]
            out.extend(p.strip() for p in inner.split(",") if p.strip())
    return out


def scan_columns(df: DataFrame) -> list[str]:
    """Column names in every scan's ReadSchema — what actually gets read
    off disk after pruning."""
    cols: list[str] = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            schema = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(c.split(":")[0].strip() for c in schema.split(",") if c.strip())
    return cols


def has_node(df: DataFrame, node: str) -> bool:
    """True if the formatted plan contains the given physical node name
    (e.g. "BroadcastHashJoin", "TakeOrderedAndProject")."""
    return node in formatted_plan(df)


# Window-family physical nodes that carry a partitionSpec.
_WINDOW_NODES = frozenset(
    {
        "WindowExec",
        "WindowInPandasExec",
        "WindowGroupLimitExec",
    }
)


def unpartitioned_window_nodes(df: DataFrame) -> list[str]:
    """Window-family physical nodes whose partitionSpec is EMPTY — the
    single-partition global-window shape that dies first at scale
    (WindowExec itself warns "No Partition Defined ... Moving all data
    to a single partition").

    Engine convention: this list must be empty for every registered
    query.  Unbounded global orders go through
    plans/ranking.two_phase_rank; windows over PROVABLY bounded inputs
    (<= B-row aggregates, LIMIT-k prefixes) declare it with
    plans/ranking.bounded_window_key — the declared ``pmod`` key keeps
    the spec non-empty, so an empty spec is always an accident.
    Traverses the pre-AQE physical plan structurally (the formatted
    text elides partition specs).
    """
    root = df._jdf.queryExecution().sparkPlan()
    bad: list[str] = []
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name in _WINDOW_NODES:
            try:
                if node.partitionSpec().isEmpty():
                    bad.append(name)
            except Exception:  # noqa: BLE001 - node without the method
                pass
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        # subqueries/broadcast substrees hide under innerChildren
        inner = node.innerChildren()
        for i in range(inner.size()):
            stack.append(inner.apply(i))
    return bad
