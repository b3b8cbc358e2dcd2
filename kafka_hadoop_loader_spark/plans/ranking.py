"""Distributed exact global ranks — ``row_number`` / ``ntile`` /
running sums over a TOTAL order without a single-partition WindowExec.

``Window.orderBy(...)`` with no ``partitionBy`` moves the ENTIRE input
through one task (Spark's own ``WARN WindowExec: No Partition Defined``)
— the first thing that dies at 100 TB.  The reference never ranks (its
pipeline is scan->map->write; ordering comes from Kafka offsets), but
this engine's layout/stats/curriculum operators all need exact global
ranks, so they share this two-phase plan:

1. **Bucket by value, not by partition id.**  One map-side-combinable
   ``percentile_approx`` pass yields ``B-1`` boundaries of the leading
   (numeric) sort key; each row's bucket is "how many boundaries
   precede my key" — a broadcast-array expression fused into the scan.
   Bucketing by VALUE (not ``spark_partition_id()``) keeps the two
   consumers below consistent under AQE: partition ids are renumbered
   per consumer by coalescing/skew-split, a value bucket never is.
2. **Rank locally per bucket.**  ``row_number`` / running ``sum`` over
   ``Window.partitionBy(bucket).orderBy(<total order>)`` — an ordinary
   hash-partitioned window, every task sorts only its bucket.
3. **Add broadcast offsets.**  Per-bucket row/value totals (a ``B``-row
   aggregate) turn into exclusive prefix offsets via a window over
   ``B`` rows — bounded by construction, the one place a global-order
   window is safe — and broadcast-join back.  ``global = offset(bucket)
   + local``.

Exactness: the bucket function is monotone in the leading key and maps
equal keys to equal buckets, so (bucket, within-bucket total order) IS
the global total order; boundary quality affects only balance, never
ranks.  NTILE is then a closed-form expression of (global row_number,
total count): SQL semantics give the first ``n % k`` tiles
``n DIV k + 1`` rows, which `_ntile_expr` reproduces bit-for-bit.

Scale: cost is one cheap stats pass + one hash shuffle + a broadcast —
versus the single-task sort this replaces.  ``n_buckets`` bounds
per-task sort size: at 100 TB raise it so ``rows / n_buckets`` fits an
executor (the helper only ever materializes ``n_buckets`` extra rows on
the driver-free broadcast path).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Bucket fan-out when not set explicitly: the session's shuffle
# parallelism (so bucket count scales with the cluster — production
# raises spark.sql.shuffle.partitions and every rank follows); callers
# override n_buckets when they know better (each bucket's sort must fit
# an executor).
DEFAULT_RANK_BUCKETS = None

def bounded_window_key(col: Column | str) -> Column:
    """Partition key for a window over a PROVABLY BOUNDED input (a
    <= ``n_buckets``-row aggregate, a ``LIMIT k`` prefix, a per-key
    profile).  ``pmod(col, 1)`` is constant-valued (always 0) but not
    foldable, so the single partition is DECLARED — WindowExec skips
    its "No Partition Defined" warning path, and the plan auditor
    (tools/plan_report.py) can tell deliberate bounded-input windows
    from accidental whole-table ones.  ``col`` must be numeric; NULLs
    are coalesced to 0 first — ``pmod(NULL, 1)`` is NULL, which would
    silently split the declared single partition into two (0 and NULL)
    and break the global order the window was declaring."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.coalesce(c, F.lit(0)), F.lit(1))


# Internal column names (dropped before returning).
_BKT, _LRN, _LPS, _OFF, _VOFF, _N = (
    "_sg_bkt",
    "_sg_lrn",
    "_sg_lps",
    "_sg_off",
    "_sg_voff",
    "_sg_n",
)


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division for ``a`` a multiple-of-``b`` after the
    ``% b`` subtraction: the double division is then on an exact
    multiple, bit-exact for quotients < 2^53 (far past any row count)."""
    return ((a - (a % b)) / b).cast("long")


def _ntile_expr(rn: Column, n: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` as a closed form of global row_number ``rn`` and
    total count ``n``: the first ``n % k`` tiles carry ``n DIV k + 1``
    rows, the rest ``n DIV k`` (when ``n < k`` every row is its own
    tile — the first branch degenerates to ``bucket = rn``)."""
    kk = F.lit(k).cast("long")
    rem = n % kk
    base = _idiv(n, kk)
    cap = rem * (base + F.lit(1))
    # ceil(rn / (base+1)) == (rn + base) DIV (base + 1)
    first = _idiv(rn + base, base + F.lit(1))
    # rem + ceil((rn - cap) / base); base >= 1 whenever this branch runs
    rest = rem + _idiv(rn - cap + base - F.lit(1), base)
    return F.when(rn <= cap, first).otherwise(rest)


def two_phase_rank(
    df: DataFrame,
    primary: Column | str,
    order: Sequence[Column | str],
    *,
    descending: bool = False,
    row_number_col: str | None = None,
    ntile: tuple[str, int] | None = None,
    prefix_sum: tuple[str, Column | str] | None = None,
    n_buckets: int | None = DEFAULT_RANK_BUCKETS,
    checkpoint_input: bool = False,
) -> DataFrame:
    """Attach exact global-rank columns to ``df`` without a
    single-partition window.

    ``primary`` — the NUMERIC leading sort key (bucketing key);
    ``order`` — the full TOTAL order (must start with ``primary`` in
    the ``descending`` direction and include tie-break columns — ranks
    among true ties would otherwise be nondeterministic, exactly as
    with a plain global window);
    ``row_number_col`` — name for a 1-based global ``row_number``;
    ``ntile=(name, k)`` — SQL ``NTILE(k)`` over the same order;
    ``prefix_sum=(name, col)`` — inclusive running sum of ``col``;
    ``checkpoint_input`` — lazily ``localCheckpoint`` ``df`` first.  The
    helper reads its input twice (boundaries, local ranks; the
    per-bucket totals derive from the local-rank output — see Phase 2);
    a raw column-pruned scan is cheap to read twice, but a COMPUTED
    input (an aggregate, a previous rank stage) should be materialized
    once — the same lazy-checkpoint discipline graph.py's star
    contraction measured out.

    Returns ``df``'s columns plus the requested rank columns.
    """
    if not (row_number_col or ntile or prefix_sum):
        raise ValueError("request at least one of row_number/ntile/prefix_sum")
    if n_buckets is None:
        try:
            n_buckets = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
        except (TypeError, ValueError):  # e.g. "auto"
            n_buckets = 32
    # fewer than 2 buckets (a shuffle.partitions=1 session, or a caller
    # passing 0/negative) would make ``qs`` EMPTY below —
    # percentile_approx over an empty quantile list returns NULL, every
    # row's bucket becomes NULL via size(filter(NULL)), and the offsets
    # equi-join silently drops ALL rows.  Two buckets is the smallest
    # shape the boundary construction supports; the result is exact at
    # any bucket count, so clamping only affects balance.
    n_buckets = max(2, int(n_buckets))
    if checkpoint_input:
        df = df.localCheckpoint(eager=False)
    p = F.col(primary) if isinstance(primary, str) else primary

    # Phase 0: B-1 approximate boundaries of the leading key — balance
    # only; correctness never depends on them (the counts pass below is
    # exact), so accuracy stays LOW: the sketch merge at accuracy 10^4
    # dominated the whole helper when measured (3.5s vs 1.1s per rank at
    # sf0.1).  1-row broadcast, no driver action (same convention as
    # textstats' document-count join).
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bnds = df.agg(F.percentile_approx(p, qs, 100).alias("_sg_bnds"))
    src = df.crossJoin(F.broadcast(bnds))
    passed = (lambda b: b > p) if descending else (lambda b: b < p)
    # NULL keys: the filter lambda is NULL for a NULL ``primary``, which
    # would silently land every NULL row in bucket 0 — the FIRST bucket,
    # i.e. the largest-values bucket under ``descending`` — while the
    # global ``Window.orderBy`` this helper is bit-parity with sorts
    # NULLs FIRST ascending / LAST descending (Spark default).  Route
    # NULLs to the matching extreme bucket explicitly; the within-bucket
    # window then places them first/last inside that bucket, preserving
    # the global NULL ordering.
    null_bucket = F.lit(n_buckets - 1 if descending else 0).cast("int")
    bucketed = src.withColumn(
        _BKT,
        F.when(p.isNull(), null_bucket).otherwise(
            F.size(F.filter("_sg_bnds", passed)).cast("int")
        ),
    ).drop("_sg_bnds")

    # Phase 1: local ranks within each value bucket.  The local
    # row_number is always computed: Phase 2 derives the bucket counts
    # from it even when only a prefix sum was requested.
    wloc = Window.partitionBy(_BKT).orderBy(*order)
    local_cols = [F.row_number().over(wloc).cast("long").alias(_LRN)]
    if prefix_sum:
        val = (
            F.col(prefix_sum[1])
            if isinstance(prefix_sum[1], str)
            else prefix_sum[1]
        )
        local_cols.append(
            F.sum(val)
            .over(wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias(_LPS)
        )
    local = bucketed.select("*", *local_cols)

    # Phase 2: per-bucket totals -> exclusive prefix offsets.  The
    # offsets window is global-order over <= n_buckets aggregate rows —
    # bounded by construction (plan auditor exempts windows over
    # aggregates for exactly this shape).
    # Per-bucket totals derive from the PHASE-1 WINDOW OUTPUT instead of
    # re-aggregating `bucketed` (r14 measured A/B, see
    # OPTIMIZATION_r14.md): an aggregate over `bucketed` re-executes the
    # boundary percentile pass and the bucket assignment over the whole
    # input a second time, while this input is the same shuffle the
    # window stage already wrote (reused at runtime).  count = MAX(local
    # row_number) (exact: _LRN is 1..n per bucket); value sum = the
    # running sum at the last row, selected by MAX(struct(_LRN, _LPS))
    # (_LRN unique within the bucket, so the struct max IS the last
    # row's _LPS).
    aggs = [F.max(F.col(_LRN)).alias("_sg_cnt")]
    if prefix_sum:
        aggs.append(
            F.max(F.struct(F.col(_LRN), F.col(_LPS))).getField(_LPS).alias("_sg_vsum")
        )
    per = local.groupBy(_BKT).agg(*aggs)
    woff = Window.partitionBy(bounded_window_key(_BKT)).orderBy(_BKT)
    excl = woff.rowsBetween(Window.unboundedPreceding, -1)
    full = woff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    off_cols = [
        F.col(_BKT),
        F.coalesce(F.sum("_sg_cnt").over(excl), F.lit(0)).cast("long").alias(_OFF),
        F.sum("_sg_cnt").over(full).cast("long").alias(_N),
    ]
    if prefix_sum:
        off_cols.append(
            F.coalesce(F.sum("_sg_vsum").over(excl), F.lit(0)).alias(_VOFF)
        )
    offs = per.select(*off_cols)

    out = local.join(F.broadcast(offs), _BKT)
    result_cols = [F.col(c) for c in df.columns]
    if row_number_col:
        result_cols.append((F.col(_OFF) + F.col(_LRN)).alias(row_number_col))
    if ntile:
        name, k = ntile
        rn = F.col(_OFF) + F.col(_LRN)
        result_cols.append(_ntile_expr(rn, F.col(_N), k).alias(name))
    if prefix_sum:
        result_cols.append((F.col(_VOFF) + F.col(_LPS)).alias(prefix_sum[0]))
    return out.select(*result_cols)
