"""Spatial join via grid blocking — the classic point-in-rectangle
workload expressed relationally, with the candidate-generation pattern
(cover every rectangle by the grid cells it touches, hash-join points
to cells, verify exact containment on candidates only) that scales the
same way every spatial engine's partitioned R-tree does.

No geo library exists in this environment (and none is needed for
axis-aligned rectangles): geometry is pure arithmetic, which also makes
the whole operator oracle-checkable in DuckDB.

Synthetic geometry derives deterministically from the fixtures:
- points: one per event — x = value (0..100-ish), y = user_id % 100;
- rectangles: one per region×5 offsets — a deterministic 25-rect grid
  spread over the same domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_hadoop_loader_spark.catalog import table
from kafka_hadoop_loader_spark.registry import register

_CELL = 10.0  # grid cell size; rectangles are ≤ 2 cells wide


@register(
    "spatial_join_grid",
    oracle=f"""
        WITH pts AS (
            SELECT event_id,
                   value AS x,
                   CAST(user_id % 100 AS DOUBLE) AS y
            FROM events
        ),
        rects AS (
            SELECT r_regionkey * 5 + o AS rect_id,
                   CAST(r_regionkey * 17 + o * 13 AS DOUBLE) AS x_lo,
                   CAST(r_regionkey * 17 + o * 13 + 11 AS DOUBLE) AS x_hi,
                   CAST(r_regionkey * 23 + o * 7 AS DOUBLE) AS y_lo,
                   CAST(r_regionkey * 23 + o * 7 + 15 AS DOUBLE) AS y_hi
            FROM region, unnest(generate_series(0, 4)) AS u(o)
        ),
        rect_cells AS (
            SELECT rect_id, x_lo, x_hi, y_lo, y_hi, cx, cy
            FROM rects,
                 unnest(generate_series(CAST(FLOOR(x_lo / {_CELL}) AS INT),
                                        CAST(FLOOR(x_hi / {_CELL}) AS INT))) AS ux(cx),
                 unnest(generate_series(CAST(FLOOR(y_lo / {_CELL}) AS INT),
                                        CAST(FLOOR(y_hi / {_CELL}) AS INT))) AS uy(cy)
        ),
        pt_cells AS (
            SELECT event_id, x, y,
                   CAST(FLOOR(x / {_CELL}) AS INT) AS cx,
                   CAST(FLOOR(y / {_CELL}) AS INT) AS cy
            FROM pts
        ),
        hits AS (
            SELECT r.rect_id, p.event_id
            FROM pt_cells p JOIN rect_cells r
              ON p.cx = r.cx AND p.cy = r.cy
            WHERE p.x >= r.x_lo AND p.x < r.x_hi
              AND p.y >= r.y_lo AND p.y < r.y_hi
        )
        SELECT r.rect_id,
               CAST(COUNT(h.event_id) AS BIGINT) AS n_points,
               CAST(MIN(h.event_id) AS BIGINT) AS min_event_id
        FROM rects r LEFT JOIN hits h ON r.rect_id = h.rect_id
        GROUP BY r.rect_id
        ORDER BY r.rect_id
    """,
    doc="""Point-in-rectangle spatial join with GRID BLOCKING: each
    rectangle is replicated to every grid cell it overlaps, each point
    hashes to exactly one cell, and the join is a plain equi-join on
    (cx, cy) followed by exact containment verification — candidates
    only, never all-pairs.  Half-open edges ([lo, hi)) make membership
    unambiguous on boundaries.

    Scale: this is the partitioned-spatial-join shape (SpatialSpark /
    Sedona's grid partitioner): replication factor = avg cells per
    rectangle (≤ 4 here), the join shuffles on cell key so co-located
    cells join locally, and skewed cells split further by salting the
    cell key.  A theta-join (p.x BETWEEN r.x_lo AND r.x_hi AND …)
    would be a broadcast nested loop — fine for 25 rectangles, fatal
    for 25 million; the blocking form is linear in points + replicated
    rectangles either way.""",
)
def spatial_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    r = table(spark, sf_dir, "region")
    pts = e.select(
        "event_id",
        F.col("value").alias("x"),
        (F.col("user_id") % 100).cast("double").alias("y"),
    )
    offsets = F.explode(F.sequence(F.lit(0), F.lit(4))).alias("o")
    rects = r.select("r_regionkey", offsets).select(
        (F.col("r_regionkey") * 5 + F.col("o")).alias("rect_id"),
        (F.col("r_regionkey") * 17 + F.col("o") * 13).cast("double").alias("x_lo"),
        (F.col("r_regionkey") * 17 + F.col("o") * 13 + 11).cast("double").alias("x_hi"),
        (F.col("r_regionkey") * 23 + F.col("o") * 7).cast("double").alias("y_lo"),
        (F.col("r_regionkey") * 23 + F.col("o") * 7 + 15).cast("double").alias("y_hi"),
    )
    cell = lambda c: F.floor(c / _CELL).cast("int")  # noqa: E731
    rect_cells = rects.select(
        "*",
        F.explode(F.sequence(cell(F.col("x_lo")), cell(F.col("x_hi")))).alias("cx"),
    ).select(
        "*",
        F.explode(F.sequence(cell(F.col("y_lo")), cell(F.col("y_hi")))).alias("cy"),
    )
    pt_cells = pts.select(
        "event_id", "x", "y", cell(F.col("x")).alias("cx"), cell(F.col("y")).alias("cy")
    )
    hits = (
        pt_cells.join(F.broadcast(rect_cells), ["cx", "cy"])
        .where(
            (F.col("x") >= F.col("x_lo"))
            & (F.col("x") < F.col("x_hi"))
            & (F.col("y") >= F.col("y_lo"))
            & (F.col("y") < F.col("y_hi"))
        )
        .select("rect_id", "event_id")
    )
    return (
        rects.join(hits, "rect_id", "left")
        .groupBy("rect_id")
        .agg(
            F.count("event_id").alias("n_points"),
            F.min("event_id").alias("min_event_id"),
        )
        .orderBy("rect_id")
    )


# --- Geohash --------------------------------------------------------------
_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_bits(div: str) -> str:
    """25-bit interleave (lon MSB first, as geohash specifies) as one
    integer expression over columns (x13, y12); ``div`` spells integer
    division per engine (Spark ``DIV``, DuckDB ``//``) — on non-negative
    operands both truncate identically."""
    terms = []
    for i in range(13):  # lon bit 12-i -> output bit 24-2i
        terms.append(f"(((x13 {div} {1 << (12 - i)}) % 2) * {1 << (24 - 2 * i)})")
    for j in range(12):  # lat bit 11-j -> output bit 23-2j
        terms.append(f"(((y12 {div} {1 << (11 - j)}) % 2) * {1 << (23 - 2 * j)})")
    return " + ".join(terms)


def _geohash_chars(div: str, substr_fn: str) -> str:
    """5-char base32 string from the 25-bit integer column ``g``."""
    parts = [
        f"{substr_fn}('{_GH_ALPHABET}', CAST((g {div} {32 ** (4 - i)}) % 32 AS INT) + 1, 1)"
        for i in range(5)
    ]
    return " || ".join(parts) if substr_fn == "substr" else f"CONCAT({', '.join(parts)})"


@register(
    "spatial_geohash",
    oracle=f"""
        WITH pos AS (
            SELECT c_custkey,
                   (c_custkey * 7919) % 360000 AS lon_md,
                   (c_custkey * 104729) % 180000 AS lat_md
            FROM customer
        ),
        grid AS (
            SELECT c_custkey,
                   (lon_md * 8192) // 360000 AS x13,
                   (lat_md * 4096) // 180000 AS y12
            FROM pos
        ),
        coded AS (
            SELECT c_custkey, {_geohash_bits('//')} AS g
            FROM grid
        ),
        named AS (
            SELECT c_custkey, {_geohash_chars('//', 'substr')} AS geohash5
            FROM coded
        )
        SELECT substr(geohash5, 1, 3) AS cell3,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(COUNT(DISTINCT geohash5) AS BIGINT) AS n_cells5,
               CAST(MIN(c_custkey) AS BIGINT) AS min_custkey,
               CAST(MAX(c_custkey) AS BIGINT) AS max_custkey
        FROM named
        GROUP BY cell3
        ORDER BY cell3
    """,
    doc="""Geohash encoding + hierarchical cell census — the spatial
    bucketing primitive behind location sharding, proximity blocking,
    and map tiling: synthesize a deterministic lat/lon per customer on
    an integer milli-degree grid, encode the standard 5-character
    geohash (13 lon bits + 12 lat bits interleaved lon-first, base32
    alphabet), and report per 3-character parent cell the customer
    count, distinct child-cell count, and key range.  Prefix truncation
    IS spatial containment — the property that makes geohash a
    join/partition key (neighbor search = probe a cell and its 8
    neighbors at the precision that bounds the radius).

    Cross-engine exactness: the fixed-point grid, the bit interleave
    (generated from one template, engine-spelled integer division on
    non-negative operands), and the base32 table lookup are all exact
    integer/string ops — no floating point anywhere.

    Scale: encoding is map-only and fuses into the scan; the census is
    one map-side-combining aggregate on the cell key.  At 100 TB the
    geohash string is the partition/bucket column — range- or
    hash-partitioned writes give physical locality for free because
    lexicographic order on geohashes approximates spatial order.""",
)
def spatial_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    grid = c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 360000) * 8192).alias("_lx"),
        (((F.col("c_custkey") * 104729) % 180000) * 4096).alias("_ly"),
    ).select(
        "c_custkey",
        F.expr("_lx DIV 360000").alias("x13"),
        F.expr("_ly DIV 180000").alias("y12"),
    )
    coded = grid.select(
        "c_custkey", F.expr(_geohash_bits("DIV")).alias("g")
    )
    named = coded.select(
        "c_custkey",
        F.expr(_geohash_chars("DIV", "substring")).alias("geohash5"),
    )
    return (
        named.groupBy(F.substring("geohash5", 1, 3).alias("cell3"))
        .agg(
            F.count("*").alias("n_customers"),
            F.countDistinct("geohash5").alias("n_cells5"),
            F.min("c_custkey").alias("min_custkey"),
            F.max("c_custkey").alias("max_custkey"),
        )
        .orderBy("cell3")
    )


# --- DBSCAN with grid blocking -----------------------------------------

_DB_EPS2 = 900   # eps = 30 on the 1000x1000 integer plane
_DB_CELL = 30    # grid cell = eps: neighbors live in the 3x3 block
_DB_MINPTS = 5   # |N_eps(p)| >= 5 including p itself
_DB_ROUNDS = 6   # star-contraction rounds for core-core components


@register(
    "spatial_dbscan_grid",
    oracle=f"""
        WITH RECURSIVE pts AS (
            SELECT c_custkey AS k,
                   (c_custkey * 7919) % 1000 AS x,
                   (c_custkey * 104729) % 1000 AS y
            FROM customer
        ),
        pairs AS (
            SELECT a.k AS ka, b.k AS kb
            FROM pts a JOIN pts b
              ON a.k <> b.k
             AND (a.x - b.x) * (a.x - b.x)
               + (a.y - b.y) * (a.y - b.y) <= {_DB_EPS2}
        ),
        ncnt AS (
            SELECT ka AS k, CAST(COUNT(*) AS BIGINT) AS nn
            FROM pairs GROUP BY ka
        ),
        core AS (
            SELECT k FROM ncnt WHERE nn + 1 >= {_DB_MINPTS}
        ),
        edges AS (
            SELECT p.ka AS src, p.kb AS dst FROM pairs p
            JOIN core c1 ON p.ka = c1.k JOIN core c2 ON p.kb = c2.k
        ),
        reach(id, label) AS (
            SELECT k, k FROM core
            UNION
            SELECT e.dst AS id, r.label
            FROM reach r JOIN edges e ON r.id = e.src
            WHERE r.label < e.dst
        ),
        cc AS (
            SELECT id AS k, MIN(label) AS cluster_id FROM reach GROUP BY id
        ),
        border AS (
            SELECT p.ka AS k, MIN(cc.cluster_id) AS cluster_id
            FROM pairs p
            JOIN cc ON p.kb = cc.k
            WHERE p.ka NOT IN (SELECT k FROM core)
            GROUP BY p.ka
        )
        SELECT pts.k AS c_custkey, pts.x, pts.y,
               CASE WHEN cc.k IS NOT NULL THEN 'core'
                    WHEN border.k IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               COALESCE(cc.cluster_id, border.cluster_id) AS cluster_id,
               TRUE AS converged
        FROM pts
        LEFT JOIN cc ON pts.k = cc.k
        LEFT JOIN border ON pts.k = border.k
        ORDER BY c_custkey
    """,
    doc=f"""DBSCAN density clustering with GRID BLOCKING — the spatial
    clustering workhorse (store siting, hotspot detection, GPS-trace
    stop extraction) in its distributed form: points on a deterministic
    integer plane (the spatial_geohash synthesis convention, so every
    distance-squared is exact BIGINT arithmetic — no float epsilon
    anywhere), eps^2 = {_DB_EPS2}, minPts = {_DB_MINPTS}.  Core points
    have >= minPts eps-neighbors (self included); core-core edges feed
    the SAME certified star contraction as graph_connected_components
    (converged column, oracle-pinned TRUE); border points adopt the
    MIN cluster among their core neighbors; the rest is noise.

    Neighbor generation NEVER goes all-pairs: each point is replicated
    to its 3x3 neighboring grid cells (cell = eps) and joined on the
    cell key — the spatial_join_grid discipline — so the join is
    linear in points x local density.  The oracle uses the exhaustive
    O(n^2) distance join + a recursive-CTE fixpoint (feasible at
    sf0.01; that infeasibility at scale is the point), making both the
    blocking completeness AND the round count verifiable.

    Scale: shuffle on cell keys, per-cell candidate lists bounded by
    density x eps^2; at 100 TB pick cell = eps and salt mega-cells
    (urban cores) exactly as skew-join salting — the plan shape is
    unchanged.""",
)
def spatial_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_hadoop_loader_spark.operators.graph import (
        star_contract_certified,
    )

    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("k"),
        ((F.col("c_custkey") * 7919) % 1000).alias("x"),
        ((F.col("c_custkey") * 104729) % 1000).alias("y"),
    )
    withcell = pts.select(
        "k", "x", "y",
        F.expr(f"x DIV {_DB_CELL}").alias("cx"),
        F.expr(f"y DIV {_DB_CELL}").alias("cy"),
    )
    d = spark.range(-1, 2).select(F.col("id").cast("int").alias("dx"))
    d2 = spark.range(-1, 2).select(F.col("id").cast("int").alias("dy"))
    reps = (
        withcell.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(d2))
        .select(
            F.col("k").alias("kb"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            (F.col("cx") + F.col("dx")).alias("rcx"),
            (F.col("cy") + F.col("dy")).alias("rcy"),
        )
    )
    dist2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    pairs = (
        withcell.join(
            reps,
            (F.col("cx") == F.col("rcx"))
            & (F.col("cy") == F.col("rcy"))
            & (F.col("k") != F.col("kb")),
        )
        .where(dist2 <= _DB_EPS2)
        .select(F.col("k").alias("ka"), "kb")
        # referenced by ncnt, core_edges AND border: one LAZY cut runs
        # the 3x3-cell neighbor join once instead of three times (the
        # r13 plan audit showed the grid join duplicated per consumer).
        .localCheckpoint(eager=False)
    )
    ncnt = pairs.groupBy("ka").agg(F.count(F.lit(1)).alias("nn"))
    # NOT cut: core is a cheap aggregate over the (cut) pairs table, and
    # cutting it replaces known-small size stats with an opaque
    # ExistingRDD, degrading the downstream join planning (measured r13:
    # pairs-only 8.6s vs pairs+core 10.6s at sf0.1).
    core = ncnt.where(F.col("nn") + 1 >= _DB_MINPTS).select(
        F.col("ka").alias("k")
    )
    ca = core.select(F.col("k").alias("ka")).withColumn("_ca", F.lit(1))
    cb = core.select(F.col("k").alias("kb")).withColumn("_cb", F.lit(1))
    # No distinct: `pairs` carries no duplicate (ka, kb) rows by
    # construction — a qualifying pair has cell delta <= 1 on both axes,
    # so exactly ONE of kb's 9 replicas lands in ka's cell (the join
    # condition pins (dx, dy) = cell_a - cell_b uniquely) — and the
    # ka < kb filter keeps one orientation, so the edge list is already
    # unique.  The distinct planned exchange-free (the kb-join's
    # partitioning satisfied it) but still hash-deduped EVERY core edge
    # for nothing; removal proven row-identical at sf0.001/sf0.01 (r13).
    core_edges = (
        pairs.join(ca, "ka")
        .join(cb, "kb")
        .where(F.col("ka") < F.col("kb"))
        .select(F.col("ka").alias("u"), F.col("kb").alias("v"))
    )
    labels, cert = star_contract_certified(core_edges, _DB_ROUNDS)
    # NOT cut for the same stats reason; labels is already cut inside
    # star_contract_certified, so re-deriving cc per consumer is cheap.
    cc = core.join(labels, core.k == labels.node, "left").select(
        "k", F.coalesce(F.col("comp"), F.col("k")).alias("cluster_id")
    )
    border = (
        pairs.join(
            cc.select(F.col("k").alias("kb"), F.col("cluster_id").alias("bc")),
            "kb",
        )
        .join(ca.select(F.col("ka"), F.col("_ca")), "ka", "left_anti")
        .groupBy("ka")
        .agg(F.min("bc").alias("b_cluster"))
        .select(F.col("ka").alias("k"), "b_cluster")
    )
    return (
        pts.join(
            cc.select(F.col("k"), F.col("cluster_id").alias("core_cluster")),
            "k",
            "left",
        )
        .join(border, "k", "left")
        .select(
            F.col("k").alias("c_custkey"),
            "x",
            "y",
            F.when(F.col("core_cluster").isNotNull(), "core")
            .when(F.col("b_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("core_cluster"), F.col("b_cluster")).alias(
                "cluster_id"
            ),
        )
        .crossJoin(F.broadcast(cert))
        .orderBy("c_custkey")
    )


# --- Farthest-first k-center seeding -----------------------------------

_KC_K = 8  # number of seeds


def _kc_round_sql(prev_pts: str, prev_c: str, i: int) -> str:
    """Pick center i = the point farthest from its nearest chosen
    center (ties to the smallest key), then fold the new distance in."""
    return f"""
        c{i} AS (
            SELECT k AS ck, x AS cx, y AS cy FROM {prev_pts}
            ORDER BY mind DESC, k LIMIT 1
        ),
        p{i} AS (
            SELECT p.k, p.x, p.y,
                   LEAST(p.mind,
                         (p.x - c.cx) * (p.x - c.cx)
                         + (p.y - c.cy) * (p.y - c.cy)) AS mind
            FROM {prev_pts} p CROSS JOIN c{i} c
        )
"""


_KC_ROUNDS_SQL = ",".join(
    _kc_round_sql(f"p{i - 1}", f"c{i - 1}", i).strip()
    for i in range(2, _KC_K + 1)
)


@register(
    "kmeans_seed_farthest",
    oracle=f"""
        WITH pts AS (
            SELECT c_custkey AS k,
                   (c_custkey * 7919) % 1000 AS x,
                   (c_custkey * 104729) % 1000 AS y,
                   CAST(('0x' || substr(md5('kpp:'
                        || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                       AS h
            FROM customer
        ),
        c1 AS (
            SELECT k AS ck, x AS cx, y AS cy FROM pts
            ORDER BY h, k LIMIT 1
        ),
        p1 AS (
            SELECT p.k, p.x, p.y,
                   (p.x - c.cx) * (p.x - c.cx)
                   + (p.y - c.cy) * (p.y - c.cy) AS mind
            FROM pts p CROSS JOIN c1 c
        ),
        {_KC_ROUNDS_SQL},
        centers AS (
            {" UNION ALL ".join(
                f"SELECT {i} AS seed_order, ck, cx, cy FROM c{i}"
                for i in range(1, _KC_K + 1)
            )}
        ),
        assign AS (
            SELECT p.k, c.seed_order,
                   row_number() OVER (
                       PARTITION BY p.k
                       ORDER BY (p.x - c.cx) * (p.x - c.cx)
                                + (p.y - c.cy) * (p.y - c.cy),
                                c.seed_order) AS rk,
                   (p.x - c.cx) * (p.x - c.cx)
                   + (p.y - c.cy) * (p.y - c.cy) AS d2
            FROM pts p CROSS JOIN centers c
        )
        SELECT c.seed_order, c.ck AS c_custkey, c.cx AS x, c.cy AS y,
               CAST(COUNT(a.k) AS BIGINT) AS n_assigned,
               CAST(MAX(a.d2) AS BIGINT) AS radius_sq
        FROM centers c LEFT JOIN (SELECT * FROM assign WHERE rk = 1) a
          ON c.seed_order = a.seed_order
        GROUP BY c.seed_order, c.ck, c.cx, c.cy
        ORDER BY c.seed_order
    """,
    doc=f"""Farthest-first traversal (Gonzalez) {_KC_K}-center seeding —
    the deterministic scale path for k-means++ initialization and
    coreset construction: seed 1 is the minimum-salted-hash point
    ("random" but reproducible, the sample_hash_split convention);
    each subsequent seed is the point FARTHEST from its nearest chosen
    center (exact integer distance-squared on the spatial plane, ties
    to the smallest key).  The greedy farthest-first prefix is a
    provable 2-approximation to the k-center optimum — the geometric
    guarantee kmeans_embeddings' random init lacks.  Output: each
    seed with its cluster's population and radius under the final
    nearest-seed assignment.

    Plan: {_KC_K - 1} unrolled rounds, each = one 1-row TakeOrdered
    (argmax of the running min-distance) broadcast back as a
    cross-join column fold — zero driver-side iteration; the lazy
    per-round lineage cut is the star_contract discipline.  The
    oracle replays the identical rounds as chained CTEs.

    Scale: each round is one scan + 1-row broadcast (k scans total —
    at 10^9 points you batch several seeds per pass with the k-means||
    oversampling trick; the greedy exact form here is the auditable
    baseline).  Assignment is points x {_KC_K} broadcast centers.""",
)
def kmeans_seed_farthest(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("k"),
        ((F.col("c_custkey") * 7919) % 1000).alias("x"),
        ((F.col("c_custkey") * 104729) % 1000).alias("y"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kpp:"), F.col("c_custkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).localCheckpoint(eager=False)

    def center_of(df, order_cols):
        return (
            df.orderBy(*order_cols)
            .limit(1)
            .select(
                F.col("k").alias("ck"),
                F.col("x").alias("cx"),
                F.col("y").alias("cy"),
            )
        )

    def d2(xa, ya, xb, yb):
        return (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)

    c1 = center_of(pts, [F.col("h"), F.col("k")])
    centers = [c1]
    p = (
        pts.crossJoin(F.broadcast(c1))
        .select(
            "k", "x", "y",
            d2(F.col("x"), F.col("y"), F.col("cx"), F.col("cy")).alias("mind"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(2, _KC_K + 1):
        ci = center_of(p, [F.col("mind").desc(), F.col("k")])
        centers.append(ci)
        p = (
            p.crossJoin(F.broadcast(ci))
            .select(
                "k", "x", "y",
                F.least(
                    F.col("mind"),
                    d2(F.col("x"), F.col("y"), F.col("cx"), F.col("cy")),
                ).alias("mind"),
            )
            .localCheckpoint(eager=False)
        )
    cent = None
    for i, ci in enumerate(centers, start=1):
        row = ci.select(F.lit(i).alias("seed_order"), "ck", "cx", "cy")
        cent = row if cent is None else cent.unionAll(row)
    # nearest-seed argmin by (d2, seed_order) as a MIN(struct) hash
    # aggregate (r13: was a row_number window — the agg partial-combines
    # the 8 candidate rows per point map-side, so the exchange carries
    # one row per point and needs no sort; results row-identical,
    # interleaved min-of-3 1.94s -> 1.70s).
    assign = (
        pts.crossJoin(F.broadcast(cent))
        .select(
            "k",
            "seed_order",
            d2(F.col("x"), F.col("y"), F.col("cx"), F.col("cy")).alias("d2"),
        )
        .groupBy("k")
        .agg(F.min(F.struct("d2", "seed_order")).alias("b"))
        .select(
            "k",
            F.col("b.seed_order").alias("seed_order"),
            F.col("b.d2").alias("d2"),
        )
    )
    return (
        cent.join(assign, "seed_order", "left")
        .groupBy("seed_order", "ck", "cx", "cy")
        .agg(
            F.count("k").cast("bigint").alias("n_assigned"),
            F.max("d2").cast("bigint").alias("radius_sq"),
        )
        .select(
            "seed_order",
            F.col("ck").alias("c_custkey"),
            F.col("cx").alias("x"),
            F.col("cy").alias("y"),
            "n_assigned",
            "radius_sq",
        )
        .orderBy("seed_order")
    )
