"""Iterative graph analytics over edge DataFrames.

Connected components (the transitive-dedup workhorse) lives in
``operators/dedup.py``; this module adds rank propagation. The engine
has no graph abstraction and needs none — a graph IS an edge DataFrame,
and each iteration is one join + one aggregate, the same shuffle
economics as everything else at 100 TB (shuffle keys are vertex ids,
payloads are single longs; document bodies never move).

Determinism discipline: ranks are SCALED INTEGERS (fixed-point), all
arithmetic is integer multiply/floor-divide, and integer sums are
order-insensitive under any partial-aggregation schedule — so a
1000-executor run, a local[32] run, and a DuckDB oracle produce
BIT-IDENTICAL ranks (float PageRank drifts with partition order, which
is why the float form can never be hash-checked across engines; same
policy as ``unigram_surprisal_docs``'s per-token quantization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rank scale: ranks live in [0, SCALE] ≈ [0.0, 1.0]
SCALE = 1_000_000_000_000


def pagerank_fixed_point(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = SCALE,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank with integer fixed-point arithmetic, exact across
    engines and cluster layouts.

    Per iteration (the standard power step, damping d = damping_pct %):

        r'(v) = ((100-d)·scale) div (100·N)  +  (d · Σ_{u→v} r(u) div deg(u)) div 100

    with every operation an integer multiply or floor-divide. Dangling
    mass is dropped (the common simplification) — both engines apply
    the identical formula, so results still hash-match. Plan shape per
    round: edges ⋈ ranks (shuffle on src) → groupBy dst sum (shuffle on
    dst) → left join back to vertices; out-degrees compute once. N
    rides along as a broadcast one-row aggregate, so building the plan
    runs ZERO driver jobs (registry lazy-build rule) and `iterations`
    bounds plan depth — for long chains, localCheckpoint per round as
    in ``connected_components``.

    ``weight_col`` (INTEGER weights — quantize similarities first, e.g.
    ``round(jaccard·10⁶)``) makes propagation weight-proportional:
    ``contrib(u→v) = (r(u)·w(u,v)) div W(u)`` with ``W(u)`` the sum of
    u's out-weights — still all-integer, still order-insensitive.
    Overflow bound: ``scale · max_weight`` must stay below 2⁶³
    (10¹² · 10⁶ fits).

    Returns ``(id_col, rank_fp)`` — rank_fp/scale is the conventional
    float rank.
    """
    keep = 100 - damping_pct
    if weight_col is None:
        e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        deg_agg = F.count(F.lit(1)).alias("deg")
        contrib_expr = "r div deg"
    else:
        e = edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        deg_agg = F.sum("w").alias("deg")
        contrib_expr = "(r * w) div deg"
    # NOT pinned, deliberately (r8 measurement): the edge list is often
    # an expensive subtree (near-dup queries feed the full inverted-
    # index Jaccard plan in here) referenced once per round, but
    # Spark's ReuseExchange/AQE stage reuse already dedupes the
    # identical subtrees within one execution — bench-methodology
    # timings with localCheckpoint pins on e/deg/ranks were 4.7x SLOWER
    # (8.7 s vs 1.9 s at sf0.1): under AQE each pin materializes its
    # upstream stages eagerly per DataFrame build, paying the subtree
    # once per pin instead of once per run. For iteration counts large
    # enough that PLAN SIZE itself becomes the cost, checkpoint per
    # round as in ``connected_components``.
    deg = e.groupBy("src").agg(deg_agg)
    n_df = vertices.agg(F.count(F.lit(1)).alias("__n"))
    ranks = (
        vertices.select(F.col(id_col).alias("v"))
        .crossJoin(F.broadcast(n_df))
        .withColumn("r", F.expr(f"{scale} div __n"))
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks.select("v", "r"), e.src == F.col("v"))
            .join(deg, "src")
            .select(F.col("dst").alias("v"), F.expr(contrib_expr).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            ranks.select("v", "__n")
            .join(contribs, "v", "left")
            .withColumn(
                "r",
                F.expr(
                    f"({keep} * {scale}) div (100 * __n)"
                    f" + ({damping_pct} * coalesce(s, 0)) div 100"
                ),
            )
            .drop("s")
        )
    return ranks.select(F.col("v").alias(id_col), F.col("r").alias("rank_fp"))


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected
    graph, by degree-ordered edge orientation (the MapReduce-classic
    scheme of Suri & Vassilvitskii, "Counting Triangles and the Curse
    of the Last Reducer", WWW'11).

    Input edges may be directed/duplicated; they canonicalize to one
    (lo, hi) row per undirected edge first. Each edge is then oriented
    from its lower-rank endpoint under the total order
    (degree, id) — so wedges form only at LOW-degree vertices, bounding
    intermediate wedge volume by O(m^1.5) regardless of skew: a
    celebrity vertex of degree d generates no d² wedge explosion
    because its edges all point INTO it. Each triangle {a,b,c} with
    a ≺ b ≺ c materializes exactly once as wedge (a→b, a→c) closed by
    edge b→c.

    Plan: two self-joins on vertex-id shuffle keys (wedge build +
    closure semi-join), payloads are pairs of longs. At 100 TB the
    closure join's probe side is the oriented edge list itself —
    skew-safe by the orientation argument above.
    """
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    e = (
        edges.select(
            F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        e.select(F.col("lo").alias("v"))
        .unionAll(e.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge lower-rank -> higher-rank under (deg, id)
    ranked = (
        e.join(deg.withColumnsRenamed({"v": "lo", "deg": "dlo"}), "lo")
        .join(deg.withColumnsRenamed({"v": "hi", "deg": "dhi"}), "hi")
    )
    lo_first = (F.col("dlo") < F.col("dhi")) | (
        (F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = ranked.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("w"),
    )
    # wedges at the low-rank apex u: (u->v, u->w) with v before w in
    # orientation order — close with oriented edge v->w
    o1 = oriented.withColumnsRenamed({"u": "u", "w": "v"})
    wedges = o1.join(oriented, "u").filter(F.col("v") != F.col("w"))
    tri = wedges.join(
        oriented.withColumnsRenamed({"u": "v"}), ["v", "w"], "leftsemi"
    )
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return per_node


def clustering_coefficients(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per vertex — how close a vertex's
    neighborhood is to a clique: triangles(v) / C(deg(v), 2). Built
    directly on :func:`triangle_counts` (degree-oriented, skew-proof)
    plus one degree aggregate; vertices of degree < 2 are excluded
    (coefficient undefined).

    Determinism: the coefficient is emitted as the exact integer pair
    (``triangles``, ``wedges`` = deg·(deg−1)/2) plus their rounded
    ratio — the integers are the hash-safe contract, the ratio is one
    double division (identical in any engine)."""
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    e = (
        edges.select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        e.select(F.col("lo").alias("v"))
        .unionAll(e.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= 2)
    )
    tri = triangle_counts(edges, src_col, dst_col)
    wedges = (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
    return (
        deg.join(tri, "v", "left")
        .select(
            "v",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            wedges.alias("wedges"),
        )
        .withColumn(
            "coefficient",
            F.round(F.col("triangles") / F.col("wedges"), 6),
        )
    )


def _kcore_driver(spark, lo, hi, k: int) -> DataFrame:
    """Driver-side simultaneous-round peel over COMPACT int arrays for
    SMALL edge lists (entered only through :func:`k_core`'s size gate —
    the same size-adaptive discipline as
    ``connected_components(algorithm="auto")``): the k-core is the
    UNIQUE maximal subgraph of min-degree ≥ k, so any peel order (the
    distributed simultaneous rounds, the oracle's 16-round unroll, this
    vectorized round loop) reaches the identical fixpoint.

    Memory bound: ``lo``/``hi`` arrive as two int64 numpy arrays (16
    bytes/edge) and the peel adds one int64 degree array per distinct
    vertex plus two boolean masks — ~26 bytes/edge at the 1M-edge gate,
    ~26 MB of driver heap. (The r8 form built a dict-of-Python-sets
    adjacency from collected Row objects: ~2M boxed entries, hundreds
    of MB at the gate boundary — the r8 verdict's item 4.) Each round
    is O(E) numpy work; rounds are bounded by the peel depth, the same
    convergence the distributed loop pays per round in full stages."""
    import numpy as np
    from pyspark.sql import types as T

    verts, inv = np.unique(np.concatenate([lo, hi]), return_inverse=True)
    e_lo, e_hi = inv[: len(lo)], inv[len(lo):]
    n_v = len(verts)
    deg = np.bincount(e_lo, minlength=n_v) + np.bincount(e_hi, minlength=n_v)
    alive_v = np.ones(n_v, dtype=bool)
    alive_e = np.ones(len(e_lo), dtype=bool)
    while True:
        dead = alive_v & (deg < k)
        if not dead.any():
            break
        alive_v &= ~dead
        kill = alive_e & (dead[e_lo] | dead[e_hi])
        if kill.any():
            deg -= np.bincount(e_lo[kill], minlength=n_v) + np.bincount(
                e_hi[kill], minlength=n_v
            )
            alive_e &= ~kill
    out = [
        (int(v), int(d))
        for v, d in zip(verts[alive_v], deg[alive_v])
    ]
    schema = T.StructType(
        [
            T.StructField("v", T.LongType(), False),
            T.StructField("core_degree", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(out, schema)


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 32,
) -> DataFrame:
    """The k-core of an undirected graph — the maximal subgraph where
    every vertex keeps degree ≥ k — by iterative peeling: drop every
    vertex below degree k, recompute degrees over the surviving edges,
    repeat until a round removes nothing. The standard community /
    spam-subgraph densification filter (cores survive where stars and
    chains dissolve).

    Input edges may be directed/duplicated; they canonicalize to one
    (lo, hi) row per undirected edge first. Each round is one degree
    aggregate + two left-semi joins over the EDGE list only; the edge
    frame is ``localCheckpoint``-ed per round so lineage stays flat,
    and the convergence check rides the same materialization (the
    surviving-edge count is a driver scalar — the
    :func:`connected_components` loop discipline). Peeling converges
    in at most |V| rounds but in practice in O(diameter)-ish rounds;
    ``max_iterations`` is a hard stop far above any observed depth.

    Returns (v, core_degree) for every vertex of the k-core, with its
    degree inside the core (≥ k by construction).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    e_plan = (
        edges.select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    # size gate: the pinned canonical edge list is counted once, so the
    # distinct shuffle runs exactly once for EITHER branch. Under the
    # gate the edges come back as two int64 numpy arrays via Arrow (16
    # bytes/edge; see _kcore_driver's memory bound).
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import size_gate

    e, n_edges, small = size_gate(e_plan, "k_core")
    if small:
        pdf = e.toPandas()
        return _kcore_driver(
            edges.sparkSession,
            pdf["lo"].to_numpy(),
            pdf["hi"].to_numpy(),
            k,
        )
    for _ in range(max_iterations):
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("lo").alias("v"))
            .unionAll(e.select(F.col("hi").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("v")
        # lazy checkpoint + count: the count action materializes the
        # checkpoint blocks in the SAME job (eager=True paid a separate
        # materialization job before every count — one extra scheduling
        # round-trip per peel round)
        pruned = e.join(
            keep.withColumnRenamed("v", "lo"), "lo", "leftsemi"
        ).join(
            keep.withColumnRenamed("v", "hi"), "hi", "leftsemi"
        ).localCheckpoint(eager=False)
        n_pruned = pruned.count()
        if n_pruned == n_edges:
            break
        e, n_edges = pruned, n_pruned
    return (
        e.select(F.col("lo").alias("v"))
        .unionAll(e.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def link_prediction(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 50,
    max_pivot_degree: int | None = None,
) -> DataFrame:
    """Top-``k`` predicted links of an undirected graph — the highest
    Adamic-Adar-scored NON-edges (Liben-Nowell & Kleinberg 2003), with
    common-neighbor counts and Jaccard overlap alongside.

    Candidates come from the wedge join (two neighbors of a shared
    pivot) — exactly the triangle-counting pair space, minus existing
    edges via one left-anti join. Scores stay deterministic under any
    partitioning: each pivot's Adamic-Adar weight ``1/ln(degree)`` is
    rounded to 6 decimals and scaled to an exact integer BEFORE the
    per-pair sum (summing raw doubles would make the hash depend on
    aggregation order), and Jaccard is one double division of exact
    integers. Output ordering ``(aa_micro, common, pair)`` is a total
    order, so the top-k cut is reproducible.

    Scale shape: wedge volume is Σ deg(p)² over pivots — the same
    economics as :func:`triangle_counts`. ``max_pivot_degree`` drops
    super-hub pivots from candidate generation (standard practice: a
    hub's wedges are noise, and one hub can dominate Σ deg²); the cut
    changes which candidates exist and is therefore part of the
    operator's declared semantics, not an approximation knob.

    Returns ``(part_a, part_b, common_nbrs, aa_micro, jaccard_r6)``.
    """
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    e = (
        edges.select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    und = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
        e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # round straight to integer micro-units: round(x, 6) * 1e6 puts a
    # float multiply AFTER the rounding, and a .999999 product would
    # truncate one unit low in the long cast
    wt = deg.filter(F.col("d") >= 2).select(
        "u",
        F.round(F.lit(1_000_000.0) / F.log(F.col("d").cast("double")), 0)
        .cast("long")
        .alias("w_micro"),
    )
    if max_pivot_degree is not None:
        wt = wt.join(
            deg.filter(F.col("d") <= max_pivot_degree).select("u"), "u"
        )
    l, r = und.alias("l"), und.alias("r")
    wedge = l.join(
        r, (F.col("l.u") == F.col("r.u")) & (F.col("l.v") < F.col("r.v"))
    ).select(
        F.col("l.v").alias("x"), F.col("r.v").alias("y"), F.col("l.u").alias("p")
    )
    cand = (
        wedge.join(wt.withColumnRenamed("u", "p"), "p")
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("common_nbrs"),
            F.sum("w_micro").alias("aa_micro"),
        )
    )
    nonedge = cand.join(
        e,
        (cand["x"] == e["lo"]) & (cand["y"] == e["hi"]),
        "left_anti",
    )
    dx = deg.select(F.col("u").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("u").alias("y"), F.col("d").alias("dy"))
    scored = (
        nonedge.join(dx, "x")
        .join(dy, "y")
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "common_nbrs",
            "aa_micro",
            F.round(
                F.col("common_nbrs")
                / (F.col("dx") + F.col("dy") - F.col("common_nbrs")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard_r6"),
        )
    )
    return scored.orderBy(
        F.desc("aa_micro"), F.desc("common_nbrs"), "part_a", "part_b"
    ).limit(k)
