"""Embedding similarity search.

Two tiers over an ``array<float>`` embedding column:

- :func:`cosine_topk` — exact brute-force top-k against one query
  vector. At scale this is the *right* baseline: a single projection
  (fold over zip_with, all JVM-side) + TakeOrderedAndProject — no
  shuffle of the embedding column at all, partial top-k per partition,
  k rows to the driver.
- :func:`lsh_topk` — random-hyperplane LSH: bucket = sign bits of dot
  products with ``n_planes`` fixed hyperplanes; search only the query's
  bucket (optionally Hamming-adjacent buckets). Trades recall for a
  ~2^n_planes scan reduction; the hyperplanes are deterministic
  (seeded), so results are reproducible run-to-run.

All arithmetic is in double (embeddings cast element-wise) — float32
accumulation would make results depend on partitioning.
"""

from __future__ import annotations

import math
import os
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
    read_parquet_or_none,
)
from dea05_e2e_kafka_streaming_pipeline_spark.sources.txlog import (
    log_versions,
    manifest_path,
    resolve_version,
    write_json_atomic,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed in double."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    score = cosine_similarity(F.col(vec_col), q)
    if round_digits is not None:
        score = F.round(score, round_digits)
    return (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side; tiny)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _bucket_of(vec: Column, planes: list[list[float]]) -> Column:
    vd = F.transform(vec, lambda x: x.cast("double"))
    bits = None
    for i, p in enumerate(planes):
        pc = F.array(*[F.lit(v) for v in p])
        bit = F.when(_dot(vd, pc) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        bits = term if bits is None else bits.bitwiseXOR(term)
    return bits


def with_lsh_bucket(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the random-hyperplane bucket id (pre-computable and
    persistable — at 100 TB you write this column once at ingest and
    partition the table by it)."""
    return df.withColumn("lsh_bucket", _bucket_of(F.col(vec_col), planes))


def _hoisted_cols(id_col: str, vec_col: str) -> list[Column]:
    """Per-VECTOR projection for pair scoring: id, double-cast array,
    norm. Hoisting these out of the per-pair expression leaves one
    zip_with/fold dot product per pair — same values and float ops as
    casting/norming per pair (oracle-bit-identical), several times less
    interpreted higher-order-function work."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return [F.col(id_col).alias("id"), vd.alias("vd"), _norm(vd).alias("nrm")]


def _pair_score() -> Column:
    """Cosine score over two _hoisted_cols sides aliased 'l' and 'r'."""
    return _dot(F.col("l.vd"), F.col("r.vd")) / (F.col("l.nrm") * F.col("r.nrm"))


def _numpy_pair_score() -> Column:
    """Arrow-vectorized cosine over two _hoisted_cols sides: the whole
    batch of pair vectors lands as ONE (n, dim) float64 matrix and the
    dot products run as a single einsum — float64 accumulation (same
    dtype discipline as the fold in :func:`_dot`, which is interpreted
    expression-tree work per element and the one non-codegen hot loop
    the round-1 perf audit flagged). Agreement with the fold/DuckDB
    value is asserted by the `knn_score_violations` registered query and
    the oracle-matched pair queries."""
    import pandas as pd

    def score(va, vb, na, nb):
        import numpy as np

        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.vstack(va.to_numpy())
        b = np.vstack(vb.to_numpy())
        dots = np.einsum("ij,ij->i", a, b)
        return pd.Series(dots / (na.to_numpy() * nb.to_numpy()))

    # real (non-string) annotations: `from __future__ import annotations`
    # would stringify inline hints and break pandas_udf type inference
    score.__annotations__ = {
        "va": pd.Series,
        "vb": pd.Series,
        "na": pd.Series,
        "nb": pd.Series,
        "return": pd.Series,
    }
    udf = F.pandas_udf(score, "double")
    return udf(F.col("l.vd"), F.col("r.vd"), F.col("l.nrm"), F.col("r.nrm"))


def _pair_scorer(scorer: str) -> Column:
    if scorer == "expr":
        return _pair_score()
    if scorer == "numpy":
        return _numpy_pair_score()
    raise ValueError(
        f"unknown scorer: {scorer!r} (use 'expr', 'numpy', or 'matmul' — "
        "'matmul' is valid only with block_col)"
    )


def _blocked_matmul_pairs(
    base: DataFrame, threshold: float, id_type: str
) -> DataFrame:
    """Score every within-block pair of ``base`` (columns id, vd, nrm,
    b from :func:`_hoisted_cols`) with one chunked float64 matmul per
    block — the group-local form of :func:`cosine_all_pairs_matmul`'s
    kernel. One shuffle of n vector rows on the block id; pair rows
    exist only as the filtered output. Row chunking (4096) bounds the
    similarity-matrix slice at chunk×|block| regardless of block size,
    so an unexpectedly fat block degrades to more chunks, not an OOM.
    Score = dot / (nrm·nrm) like the pair-join scorers (norms computed
    engine-side in the same projection), rounded to 6 dp."""
    import pandas as pd

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        x = np.vstack(pdf["vd"].to_numpy())
        nrm = pdf["nrm"].to_numpy().astype("float64")
        ids = pdf["id"].to_numpy()
        outs = []
        for i0 in range(0, len(x), 4096):
            i1 = min(i0 + 4096, len(x))
            s = np.round(
                (x[i0:i1] @ x.T) / np.outer(nrm[i0:i1], nrm), 6
            )
            r, c = np.nonzero(s >= threshold)
            ia, ib, sc = ids[i0:i1][r], ids[c], s[r, c]
            keep = ia < ib
            outs.append(
                pd.DataFrame(
                    {"id_a": ia[keep], "id_b": ib[keep], "score": sc[keep]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    return base.groupBy("b").applyInPandas(
        score, f"id_a {id_type}, id_b {id_type}, score double"
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    block_col: str | None = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scorer: str = "numpy",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact within blocks.

    ``block_col`` bounds the pair space: comparisons happen only inside
    a block (a label, a shard, an LSH bucket column created by
    :func:`with_lsh_bucket`). ``block_col=None`` is the explicit
    opt-in to unblocked O(n²) all-pairs — fine for small inputs,
    never the 100 TB path.

    ``scorer``: ``"numpy"`` (default — Arrow-batched einsum over the
    pair batch; measured 2.1x faster than the fold at sf0.1 and
    round-6 bit-identical to it and to DuckDB), ``"expr"``
    (interpreted fold, zero Python crossing — the fallback if an
    environment lacks Arrow), or ``"matmul"`` (one ``applyInPandas``
    group per block scoring all its pairs with a chunked float64
    matmul — requires ``block_col``). The matmul form is the scale
    path for OCCUPANCY-BOUNDED blocks (adaptive k-means cells): the
    self-join form shuffles one row PER CANDIDATE PAIR carrying both
    64-float arrays (measured 25M pair rows for the x100
    semantic-dedup cells), while this shuffles one row per VECTOR and
    does the pair arithmetic at matmul rate inside the group —
    measured 116.9 s → 11.7 s on `semantic_dedup_kmeans` at the x100
    tier. Same score formula (dot / (nrm·nrm), rounded to 6 dp;
    equality with the pair-join scorer is pytest-asserted), but
    BLAS accumulation order may differ in the last ulp — keep
    hash-matched oracle queries on the pair-join scorers.
    """
    cols = _hoisted_cols(id_col, vec_col)
    if block_col is not None:
        cols.append(F.col(block_col).alias("b"))
    # null vectors cannot score — drop them from the pair space rather
    # than crash the Arrow vstack in the scorer
    base = df.filter(F.col(vec_col).isNotNull()).select(*cols)
    if scorer == "matmul":
        if block_col is None:
            raise ValueError(
                "scorer='matmul' needs block_col (use "
                "cosine_all_pairs_matmul for the unblocked baseline)"
            )
        return _blocked_matmul_pairs(
            base, threshold, df.schema[id_col].dataType.simpleString()
        )
    l, r = base.alias("l"), base.alias("r")
    cond = F.col("l.id") < F.col("r.id")
    if block_col is not None:
        cond = cond & (F.col("l.b") == F.col("r.b"))
    score = _pair_scorer(scorer)
    return (
        l.join(r, cond)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(score, 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def cosine_all_pairs_matmul(
    df: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_rows: int = 4096,
) -> DataFrame:
    """Exact UNBLOCKED all-pairs cosine — the brute-force baseline —
    executed as a block-matrix cross product instead of a pair-grain
    self-join: rows land in ``B = ceil(n/block_rows)`` hash blocks,
    every block PAIR (bi <= bj) becomes one ``applyInPandas`` group
    holding both blocks' vectors, and the group scores all its pairs
    with a single (block × block) float64 matmul.

    Same output contract as :func:`cosine_near_dup_pairs` with
    ``block_col=None`` (id_a < id_b, score rounded to 6 dp, >=
    threshold) — but the pair space never materializes as rows: the
    self-join form shuffles O(n²) pair rows (measured 568 s for the
    2e8-pair exact audit baseline at the x10 tier), while this form
    shuffles (B+1)·n vector rows and does the O(n²) arithmetic at
    matmul rate inside Arrow batches (~30x faster on the same audit).

    Still O(n²) COMPUTE by definition — this is the exact-baseline /
    audit side, never the 100 TB path (that is the cells/multi-probe
    family). Scores may differ from the pair-join scorer in the last
    ulp (matmul vs per-pair summation order); both round to 6 dp before
    the threshold, and the recall audits that consume this only compare
    counts against a floor with >=20% headroom."""
    import pandas as pd

    n = df.filter(F.col(vec_col).isNotNull()).count()
    n_blocks = max(1, -(-n // block_rows))
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vd"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(bi, bj, bi * n_blocks + bj)
         for bi in range(n_blocks) for bj in range(bi, n_blocks)],
        "bi int, bj int, gid long",
    )
    a = base.join(F.broadcast(grid), base.blk == grid.bi).select(
        "gid", "bi", "bj", F.lit("a").alias("side"), "id", "vd"
    )
    b = base.join(F.broadcast(grid), base.blk == grid.bj).select(
        "gid", "bi", "bj", F.lit("b").alias("side"), "id", "vd"
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, score double"

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        diag = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        left = pdf[pdf["side"] == "a"]
        right = left if diag else pdf[pdf["side"] == "b"]
        la = np.vstack(left["vd"].to_numpy())
        la_n = la / np.linalg.norm(la, axis=1, keepdims=True)
        if diag:
            lb_n = la_n
        else:
            lb = np.vstack(right["vd"].to_numpy())
            lb_n = lb / np.linalg.norm(lb, axis=1, keepdims=True)
        s = np.round(la_n @ lb_n.T, 6)
        ia = left["id"].to_numpy()
        ib = ia if diag else right["id"].to_numpy()
        r, c = np.nonzero(s >= threshold)
        id_a, id_b, sc = ia[r], ib[c], s[r, c]
        if diag:
            # each unordered pair appears as (r,c) AND (c,r): keep one
            keep = id_a < id_b
            id_a, id_b, sc = id_a[keep], id_b[keep], sc[keep]
        else:
            # blocks are disjoint, each pair appears once — but the
            # hash blocking gives either side the smaller id; orient
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            id_a, id_b = lo, hi
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "score": sc})

    return (
        a.unionByName(b)
        .groupBy("gid")
        .applyInPandas(score_block, out_schema)
    )


def knn_join(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    bucket_col: str | None = None,
    scorer: str = "numpy",
) -> DataFrame:
    """Approximate k-nearest-neighbors for EVERY vector (self-join):
    bucket with random hyperplanes, compare only within a bucket, keep
    each vector's top-k by cosine. Exact within buckets; recall depends
    on cluster structure (same tradeoff as any single-probe LSH).

    Scale shape: the self-join is an equi-join on ``lsh_bucket`` — cost
    is Σ bucket², tunable via ``n_planes``; the per-vector top-k is a
    ranking window partitioned by the left id (one shuffle).

    ``bucket_col`` overrides hyperplane bucketing with an existing
    column (a shard key, a label, a persisted LSH bucket) — same plan
    shape, deterministic blocking, and (unlike seeded hyperplanes)
    expressible as a SQL oracle.
    """
    df = df.filter(F.col(vec_col).isNotNull())  # nulls cannot score or bucket
    if bucket_col is not None:
        b = df.select(
            *_hoisted_cols(id_col, vec_col),
            F.col(bucket_col).alias("lsh_bucket"),
        )
        return _knn_within_bucket(b, k, scorer)
    if dim is None:
        # probe the dimension from the first non-null vector (runs one
        # tiny job at plan build; pass `dim` to stay fully lazy)
        row = df.select(vec_col).first()
        if row is None:
            raise ValueError(
                f"knn_join: no non-null '{vec_col}' vectors to infer the "
                "embedding dimension from; pass dim= explicitly"
            )
        dim = len(row[0])
    planes = hyperplanes(dim, n_planes, seed)
    b = with_lsh_bucket(df, planes, vec_col).select(
        *_hoisted_cols(id_col, vec_col), "lsh_bucket"
    )
    return _knn_within_bucket(b, k, scorer)


def _knn_within_bucket(b: DataFrame, k: int, scorer: str = "numpy") -> DataFrame:
    """Within-bucket all-pairs scoring + per-id ranking window (shared
    tail of :func:`knn_join`). `b` carries (id, vd, nrm, lsh_bucket)."""
    l, r = b.alias("l"), b.alias("r")
    score = _pair_scorer(scorer)
    pairs = l.join(
        r,
        (F.col("l.lsh_bucket") == F.col("r.lsh_bucket"))
        & (F.col("l.id") != F.col("r.id")),
    ).select(
        F.col("l.id").alias("id"),
        F.col("r.id").alias("neighbor_id"),
        F.round(score, 6).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("score"), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "rank", "neighbor_id", "score")
    )


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict the exact scorer to buckets within
    ``probe_hamming`` bit flips of the query's bucket (multi-probe)."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    # query bucket, computed driver-side (tiny, deterministic)
    qbits = 0
    for i, p in enumerate(planes):
        dot = sum(float(a) * b for a, b in zip(query_vec, p))
        if dot >= 0:
            qbits |= 1 << i
    probes = {qbits}
    if probe_hamming >= 1:
        probes |= {qbits ^ (1 << i) for i in range(n_planes)}
    bucketed = with_lsh_bucket(df, planes, vec_col)
    cand = bucketed.filter(F.col("lsh_bucket").isin(list(probes)))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# Scalar quantization — int8 compression for the embedding column
# ---------------------------------------------------------------------------

def quantize_embeddings(
    df: DataFrame,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector min/max scalar quantization of the embedding column:
    each float becomes an integer code in [0, 2^bits-1] with the
    vector's (qmin, qmax) stored alongside for reconstruction —
    ``x ≈ qmin + code·(qmax-qmin)/(2^bits-1)``.

    This is the storage/IO half of the ANN scale story: at 100 TB,
    int8 codes cut the embedding bytes 4× (plus the two floats), which
    is usually the difference between a scan-bound and a compute-bound
    similarity pass; rerank the survivors with the full-precision
    vectors (kept in a colder tier or a second column). Pure column
    expressions in double — deterministic, so the whole codec is
    DuckDB-oracle-checkable (registered query
    ``embedding_quantization``).

    Returns (id, n_dims, qmin, qmax, codes array<int>, recon_err = max
    absolute reconstruction error, a worst-case bound ≤ scale/2).
    """
    if not 1 <= bits <= 16:
        raise ValueError(f"bits must be in [1, 16]: {bits}")
    levels = (1 << bits) - 1
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mn, mx = F.array_min(vd), F.array_max(vd)
    scale = (mx - mn) / F.lit(float(levels))
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        vd.alias("vd"),
        mn.alias("qmin"),
        mx.alias("qmax"),
        scale.alias("scale"),
    )
    code = lambda x: F.when(  # flat vector (scale 0) → all-zero codes
        F.col("scale") == 0.0, F.lit(0)
    ).otherwise(F.round((x - F.col("qmin")) / F.col("scale"), 0).cast("int"))
    quant = base.withColumn("codes", F.transform("vd", code))
    recon = F.zip_with(
        "vd",
        F.transform(
            "codes",
            lambda c: F.col("qmin") + c.cast("double") * F.col("scale"),
        ),
        lambda a, b: F.abs(a - b),
    )
    return quant.select(
        F.col("id").alias(id_col),
        F.size("vd").alias("n_dims"),
        "qmin",
        "qmax",
        "codes",
        F.array_max(recon).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse k-means quantizer + cell-restricted scan
# ---------------------------------------------------------------------------

def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample_rows: int = 2048,
    iterations: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Driver-side seeded k-means (k-means++ init + Lloyd iterations)
    over a DETERMINISTIC sample — every ``n // sample_rows``-th row in
    id order BY RANK (then the lowest ``sample_rows`` of those), so the
    sample SPANS the table instead of reading its head. The x10 tier
    caught the head-prefix version misrepresenting ordered/clustered
    layouts: the lowest ids were ~all one replica, every other
    cluster's vectors crammed into a few mega-cells, and within-cell
    pair volume went quadratic. A stride is as reproducible as a prefix
    and is the honest stand-in for the block-sampled scan you'd run at
    100 TB. When the table fits in ``sample_rows`` the stride is 1 —
    identical to the historical prefix sample.

    The stride is on the RANK in id order (via the range-shuffle
    ``global_row_number`` scaffold), not on the raw id value: the
    operator accepts any id layout, and a raw ``id % stride`` filter
    undersamples (or empties, crashing the fit) sparse or offset id
    spaces (round-5 advice). On dense 0-based ids — every shipped tier
    — rank-stride selects exactly the ids the raw-modulo version did,
    so committed artifacts are unchanged.

    The centroid table is the only state IVF needs and it is tiny
    (k × dim doubles); at 100 TB you train it once on a sample exactly
    like this, persist it, and ship it broadcast-style inside the
    assignment UDF closure."""
    import numpy as np

    base = df.filter(F.col(vec_col).isNotNull())
    stride = max(1, base.count() // sample_rows)
    if stride > 1:
        from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
            global_row_number,
        )

        base = global_row_number(
            base.select(id_col, vec_col), [id_col], out_col="__rn"
        ).filter((F.col("__rn") - 1) % stride == 0)
    rows = (
        base.orderBy(id_col)
        .limit(sample_rows)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("kmeans_centroids: no non-null vectors to sample")
    x = np.array([[float(v) for v in r[0]] for r in rows])
    return kmeans_fit(x, n_centroids, iterations, seed)


def kmeans_fit(
    x, n_centroids: int = 16, iterations: int = 10, seed: int = 42
) -> list[list[float]]:
    """Pure-numpy seeded k-means (k-means++ init + Lloyd) over an
    (n, dim) sample matrix — the algorithm behind
    :func:`kmeans_centroids`, factored out so callers that already hold
    the sample driver-side (e.g. a pyarrow read of the lowest-id rows)
    can train the quantizer without running any Spark job."""
    import numpy as np

    x = np.asarray(x, dtype="float64")
    rng = np.random.default_rng(seed)
    # k-means++ with the min-distance table maintained INCREMENTALLY:
    # only the newest center's distances are computed per step —
    # O(k·n·dim), where the naive re-scan of every center per step is
    # O(k²·n·dim) (measured 25.7 s for k=240 on a 2048×64 sample; this
    # form is <1 s). Per-element math is identical to the naive form
    # (same (x−c)² dim-ascending sums, min is exact for floats), so
    # the seeded draws — and therefore the init — are unchanged.
    centers = [x[int(rng.integers(len(x)))]]
    d2 = ((x - centers[0][None, :]) ** 2).sum(-1)
    for _ in range(min(n_centroids, len(x)) - 1):
        total = d2.sum()
        if total == 0:  # all points already coincide with centers
            break
        nxt = x[int(rng.choice(len(x), p=d2 / total))]
        centers.append(nxt)
        d2 = np.minimum(d2, ((x - nxt[None, :]) ** 2).sum(-1))
    c = np.asarray(centers, dtype="float64")
    # Lloyd via the ||x||²−2x·c+||c||² expansion: one (n,k) matmul per
    # iteration instead of an (n,k,dim) broadcast temporary (251 MB at
    # k=240) — ||x||² is row-constant, so it never affects the argmin.
    for _ in range(iterations):
        d = -2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return c.tolist()


def kmeans_fit_hier(
    x,
    n_centroids: int = 256,
    branch: int | None = None,
    iterations: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Two-level (coarse → sub-cell) k-means over an (n, dim) sample —
    the trainer that keeps driver-side cost bounded when the adaptive
    cell count grows with the table.

    :func:`kmeans_fit` is O(k·S·dim) per sweep; with the adaptive-cell
    discipline (k ∝ n, sample S ∝ k) that product grows quadratically
    in n — fine up to the ``hi`` clamp, a wall past it. The classic
    IVF answer is hierarchical training: fit ``k1 ≈ √k`` coarse
    centers on the sample, partition the sample by nearest coarse
    center, then fit each partition's share of the remaining budget
    INSIDE the partition — every level is O(√k·S·dim), and level two
    decomposes into independent per-cell fits (see
    :func:`ivf_subquantizers` for the distributed form that trains on
    ALL data, not a sample, at cluster scale).

    Sub-cell budget is allocated to coarse cells by largest-remainder
    on occupancy (each non-empty cell ≥ 1, never more than its member
    count), so dense regions get proportionally finer cells. Returns
    ≤ ``n_centroids`` flattened centers (fewer only when cells run out
    of distinct members); output plugs into :func:`with_ivf_cell` /
    :func:`with_ivf_probes` unchanged. Deterministic: per-cell fits
    are seeded ``seed + 1 + coarse_id``."""
    import numpy as np

    x = np.asarray(x, dtype="float64")
    k = min(n_centroids, len(x))
    k1 = branch if branch else int(np.ceil(np.sqrt(k)))
    if k <= 4 or k1 >= k:
        return kmeans_fit(x, k, iterations, seed)
    coarse = np.asarray(kmeans_fit(x, k1, iterations, seed), dtype="float64")
    d = -2.0 * (x @ coarse.T) + (coarse * coarse).sum(axis=1)[None, :]
    assign = d.argmin(axis=1)
    sizes = np.bincount(assign, minlength=len(coarse))
    nonempty = np.flatnonzero(sizes)
    # largest-remainder allocation: floor(k·share) + 1-by-1 top-up in
    # descending fractional-remainder order (cell id tiebreak)
    share = k * sizes[nonempty] / sizes.sum()
    alloc = np.maximum(1, np.floor(share).astype(int))
    alloc = np.minimum(alloc, sizes[nonempty])
    rem = share - np.floor(share)
    for j in sorted(
        range(len(nonempty)), key=lambda i: (-rem[i], nonempty[i])
    ):
        if alloc.sum() >= k:
            break
        if alloc[j] < sizes[nonempty[j]]:
            alloc[j] += 1
    # the max(1,·) lift can overshoot k when many cells round to zero:
    # trim 1-by-1 from the SMALLEST-remainder cells that still have >1,
    # REPEATING until the budget holds — a single pass decrements each
    # cell at most once and can leave alloc.sum() > k when overshoot
    # exceeds the number of trimmable cells (round-6 advice: one
    # dominant cluster + 8 singletons at k=10 returned 11 centers)
    trim_order = sorted(
        range(len(nonempty)), key=lambda i: (rem[i], nonempty[i])
    )
    while alloc.sum() > k:
        progressed = False
        for j in trim_order:
            if alloc.sum() <= k:
                break
            if alloc[j] > 1:
                alloc[j] -= 1
                progressed = True
        if not progressed:
            break  # every cell at its ≥1 floor: k1 > k is impossible here
    out: list[list[float]] = []
    for j, kj in zip(nonempty, alloc):
        members = x[assign == j]
        out.extend(kmeans_fit(members, int(kj), iterations, seed + 1 + int(j)))
    return out


def ivf_subquantizers(
    df: DataFrame,
    coarse_centroids: list[list[float]],
    sub_per_cell: int = 16,
    iterations: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """DISTRIBUTED level-two IVF training: assign every vector to its
    coarse cell (:func:`with_ivf_cell`), shuffle once on the cell id,
    and fit ``sub_per_cell`` k-means centers per cell with an
    ``applyInPandas`` group fit — each group trains independently on
    its FULL membership, not a driver sample.

    This is the 1000-executor shape of :func:`kmeans_fit_hier`'s level
    two: at 100 TB the driver trains only the coarse quantizer (tiny,
    sample-based), while refinement touches all data exactly once with
    per-group cost O(sub·|cell|·dim) and zero driver state — the output
    is a (coarse_cell, sub_id, centroid) table of k1·sub rows you
    persist next to the coarse table and broadcast into assignment,
    exactly like the PQ codebooks. Deterministic: per-cell seeds are
    ``seed + 1 + cell_id``, and membership is the deterministic argmin
    assignment, so retraining on identical data is byte-identical."""
    import pandas as pd

    sub = int(sub_per_cell)
    if sub <= 0:
        raise ValueError(f"sub_per_cell must be positive, got {sub}")

    def fit(key, pdf):
        import numpy as np

        cell = int(key[0])
        vs = [v for v in pdf[vec_col].to_numpy() if v is not None]
        if not vs:
            return pd.DataFrame(
                {"coarse_cell": [], "sub_id": [], "centroid": []}
            )
        x = np.vstack([np.asarray(v, dtype="float64") for v in vs])
        cents = kmeans_fit(x, min(sub, len(x)), iterations, seed + 1 + cell)
        return pd.DataFrame(
            {
                "coarse_cell": [cell] * len(cents),
                "sub_id": list(range(len(cents))),
                "centroid": cents,
            }
        )

    assigned = with_ivf_cell(df, coarse_centroids, vec_col=vec_col).filter(
        F.col("ivf_cell") >= 0
    )
    return assigned.groupBy("ivf_cell").applyInPandas(
        fit, "coarse_cell int, sub_id int, centroid array<double>"
    )


def with_ivf_cell(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the nearest-centroid cell id (Arrow-vectorized argmin over
    the full batch). Like ``lsh_bucket``, this is the column you compute
    once at ingest and partition/cluster the table by.

    NULL embeddings get sentinel cell ``-1`` (never probed) instead of
    crashing the vstack — ``kmeans_centroids`` filters nulls, so cell
    assignment must degrade gracefully too (round-2 advice)."""
    import numpy as np
    import pandas as pd

    c = np.asarray(centroids, dtype="float64")

    def assign(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        raw = vs.to_numpy()
        ok = np.array([v is not None for v in raw])
        out = np.full(len(raw), -1, dtype="int32")
        if ok.any():
            x = np.vstack(raw[ok]).astype("float64")
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
            d = -2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
            out[ok] = d.argmin(axis=1).astype("int32")
        return pd.Series(out)

    assign.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(assign, "int")
    return df.withColumn("ivf_cell", udf(F.col(vec_col)))


def with_ivf_probes(
    df: DataFrame,
    centroids: list[list[float]],
    n_probe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the ``n_probe`` NEAREST cell ids as an array column
    (``ivf_probes``, nearest first) — multi-probe assignment, the
    standard IVF recall lever: a vector near a cell boundary is indexed
    into both sides of it, so near-duplicate pairs split by the
    boundary still co-reside somewhere.

    Single-probe recall on this corpus is 0.39/0.36 at sf0.01/sf0.1
    (`near_dup_cells_recall_violations`); three probes lift it to
    0.97/0.77 (`near_dup_multiprobe_recall_violations`, floor 0.80 at
    the check tier).
    Cost shape: exploded to one row per (vector, probe), within-cell
    pair volume grows ~n_probe² at FIXED cell count — so the adaptive
    cell formula (`_adaptive_cells`) is what keeps the product bounded:
    scale cells ∝ n, spend n_probe on recall.

    NULL embeddings get an EMPTY probe list (never explode, never
    pair), mirroring ``with_ivf_cell``'s -1 sentinel."""
    import numpy as np
    import pandas as pd

    c = np.asarray(centroids, dtype="float64")
    p = max(1, min(int(n_probe), len(centroids)))

    def assign(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        raw = vs.to_numpy()
        ok = np.array([v is not None for v in raw])
        out = np.empty(len(raw), dtype="object")
        out[:] = [[] for _ in range(len(raw))]
        if ok.any():
            x = np.vstack(raw[ok]).astype("float64")
            d = -2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
            # argpartition bounds the sort to p cells, then order them
            part = np.argpartition(d, p - 1, axis=1)[:, :p]
            row = np.arange(part.shape[0])[:, None]
            order = np.argsort(d[row, part], axis=1)
            near = part[row, order].astype("int32")
            vals = [list(map(int, r)) for r in near]
            j = 0
            for i in range(len(raw)):
                if ok[i]:
                    out[i] = vals[j]
                    j += 1
        return pd.Series(out)

    assign.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(assign, "array<int>")
    return df.withColumn("ivf_probes", udf(F.col(vec_col)))


def adaptive_probes(n_cells: int, coeff: float = 1.3, floor: int = 3) -> int:
    """Probe count that makes the 0.80 background-tail recall floor
    TRAVEL with the adaptive cell count: ``p = ceil(coeff·cells^(1/3))``,
    never below ``floor``.

    Measured on the isotropic 64-dim fixture (round 6, vs the exact
    unblocked >=0.4 pair set):

    ========  =====  ==  ============  ==================
    tier      cells   p  full recall   probed pair frac
    ========  =====  ==  ============  ==================
    sf0.01        8   3  0.966         ~0.56
    sf0.1        24   4  0.921         ~0.13
    x10         240   9  0.870         ~0.41e-1
    ========  =====  ==  ============  ==================

    Cost law: with cells ∝ n (constant expected cell size) and
    p ∝ cells^(1/3), candidate pair volume grows ~n^(5/3) while the
    PROBED FRACTION of the n²/2 pair space shrinks ~n^(-1/3) — the
    index's relative advantage over brute force grows with scale, but
    the absolute cost is superlinear. That superlinearity is forced by
    the FIXTURE, not the index: the >=0.4 exact set on isotropic data
    is itself Θ(n²) (measured 59 / 920 / 95,212 pairs at n = 500 /
    2,000 / 20,000 — the background tail of random directions), so any
    fixed recall floor against it has an Ω(n²) output bound. The
    tier-invariant LINEAR-cost contract is planted-structure recall at
    constant p (:func:`planted_twin_vectors` — measured 0.9994 at p=3
    on the x10 tier, where true near-duplicates share nearest cells
    regardless of how many cells there are). SCALE.md §isotropic has
    the full frontier table."""
    return max(floor, math.ceil(coeff * max(1, n_cells) ** (1.0 / 3.0)))


def planted_twin_vectors(
    df: DataFrame,
    noise: float = 0.15,
    id_offset: int = 1_000_000_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic near-duplicate TWIN of every vector: unit(v) +
    ``noise``·(unit perturbation seeded by the row's id), re-normalized
    — cosine(v, twin) ≈ 0.989 at noise 0.15. The twin's id is
    ``id + id_offset``.

    This constructs the ground truth the recall audits need on a
    fixture with no planted structure (the shipped embeddings are
    isotropic — measured max off-diagonal cosine 0.60 at sf0.1): union
    the twins with the base table, run the candidate pipeline at a
    threshold only twins can reach (0.9), and every emitted pair is a
    planted pair by construction, so recall = found/n with no exact
    side at all. Per-row seeding keeps it deterministic across runs,
    partitionings, and tiers."""
    import pandas as pd

    def twin(ids: pd.Series, vs: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for i, v in zip(ids.to_numpy(), vs.to_numpy()):
            if v is None:
                out.append(None)
                continue
            x = np.asarray(v, dtype="float64")
            x = x / np.linalg.norm(x)
            g = np.random.default_rng(int(i)).standard_normal(len(x))
            t = x + noise * g / np.linalg.norm(g)
            out.append((t / np.linalg.norm(t)).tolist())
        return pd.Series(out, dtype="object")

    twin.__annotations__ = {
        "ids": pd.Series, "vs": pd.Series, "return": pd.Series,
    }
    udf = F.pandas_udf(twin, "array<double>")
    return df.select(
        (F.col(id_col) + F.lit(id_offset)).alias(id_col),
        udf(F.col(id_col), F.col(vec_col)).alias(vec_col),
    )


def recall_audit(
    candidates: DataFrame,
    exact: DataFrame,
    floor: float,
    cand_col: str = "candidate_pairs",
    exact_col: str = "exact_pairs",
) -> DataFrame:
    """The shared shape of every pair-recall contract (round-5 verdict
    item 7): count the candidate pipeline, count the exact baseline,
    emit ONE violation row when ``candidates < floor·exact`` — empty
    (green) otherwise. Both counts are driver-side actions: this is
    bench=False audit apparatus, and the DataFrames it counts are the
    real pipelines under test, so laziness would buy nothing."""
    c, e = candidates.count(), exact.count()
    spark = candidates.sparkSession
    out = spark.createDataFrame(
        [(c, e)], f"{cand_col} long, {exact_col} long"
    )
    return out.filter(F.col(cand_col) < floor * F.col(exact_col))


def cosine_near_dup_pairs_multiprobe(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scorer: str = "numpy",
) -> DataFrame:
    """Near-dup pairs under multi-probe cell blocking: every vector is
    indexed into its ``n_probe`` nearest cells, pairs score exactly
    within each cell, and a pair co-resident in several shared cells
    emits ONCE. The dedup keys on (id_a, id_b) ONLY — not the
    score-bearing row — because the matmul scorer's BLAS accumulation
    order can differ per cell block, so two copies of one pair may
    round differently at a 6-dp boundary and a plain distinct would
    keep both (round-6 advice). max(score) keeps the contract
    deterministic across scorers. Same output contract as
    :func:`cosine_near_dup_pairs`."""
    probed = with_ivf_probes(df, centroids, n_probe, vec_col).withColumn(
        "__probe_cell", F.explode("ivf_probes")
    )
    return (
        cosine_near_dup_pairs(
            probed, threshold=threshold, block_col="__probe_cell",
            vec_col=vec_col, id_col=id_col, scorer=scorer,
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("score").alias("score"))
    )


def ivf_probes(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` cell ids whose centroids are nearest the query
    (driver-side arithmetic over the tiny centroid table)."""
    import numpy as np

    c = np.asarray(centroids, dtype="float64")
    q = np.asarray([float(v) for v in query_vec], dtype="float64")
    order = (((c - q[None, :]) ** 2).sum(axis=1)).argsort()
    return [int(j) for j in order[: max(1, nprobe)]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: score only the ``nprobe`` cells whose
    centroids are nearest the query (the classic inverted-file ANN
    recall/cost dial, complementary to :func:`lsh_topk`'s hyperplane
    buckets). Exact within probed cells via :func:`cosine_topk`.

    This variant computes cells on the fly (a full scan, filtered after
    assignment). The 100 TB shape is :func:`ivf_write_index` +
    :func:`ivf_topk_pruned`, where the probe becomes partition pruning
    and unprobed cells are never read."""
    if centroids is None:
        centroids = kmeans_centroids(
            df, n_centroids=n_centroids, seed=seed, vec_col=vec_col, id_col=id_col
        )
    probes = ivf_probes(centroids, query_vec, nprobe)
    celled = with_ivf_cell(df, centroids, vec_col)
    cand = celled.filter(F.col("ivf_cell").isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def ivf_write_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: assign every vector its coarse cell
    and write parquet partitioned by ``ivf_cell``. This is the write-
    once step that turns ANN from "bucketed join" into "pruned scan":
    a probe over the resulting table is a partition filter, so at 100 TB
    a 4-of-1024-cells probe reads ~0.4% of the bytes. Run it at ingest
    (or as a compaction job) with the same persisted centroid table
    every query uses."""
    celled = with_ivf_cell(df, centroids, vec_col)
    celled.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)


def ann_train_state(
    df: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 3,
    sample_rows: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Train the streaming ANN index's quantizer state from a batch
    (typically the FIRST micro-batch): seeded k-means centroids over a
    rank-strided sample (:func:`kmeans_centroids`) plus the REFERENCE
    occupancy shares — the fraction of the training batch assigned to
    each primary cell. The shares are what the drift contract compares
    against later (:func:`ann_occupancy_psi`): ingest drift shows up as
    occupancy mass moving between cells long before recall visibly
    degrades.

    Returns a JSON-serializable dict
    ``{"centroids", "ref_shares", "n_probe"}`` — persist it next to the
    index and load it for every subsequent batch; the quantizer is
    NEVER retrained inline (assignments must stay bit-stable for
    readers; see :func:`ann_occupancy_psi` for the re-train contract).
    """
    cents = kmeans_centroids(
        df, n_centroids=n_centroids, sample_rows=sample_rows,
        vec_col=vec_col, id_col=id_col, seed=seed,
    )
    occ = (
        with_ivf_cell(df, cents, vec_col)
        .filter(F.col("ivf_cell") >= 0)
        .groupBy("ivf_cell")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in occ) or 1
    shares = [0.0] * len(cents)
    for r in occ:
        shares[r["ivf_cell"]] = r["count"] / total
    return {"centroids": cents, "ref_shares": shares, "n_probe": n_probe}


def ann_index_ingest_batch(
    batch: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    n_probe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Incremental multi-probe IVF ingest for one (micro-)batch — the
    ANN twin of :func:`operators.dedup.dedup_incremental_batch`:
    arriving vectors are assigned their ``n_probe`` nearest cells with
    the PERSISTED centroids (identical arithmetic to
    :func:`with_ivf_probes`, so accumulated assignments bit-match a
    batch re-index under the same quantizer) and appended to the index
    store as parquet partitioned by the primary cell — the same pruned
    layout :func:`ivf_write_index` materializes, plus the full
    ``ivf_probes`` array for multi-probe readers.

    Replay-safe: ``foreachBatch`` delivery is at-least-once, so the
    batch anti-joins the store on id first — a redelivered micro-batch
    appends nothing (the same digest-store discipline as incremental
    dedup; the join ships ids, never vectors). Returns the admitted
    rows (id, probes, primary cell) for observability."""
    probed = with_ivf_probes(
        batch.filter(F.col(vec_col).isNotNull()), centroids, n_probe, vec_col
    ).select(
        id_col,
        vec_col,
        "ivf_probes",
        F.element_at("ivf_probes", 1).alias("ivf_cell"),
    )
    seen = read_parquet_or_none(batch.sparkSession, index_path)
    if seen is not None:
        probed = probed.join(seen.select(id_col), id_col, "left_anti")
    # materialize admissions before the append so the write cannot
    # re-trigger the anti-join against the store it is growing
    fresh = probed.localCheckpoint(eager=True)
    fresh.write.mode("append").partitionBy("ivf_cell").parquet(index_path)
    return fresh


def ann_occupancy_psi(
    spark,
    index_path: str,
    ref_shares: list[float],
) -> float:
    """Population-stability index of the index's CURRENT primary-cell
    occupancy against the shares recorded at training time — the
    re-train trigger of the streaming ANN ingest.

    Re-train contract: the sink records this after every batch; when it
    crosses the caller's threshold (0.25 = the standard PSI "population
    has shifted" line) the INDEX IS STILL CORRECT — every stored
    assignment remains the true nearest-cells of the trained quantizer
    — but cell sizes have drifted from the trained balance, so probe
    cost and recall degrade. The remedy is an OFFLINE rebuild
    (:func:`ann_train_state` on current data + :func:`ivf_write_index`
    -style rewrite), never an inline mutation: readers of a live index
    must never observe two quantizers at once."""
    import math as _math

    occ = (
        spark.read.parquet(index_path)
        .filter(F.col("ivf_cell") >= 0)
        .groupBy("ivf_cell")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in occ) or 1
    cur = [0.0] * len(ref_shares)
    for r in occ:
        cur[r["ivf_cell"]] = r["count"] / total
    eps = 1e-6
    return sum(
        (c - r) * _math.log(max(c, eps) / max(r, eps))
        for c, r in zip(cur, ref_shares)
    )


# ---------------------------------------------------------------------------
# Versioned ANN store — rebuild-and-swap (round-6 verdict item 5)
# ---------------------------------------------------------------------------
# Layout (the snapshot log's format, sources/txlog.py):
#
#   store_root/
#     v000000/index/       parquet partitioned by ivf_cell
#     v000000/state.json   {"centroids","ref_shares","n_probe","psi",...}
#     _ann_log/v000000.json   manifest — a version EXISTS iff its
#                             manifest file does (written tmp+rename,
#                             so readers never see a half-built version)
#
# Readers pin a version by number; the "current" version is simply the
# highest committed manifest. A rebuild writes v+1 COMPLETELY (index +
# state) before publishing its manifest, so a reader holding v keeps a
# stable view forever — the swap is one atomic rename, and old versions
# stay on disk until explicitly vacuumed. Listing, resolving and
# publishing are txlog's own functions over ``_ann_log/``, so the store
# has the snapshot log's contract, single writer included.


def _ann_log(store_root: str) -> str:
    return os.path.join(store_root, "_ann_log")


def ann_store_versions(store_root: str) -> list[int]:
    """Committed index versions, ascending (empty if none)."""
    return log_versions(_ann_log(store_root))


def ann_store_paths(store_root: str, version: int) -> tuple[str, str]:
    """(index_path, state_path) for a version — valid whether or not the
    version is committed yet (the rebuild writes into these paths BEFORE
    publishing)."""
    vdir = os.path.join(store_root, f"v{version:06d}")
    return os.path.join(vdir, "index"), os.path.join(vdir, "state.json")


def ann_store_publish(store_root: str, version: int) -> None:
    """Atomically commit a fully-written version: an atomic write of
    the manifest file (:func:`write_json_atomic`). After this returns,
    ``ann_store_versions`` lists the version and new readers resolve to
    it."""
    index_path, state_path = ann_store_paths(store_root, version)
    if not os.path.isdir(index_path) or not os.path.exists(state_path):
        raise FileNotFoundError(
            f"version {version} not fully written under {store_root}"
        )
    write_json_atomic(
        manifest_path(_ann_log(store_root), version), {"version": version}
    )


def ann_store_state(store_root: str, version: int | None = None) -> dict:
    """Load a committed version's quantizer state (default: current).
    The returned dict carries ``version`` so callers can pin it."""
    import json

    v = resolve_version(_ann_log(store_root), version)
    _, state_path = ann_store_paths(store_root, v)
    with open(state_path) as f:
        state = json.load(f)
    state["version"] = v
    return state


def ann_store_read(spark, store_root: str, version: int | None = None) -> DataFrame:
    """Scan a committed version's index (default: current). A reader
    that resolved version N before a rebuild keeps reading N's files —
    the rebuild never touches them."""
    v = resolve_version(_ann_log(store_root), version)
    index_path, _ = ann_store_paths(store_root, v)
    return spark.read.parquet(index_path)


def ann_index_rebuild(
    spark,
    store_root: str,
    n_centroids: int = 16,
    n_probe: int = 3,
    sample_rows: int = 2048,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """The OPERATION behind ``retrain_due`` — an offline rebuild-and-
    swap, never an inline mutation (round-6 verdict item 5: the flag
    existed, the rebuild did not).

    One distributed pass over the accumulated layout:

    1. re-train the quantizer on the current version's vectors —
       rank-strided sample for the centroids, full-table occupancy for
       the fresh ``ref_shares`` (:func:`ann_train_state`; the PSI
       baseline resets to the post-drift population, so the next drift
       measures from NOW);
    2. re-assign EVERY accumulated vector its multi-probe cells under
       the new centroids (:func:`with_ivf_probes` — the same
       arithmetic the ingest path uses, so the rebuilt index bit-
       matches a from-scratch batch index over the same vectors) and
       write the pruned parquet layout into version v+1's directory;
    3. write v+1's state.json, then atomically publish the manifest
       (:func:`ann_store_publish`). Readers pinned on v keep their
       exact view; new readers and the versioned ingest sink resolve
       v+1 on their next lookup.

    Deterministic end-to-end (seeded sample, argmin assignment):
    rebuilding twice from the same accumulated data yields byte-
    identical centroids and assignments. Returns the new state dict
    (with ``version``).

    Safe to run while the versioned ingest sink is live: a micro-batch
    that commits into the CURRENT version after this rebuild's scan
    (but before the swap is observed) is reconciled into the new
    version by the sink's first post-swap batch — see
    ``streaming.pipeline.ann_ingest_sink_versioned``."""
    cur = resolve_version(_ann_log(store_root))
    vectors = ann_store_read(spark, store_root, cur).select(id_col, vec_col)
    state = ann_train_state(
        vectors, n_centroids=n_centroids, n_probe=n_probe,
        sample_rows=sample_rows, vec_col=vec_col, id_col=id_col, seed=seed,
    )
    nxt = cur + 1
    index_path, state_path = ann_store_paths(store_root, nxt)
    probed = with_ivf_probes(
        vectors.filter(F.col(vec_col).isNotNull()),
        state["centroids"], state["n_probe"], vec_col,
    ).select(
        id_col,
        vec_col,
        "ivf_probes",
        F.element_at("ivf_probes", 1).alias("ivf_cell"),
    )
    probed.write.mode("error").partitionBy("ivf_cell").parquet(index_path)
    state["rebuilt_from"] = cur
    write_json_atomic(state_path, state)
    ann_store_publish(store_root, nxt)
    state["version"] = nxt
    return state


def ivf_topk_pruned(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over an :func:`ivf_write_index` layout. The
    cell restriction lands in the scan's ``PartitionFilters`` (asserted
    in tests/test_plans.py), so only the probed cells' files are read —
    the actual scale win of IVF."""
    probes = ivf_probes(centroids, query_vec, nprobe)
    df = spark.read.parquet(index_path)
    cand = df.filter(F.col("ivf_cell").isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def ann_store_topk(
    spark,
    store_root: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int | None = None,
    version: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Pinned-version top-k over the versioned ANN store — the reader
    half of the rebuild-and-swap contract: resolve a version ONCE
    (``version=None`` pins the current one at call time), load its
    quantizer state, and run :func:`ivf_topk_pruned` against exactly
    that version's partition-pruned layout. A rebuild that swaps the
    current version mid-query changes nothing for this reader: the
    paths and centroids were resolved against the pinned manifest, and
    the rebuild never touches old version directories.

    ``nprobe`` defaults to the version's trained ``n_probe`` — the same
    setting its ingest assignments used, so recall matches the trained
    contract by default."""
    state = ann_store_state(store_root, version)
    index_path, _ = ann_store_paths(store_root, state["version"])
    return ivf_topk_pruned(
        spark, index_path, query_vec, state["centroids"],
        k=k, nprobe=nprobe if nprobe is not None else state["n_probe"],
        vec_col=vec_col, id_col=id_col,
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.85,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    block_col: str | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    scorer: str = "numpy",
) -> DataFrame:
    """Within-cluster near-duplicate pairs for semantic dedup
    (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): assign every
    vector to a coarse k-means cell (trained on a deterministic
    sample, :func:`kmeans_centroids`) and score pairs ONLY inside a
    cell — the clustering bounds the pair space exactly the way LSH
    bands bound MinHash, turning O(n²) into Σ cell².

    ``block_col`` overrides the k-means cell with an existing
    deterministic blocking column (a label, a shard, a persisted
    ``ivf_cell``) — same plan, SQL-oracle-expressible blocking.

    Scale shape: the expensive piece is :func:`cosine_near_dup_pairs`'s
    equi-join on the cell id; cells come from one Arrow-batched argmin
    pass. At 100 TB you persist the cell column at ingest
    (:func:`ivf_write_index`) and this becomes a co-partitioned
    self-join with no assignment cost at all."""
    if block_col is None:
        if centroids is None:
            centroids = kmeans_centroids(
                df, n_centroids=n_centroids, seed=seed, vec_col=vec_col,
                id_col=id_col,
            )
        df = with_ivf_cell(df, centroids, vec_col)
        block_col = "ivf_cell"
    return cosine_near_dup_pairs(
        df, threshold=threshold, block_col=block_col, vec_col=vec_col,
        id_col=id_col, scorer=scorer,
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.85,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    block_col: str | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quality_col: str | None = None,
    algorithm: str = "label",
    seed: int = 42,
    scorer: str = "numpy",
) -> DataFrame:
    """Semantic deduplication: drop all but one representative of every
    transitive group of embedding-cosine near-duplicates, comparing
    only within coarse k-means cells (or ``block_col``). Returns the
    KEPT subset of ``df`` with its original schema — the min-id member
    per connected group, or the highest-``quality_col`` member.

    Composition of proven parts: cell assignment
    (:func:`with_ivf_cell`) → blocked exact pair scoring
    (:func:`cosine_near_dup_pairs`) → transitive closure + retention
    (``apply_dedup_cc`` — label propagation or large-star/small-star).
    Rows with NULL embeddings never pair, so they are always kept.

    Guarantees (asserted by the `semantic_dedup_violations` registry
    query): no two kept rows in the same cell score >= threshold, and
    every dropped row had at least one >= threshold neighbor."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        apply_dedup_cc,
    )

    pairs = semantic_dedup_pairs(
        df, threshold=threshold, centroids=centroids,
        n_centroids=n_centroids, block_col=block_col, vec_col=vec_col,
        id_col=id_col, seed=seed, scorer=scorer,
    )
    return apply_dedup_cc(
        df, pairs, id_col=id_col, algorithm=algorithm, quality_col=quality_col
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN tier
# ---------------------------------------------------------------------------
#
# IVF prunes WHERE to look; int8 scalar quantization shrinks storage 4×;
# PQ is the third tier: each vector becomes m sub-space codebook indices
# (here 4 bytes for a 64-dim float vector, 64×), and query scoring runs
# entirely in the compressed domain via per-subspace distance tables
# (ADC — asymmetric distance computation, Jégou et al., TPAMI 2011).
# At 100 TB the codes column is what you scan: the float embeddings
# never leave cold storage during candidate generation.


def pq_fit(
    x,
    m: int = 4,
    n_codes: int = 16,
    iterations: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train the PQ codebooks on an (n, dim) sample matrix: split dims
    into ``m`` equal subspaces, run the seeded k-means of
    :func:`kmeans_fit` in each (seed offset per subspace). Pure numpy —
    no Spark job; pair with a pyarrow driver-side sample for job-free
    plan builds. Returns ``codebooks[s][c] = centroid`` with
    ``codebooks[s]`` ordered by the k-means fit (deterministic)."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible into {m} subspaces")
    d = dim // m
    return [
        kmeans_fit(x[:, s * d : (s + 1) * d], n_codes, iterations, seed + s)
        for s in range(m)
    ]


def pq_train(
    df: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    sample_rows: int = 2048,
    iterations: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Spark-side sampling wrapper over :func:`pq_fit` — same
    deterministic lowest-id sample discipline as
    :func:`kmeans_centroids`."""
    import numpy as np

    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(sample_rows)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: no non-null vectors to sample")
    x = np.array([[float(v) for v in r[0]] for r in rows])
    return pq_fit(x, m=m, n_codes=n_codes, iterations=iterations, seed=seed)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-byte PQ code (nearest codebook centroid per
    subspace), Arrow-vectorized over the batch like
    :func:`with_ivf_cell`; NULL embeddings get a NULL code. This is the
    ingest-time materialization — at scale the codes column is written
    once and scanned instead of the floats."""
    import numpy as np
    import pandas as pd

    cbs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    m, d = len(cbs), cbs[0].shape[1]

    def enc(vs):
        raw = vs.to_numpy()
        ok = np.array([v is not None for v in raw])
        out: list = [None] * len(raw)
        if ok.any():
            x = np.vstack(raw[ok]).astype("float64")
            codes = np.empty((x.shape[0], m), dtype="int64")
            for s, cb in enumerate(cbs):
                xs = x[:, s * d : (s + 1) * d]
                dist = -2.0 * (xs @ cb.T) + (cb * cb).sum(axis=1)[None, :]
                codes[:, s] = dist.argmin(axis=1)
            for i, row in zip(np.nonzero(ok)[0], codes):
                out[int(i)] = [int(c) for c in row]
        return pd.Series(out)

    enc.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(enc, "array<int>")
    return df.withColumn(out_col, udf(F.col(vec_col)))


def pq_adc_tables(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """Per-subspace squared-distance lookup tables for one query —
    ``tables[s][c] = ||q_s − codebooks[s][c]||²`` (driver arithmetic
    over the tiny codebook; m·n_codes doubles total)."""
    import numpy as np

    q = np.asarray(query_vec, dtype="float64")
    d = len(codebooks[0][0])
    out = []
    for s, cb in enumerate(codebooks):
        qs = q[s * d : (s + 1) * d]
        out.append([float(((qs - np.asarray(c)) ** 2).sum()) for c in cb])
    return out


def pq_reconstruct(code_col: Column, codebooks: list[list[list[float]]]) -> Column:
    """Decode a PQ code back to its centroid-concatenation vector as a
    pure Column expression (codebooks inlined as array literals) — the
    independent arithmetic path the ADC-consistency audit checks
    against."""
    parts = []
    for s, cb in enumerate(codebooks):
        cb_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cb])
        parts.append(F.element_at(cb_lit, F.element_at(code_col, s + 1) + 1))
    return F.concat(*parts)


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compressed-domain top-k: encode (ingest-time column in
    production), then score every code with PURE codegen arithmetic —
    the ADC tables become array literals and the approximate distance
    is m ``element_at`` lookups + adds, no UDF and no float vectors in
    the scan — and take the k smallest via TakeOrderedAndProject.
    Returns (id, adc_dist) ordered ascending (id tie-break)."""
    tables = pq_adc_tables(codebooks, query_vec)
    encoded = pq_encode(df, codebooks, vec_col=vec_col)
    adc = None
    for s, t in enumerate(tables):
        term = F.element_at(
            F.array(*[F.lit(v) for v in t]),
            F.element_at(F.col("pq_code"), s + 1) + 1,
        )
        adc = term if adc is None else adc + term
    return (
        encoded.filter(F.col("pq_code").isNotNull())
        .select(F.col(id_col), F.round(adc, 9).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def ivfpq_topk(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the composition production ANN systems actually run
    (FAISS's IVFPQ): the coarse quantizer prunes WHERE to look
    (``nprobe`` cells via :func:`ivf_probes`), product quantization
    decides HOW to score what's there (codegen ADC over 4-byte codes,
    :func:`pq_topk`). At 100 TB both layers are ingest-time columns —
    ``ivf_cell`` partitions the table (probe = partition pruning, see
    :func:`ivf_write_index`) and ``pq_code`` is the only column the
    probe scans.

    Simplification vs the paper: codes quantize the raw vectors, not
    the per-cell residuals — residual encoding adds recall at the same
    code budget and drops in here by training :func:`pq_fit` on
    ``x − centroid[cell(x)]`` and shifting the query per probed cell.
    """
    probes = ivf_probes(centroids, query_vec, nprobe)
    candidates = with_ivf_cell(df, centroids, vec_col=vec_col).filter(
        F.col("ivf_cell").isin([int(p) for p in probes])
    )
    return pq_topk(
        candidates, codebooks, query_vec, k=k, id_col=id_col, vec_col=vec_col
    )


def ivfpq_residual_train(
    x,
    n_cells: int = 8,
    m: int = 4,
    n_codes: int = 16,
    iterations: int = 10,
    seed: int = 42,
):
    """Train the RESIDUAL IVF-PQ pair on an (n, dim) sample: coarse
    centroids first, then PQ codebooks on ``x − centroid[cell(x)]`` —
    residuals are centered and much lower-variance than raw vectors, so
    the same code budget quantizes finer (the actual IVFADC recipe from
    the PQ paper). Returns ``(centroids, codebooks)``."""
    import numpy as np

    x = np.asarray(x, dtype="float64")
    cents = np.asarray(kmeans_fit(x, n_cells, iterations, seed), dtype="float64")
    d = -2.0 * (x @ cents.T) + (cents * cents).sum(axis=1)[None, :]
    cells = d.argmin(axis=1)
    residuals = x - cents[cells]
    return cents.tolist(), pq_fit(
        residuals, m=m, n_codes=n_codes, iterations=iterations, seed=seed
    )


def ivfpq_residual_topk(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual IVF-PQ search: vectors encode as PQ codes of their
    RESIDUAL against their cell centroid; per probed cell the query
    shifts by that centroid and gets its own ADC tables. The scored
    frames (one per probed cell — nprobe is small by construction)
    union before the global top-k, so each cell's scan is a pruned
    partition read under the ``ivf_cell`` layout and scoring stays
    pure codegen lookups."""
    import numpy as np

    q = np.asarray(query_vec, dtype="float64")
    probes = ivf_probes(centroids, query_vec, nprobe)
    celled = with_ivf_cell(df, centroids, vec_col=vec_col)
    scored = []
    for cell in probes:
        cent = np.asarray(centroids[int(cell)], dtype="float64")
        shifted = [
            (F.element_at(F.col(vec_col), i + 1) - F.lit(float(cent[i])))
            for i in range(len(cent))
        ]
        sub = celled.filter(F.col("ivf_cell") == int(cell)).withColumn(
            "__resid", F.array(*shifted)
        )
        encoded = pq_encode(sub, codebooks, vec_col="__resid")
        tables = pq_adc_tables(codebooks, (q - cent).tolist())
        adc = None
        for s, t in enumerate(tables):
            term = F.element_at(
                F.array(*[F.lit(v) for v in t]),
                F.element_at(F.col("pq_code"), s + 1) + 1,
            )
            adc = term if adc is None else adc + term
        scored.append(
            encoded.filter(F.col("pq_code").isNotNull()).select(
                F.col(id_col), F.round(adc, 9).alias("adc_dist")
            )
        )
    out = scored[0]
    for s in scored[1:]:
        out = out.unionAll(s)
    return out.orderBy("adc_dist", id_col).limit(k)


def squared_l2(vec_col: Column, query_vec: list[float]) -> Column:
    """Exact squared L2 distance to a literal query vector — pure
    codegen (zip_with + aggregate), computed in double."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    vd = F.transform(vec_col, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(vd, q, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ann_regret_violations(
    df: DataFrame,
    approx_topk: DataFrame,
    query_vec: list[float],
    k: int = 10,
    max_regret: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Retrieval-quality audit for an approximate top-k (expects ZERO
    rows): every id the ANN returned must have TRUE squared-L2 distance
    to the query within ``max_regret`` × the exact k-th-nearest
    distance. This is the distance-regret contract ANN literature
    reports as the "effective epsilon" — the right quality pin for a
    corpus of i.i.d. random vectors, where recall@k is statistically
    vacuous (distance concentration makes the exact top-k barely
    separated from rank 2k, so even a GOOD quantizer's recall@10 sits
    near noise level) but a returned "neighbor" that is materially
    FARTHER than the true k-th neighbor is an unambiguous defect.

    Plan shape: exact distances are one codegen projection; the k-th
    exact distance comes from a TakeOrdered(k) + max aggregate — a
    one-row frame broadcast into the comparison (the repo's standard
    broadcast-scalar crossJoin), never a global sort; the ANN result
    (≤ k rows) joins back to its true distances by id. Nothing here
    scans the embedding column twice on disk — both sides prune to
    (id, embedding).
    """
    true_dist = df.select(
        F.col(id_col), squared_l2(F.col(vec_col), query_vec).alias("true_dist")
    )
    kth = (
        true_dist.orderBy("true_dist", id_col)
        .limit(k)
        .agg(F.max("true_dist").alias("exact_kth_dist"))
    )
    return (
        approx_topk.select(id_col)
        .join(true_dist, id_col)
        .crossJoin(F.broadcast(kth))
        .withColumn(
            "regret",
            F.col("true_dist")
            / F.greatest(F.col("exact_kth_dist"), F.lit(1e-12)),
        )
        .filter(F.col("regret") > F.lit(float(max_regret)))
        .select(id_col, "true_dist", "exact_kth_dist", F.round("regret", 6).alias("regret"))
    )


def pq_rerank_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval — the production ANN answer pattern (FAISS
    search-then-refine): the compressed domain picks a ``shortlist`` of
    candidates by codegen ADC distance (:func:`pq_topk`, scans only the
    m-byte codes), then ONLY those rows' float vectors are fetched and
    re-scored with exact cosine for the final ``k``.

    Scale shape: stage 1 touches codes (64× smaller than vectors);
    stage 2 is a ``shortlist``-row semi-join — the full-precision
    embedding column is read for shortlist rows, never the corpus.
    Quality contract: whenever the shortlist's recall@k is 1 (audited
    by the zero-row ``pq_recall_violations`` family), the output is
    BIT-IDENTICAL to exact brute force — which is what lets the
    composed pipeline be oracle-checked end to end, unlike raw ADC
    ranking."""
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    cand_ids = pq_topk(
        df, codebooks, query_vec, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select(id_col)
    shortlisted = df.join(F.broadcast(cand_ids), id_col, "leftsemi")
    return cosine_topk(
        shortlisted, query_vec, k=k, vec_col=vec_col, id_col=id_col
    )


def int8_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval with SCALAR-quantized stage 1 (the
    ScaNN-style asymmetric pattern): candidates are scored against the
    int8-reconstructed vectors (:func:`quantize_embeddings` codec —
    in production the stored codes column, 4× smaller scan), the top
    ``shortlist`` fetch their full-precision vectors, exact cosine
    picks the final ``k``.

    Versus :func:`pq_rerank_topk`: int8 keeps per-dimension resolution
    (reconstruction error ≤ scale/2 per dim), so tiny shortlists
    already cover the true top-k — measured on the fixture corpus a
    15-row shortlist covers the exact top-10, so ``shortlist=50``
    leaves 3× margin and the composition is bit-identical to brute
    force (hash-checked end to end by
    ``pq_rerank_topk_embeddings``'s oracle-checked sibling query).
    PQ's 64× codes need shortlists an order larger at equal recall —
    the classic compression/recall dial between the two stages."""
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    quant = quantize_embeddings(df, bits=bits, vec_col=vec_col, id_col=id_col)
    recon = quant.select(
        F.col(id_col),
        F.transform(
            "codes",
            lambda c: F.col("qmin")
            + c.cast("double") * (F.col("qmax") - F.col("qmin")) / F.lit(float((1 << bits) - 1)),
        ).alias("recon"),
    )
    cand_ids = cosine_topk(
        recon, query_vec, k=shortlist, vec_col="recon", id_col=id_col,
        round_digits=None,
    ).select(id_col)
    shortlisted = df.join(F.broadcast(cand_ids), id_col, "leftsemi")
    return cosine_topk(shortlisted, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def save_ann_state(
    path: str,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    metadata: dict | None = None,
) -> None:
    """Persist trained ANN state (IVF centroids and/or PQ codebooks) as
    one JSON artifact — the train-once/score-everywhere contract a
    production index needs: the ingest job trains and saves, every
    query job loads and scores, and two jobs can never disagree about
    the quantizer. Floats round-trip exactly (JSON decimal strings of
    Python floats are lossless via repr)."""
    state = {
        "format_version": 1,
        "centroids": centroids,
        "codebooks": codebooks,
        "metadata": metadata or {},
    }
    write_json_atomic(path, state)


def load_ann_state(path: str) -> dict:
    """Load a :func:`save_ann_state` artifact. Raises on version
    mismatch so a quantizer format change can never be silently
    misread."""
    import json

    with open(path) as f:
        state = json.load(f)
    if state.get("format_version") != 1:
        raise ValueError(
            f"unsupported ann state format: {state.get('format_version')!r}"
        )
    return state


def rrf_fuse(
    rankings: list[tuple[DataFrame, str, str]],
    k: int = 20,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of several bounded candidate rankings —
    the standard hybrid-retrieval combiner (lexical BM25 + dense
    cosine, or any mix): fused score = Σ 1/(c + rank_i), with absent
    arms contributing 0. Each input in ``rankings`` is
    ``(df, id_col, score_col)`` and MUST already be a bounded top-N
    candidate list (e.g. from :func:`cosine_topk` /
    ``text.bm25_topk``): ranks are assigned by a global row_number
    over (score DESC, id ASC) — pass scores already rounded for
    cross-engine determinism, as bm25_topk/cosine_topk emit them —
    which is only sane (and only scale-free) over an already-reduced
    candidate set. Ranks are
    exact integers, so each contribution is one IEEE double division
    and the fused score is engine-exact; output ranks use 0 for
    "not in this arm's top-N" so every column is non-null.

    Output: ``id``, ``rank_0`` … ``rank_{n-1}``, ``rrf_score``
    (round 6), top-``k`` by (rrf_score DESC, id ASC).
    """
    from functools import reduce

    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    ranked = []
    for i, (df, id_col, score_col) in enumerate(rankings):
        w = Window.orderBy(F.desc(score_col), F.col(id_col))
        ranked.append(
            df.select(
                F.col(id_col).alias("id"),
                F.row_number().over(w).cast("long").alias(f"rank_{i}"),
            )
        )
    fused = reduce(lambda l, r: l.join(r, "id", "full_outer"), ranked)
    contribs = [
        F.coalesce(
            F.lit(1.0) / (F.lit(c) + F.col(f"rank_{i}")), F.lit(0.0)
        )
        for i in range(len(rankings))
    ]
    score = contribs[0]
    for extra in contribs[1:]:
        score = score + extra
    return (
        fused.select(
            "id",
            *[
                F.coalesce(F.col(f"rank_{i}"), F.lit(0).cast("long")).alias(
                    f"rank_{i}"
                )
                for i in range(len(rankings))
            ],
            F.round(score, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.col("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Density clustering (DBSCAN) — cluster structure, not just dedup
# ---------------------------------------------------------------------------
#
# semantic_dedup answers "which rows are redundant"; DBSCAN (Ester et
# al., KDD 1996) answers "what density structure does the corpus have"
# — topic cores, their halos, and outliers. For training-data curation
# that's the upstream question: mega-dense cores are boilerplate
# candidates, noise points are either gold (rare data) or garbage
# (corrupt rows), and per-cluster sampling quotas need the labels.


def dbscan(
    df: DataFrame,
    sim_eps: float = 0.2,
    min_pts: int = 4,
    block_col: str | None = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scorer: str = "numpy",
    cc_algorithm: str = "auto",
) -> DataFrame:
    """Cosine-space DBSCAN over an embedding column.

    Neighborhood = cosine similarity ``>= sim_eps`` (rounded to 6
    decimals, matching every pair surface in this repo); a point is
    **core** when its closed neighborhood holds ``min_pts`` points
    (itself included), clusters are connected components of the
    core-core neighbor graph labelled by their minimum core id,
    **border** points attach to the minimum cluster id among their core
    neighbors (deterministic — the textbook algorithm's border
    assignment is scan-order-dependent, which would never hash-match an
    oracle), and everything else is **noise** (NULL cluster).

    Returns ``(id_col, n_neighbors, role, cluster_id)``.

    Scale shape — composition of already-scale-argued parts, no new
    shuffles: the pair space is blocked (:func:`cosine_near_dup_pairs`
    — ``block_col`` is a label/shard here, an LSH or IVF cell column at
    corpus scale), degrees are one hash aggregate over the EDGE list
    (never the vectors), and the closure runs on the core-core subgraph
    only — strictly smaller than the dedup CC graphs already bounded in
    SCALE.md. Embeddings never shuffle: every stage after pair scoring
    moves (id, id) or (id, long) rows.
    """
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        connected_components,
    )

    pairs = cosine_near_dup_pairs(
        df, threshold=sim_eps, block_col=block_col, vec_col=vec_col,
        id_col=id_col, scorer=scorer,
    ).select("id_a", "id_b")
    # directed edge list u -> v (both directions) for degree + border joins
    edges = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = edges.groupBy("id_a").agg(F.count(F.lit(1)).alias("n_neighbors"))
    ids = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"))
    )
    marked = (
        ids.join(deg.withColumnRenamed("id_a", "id"), "id", "left")
        .fillna(0, ["n_neighbors"])
    )
    core = marked.filter(
        F.col("n_neighbors") + 1 >= F.lit(min_pts)
    ).select("id")
    core_pairs = (
        pairs.join(core.withColumnRenamed("id", "id_a"), "id_a")
        .join(core.withColumnRenamed("id", "id_b"), "id_b")
        .select("id_a", "id_b")
    )
    comp = connected_components(
        core, core_pairs, id_col="id", algorithm=cc_algorithm
    ).select(F.col("id"), F.col("component_id").alias("core_cluster"))
    # border: non-core point -> min cluster id among its CORE neighbors
    border = (
        edges.join(comp.withColumnRenamed("id", "id_b"), "id_b")
        .groupBy("id_a")
        .agg(F.min("core_cluster").alias("border_cluster"))
        .withColumnRenamed("id_a", "id")
    )
    out = (
        marked.join(comp, "id", "left")
        .join(border, "id", "left")
    )
    role = (
        F.when(F.col("core_cluster").isNotNull(), F.lit("core"))
        .when(F.col("border_cluster").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
    )
    return out.select(
        F.col("id").alias(id_col),
        F.col("n_neighbors"),
        role.alias("role"),
        F.coalesce("core_cluster", "border_cluster").alias("cluster_id"),
    )


#: Hard ceiling on the MMR candidate pool: the greedy stage collects
#: ``n`` relevance rows plus ``n·(n-1)`` pairwise sims to the driver,
#: so the driver-side footprint is O(n²) — 1024 caps it at ~1M small
#: rows (tens of MB), the same order as ``_cc_driver``'s 1M-edge gate.
MMR_MAX_POOL = 1024


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 32,
    lam: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick ``k`` results maximizing
    ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`` — the
    diversification pass RAG retrieval runs on a relevance top-list so
    near-duplicate passages don't crowd out coverage.

    Two distributed stages + one bounded greedy: (1) top
    ``n_candidates`` by query cosine — TakeOrdered, no shuffle of the
    embedding column; (2) pairwise candidate sims — a broadcast-sized
    self-join over ≤ n² rows; (3) the inherently sequential greedy runs
    on the COLLECTED candidate tables (≤ n + n² bounded rows — the
    repo's deterministic-bounded-fetch policy, same as BPE's argmax
    chain; the corpus never leaves the executors, only the candidate
    scores do).

    HARD CONTRACT: the driver-side memory bound is n_candidates², so
    ``n_candidates`` must not exceed :data:`MMR_MAX_POOL` (1024 —
    ~1M pair rows collected, the same order as ``_cc_driver``'s
    1M-edge gate); oversized pools raise instead of silently
    collecting an unbounded pool². Diversifying more than ~1k
    candidates is an algorithm-choice smell anyway — run a coarser
    pre-filter (IVF cells, clustering) first.

    Exactness: similarities quantize to integer micro-units at scoring,
    λ to ppm, so every MMR score is the exact integer
    ``λ_ppm·rel_micro − (10⁶−λ_ppm)·pen_micro`` — no float enters the
    greedy, every tie breaks by id, and an unrolled-CTE SQL oracle
    reproduces the selection bit-for-bit.

    Returns ``(step, id, rel_micro, mmr_score)`` — selection order.
    """
    if n_candidates > MMR_MAX_POOL:
        raise ValueError(
            f"mmr_rerank: n_candidates={n_candidates} exceeds "
            f"MMR_MAX_POOL={MMR_MAX_POOL}; the greedy stage collects "
            "pool^2 pairwise sims to the driver — pre-filter the "
            "candidate set instead of raising the cap"
        )
    spark = df.sparkSession
    lam_ppm = int(round(lam * 1_000_000))
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    cand = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), q) * F.lit(1e6), 0)
            .cast("long")
            .alias("rel_micro"),
        )
        .orderBy(F.desc("rel_micro"), F.col(id_col))
        .limit(n_candidates)
    )
    cvec = df.join(cand.select(id_col), id_col).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    a, b = cvec.alias("a"), cvec.alias("b")
    sims = a.join(b, F.col("a.cid") != F.col("b.cid")).select(
        F.col("a.cid").alias("ia"),
        F.col("b.cid").alias("ib"),
        F.round(
            cosine_similarity(F.col("a.cv"), F.col("b.cv")) * F.lit(1e6), 0
        )
        .cast("long")
        .alias("s_micro"),
    )
    rel = {r[0]: r[1] for r in cand.collect()}
    sim = {(r.ia, r.ib): r.s_micro for r in sims.collect()}
    selected: list = []
    rows = []
    for step in range(1, min(k, len(rel)) + 1):
        best_id, best_score = None, None
        for c in sorted(cid for cid in rel if cid not in selected):
            pen = max((sim[(c, s)] for s in selected), default=0)
            score = lam_ppm * rel[c] - (1_000_000 - lam_ppm) * pen
            if best_score is None or score > best_score:
                best_id, best_score = c, score
        selected.append(best_id)
        rows.append((step, best_id, rel[best_id], best_score))
    return spark.createDataFrame(
        rows, f"step int, {id_col} long, rel_micro long, mmr_score long"
    )


def ndcg_eval(
    candidate: DataFrame,
    truth: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    method: str = "candidate",
) -> DataFrame:
    """NDCG@k of a candidate ranking against a ground-truth ranking —
    the graded retrieval-quality metric that closes the gap between
    the repo's binary recall audits (`*_recall_violations`: "did the
    true neighbors appear") and ranking quality ("did they appear in
    the right ORDER"). Gain of the truth's rank-r item is ``k+1−r``;
    discount weights ``1/log2(pos+1)`` quantize to integer micro-units
    so both DCG sums are exact; NDCG is one double division.

    Inputs are bounded (id, rk) top-lists (rk 1..k) — everything here
    is list-sized; the heavy lifting happened in whatever produced the
    rankings. Returns one row ``(method, dcg_micro, idcg_micro,
    ndcg_r6)``.

    Preconditions (r9, advice item): ``id_col`` must be UNIQUE in both
    lists — the full-outer join would duplicate the matched truth row
    for a repeated candidate id and inflate idcg_micro (every in-repo
    producer emits row_number'd top-k lists, unique by construction).
    An EMPTY candidate list yields dcg_micro = 0 and ndcg = 0.0 (the
    r8 single-join shape; the pre-r8 form returned NULL there) — 0 is
    the intended reading: an empty ranking retrieves nothing.
    """
    w = F.round(
        F.lit(1_000_000.0) / F.log2(F.col("rk").cast("double") + 1), 0
    ).cast("long")
    t = truth.select(
        F.col(id_col),
        (F.lit(k + 1) - F.col("rk")).alias("gain"),
        w.alias("w_t"),
    )
    c = candidate.select(F.col(id_col), w.alias("w_c"))
    # ONE full-outer join + ONE aggregate (r8): the old shape read the
    # truth list twice (dcg's left join + a second idcg aggregate) and
    # cross-joined the two one-row results — on a full outer join,
    # matched and candidate-only rows contribute gain·w_c to DCG
    # (truth-only rows contribute 0 via the null w_c), and matched and
    # truth-only rows contribute gain·w_t to IDCG (candidate-only rows
    # have null gain·w_t) — identical exact-integer sums, but the
    # upstream ranking subtree is derived once per list, not twice.
    joined = c.join(t, id_col, "full")
    return joined.agg(
        F.sum(
            F.coalesce(F.col("gain"), F.lit(0))
            * F.coalesce(F.col("w_c"), F.lit(0))
        ).alias("dcg_micro"),
        F.sum(F.coalesce(F.col("gain") * F.col("w_t"), F.lit(0))).alias(
            "idcg_micro"
        ),
    ).select(
        F.lit(method).alias("method"),
        "dcg_micro",
        "idcg_micro",
        F.round(
            F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 6
        ).alias("ndcg_r6"),
    )


def kcenter_coreset(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez's farthest-point
    traversal, the classic 2-approximation for the k-center objective)
    — the diversity-sampling primitive for training-data curation:
    pick ``k`` vectors such that every vector is close to some pick,
    by repeatedly selecting the point FARTHEST from the current picks.
    Complements the repo's similarity family from the opposite
    direction — MMR re-ranks a bounded candidate pool for one query,
    SemDeDup/k-means DROP redundant points; k-center SELECTS a maximal-
    coverage skeleton of the whole corpus (coreset for clustering,
    seed set for active learning / annotation budgets).

    Deterministic end-to-end: the seed is the minimum id (farthest-
    point is seed-invariant up to the 2-approx guarantee, and a fixed
    seed makes the output oracle-checkable); per-center squared L2
    distances are computed in double via the inner-product identity
    ``|a−b|² = |a|² + |b|² − 2a·b`` and ROUNDED to ``round_digits``
    BEFORE the min-over-centers and the argmax, so the selection
    depends only on 1e-6-quantized values that DuckDB reproduces
    (same discipline as the DSIR log-ratio quantization).

    Scale shape: k−1 driver-coordinated passes, each ONE TakeOrdered
    job (partial top-1 per partition — no sort shuffle, no full
    collect; the driver sees exactly one row per pass, the bounded-
    apparatus contract). Every pass recomputes min-distance against
    ≤k literal centers — O(k²·n·d) total, the stateless tradeoff that
    avoids persisting a running dmin column across jobs (at 100 TB
    you would checkpoint dmin instead; with k=8 the recompute is
    cheaper than the checkpoint writes). Returns ``(rank, vec_id,
    sel_dist)`` — sel_dist is the selection's distance-to-picked-set,
    the k-center coverage radius sequence (NULL for the seed)."""
    spark = df.sparkSession
    e = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("sq", _dot(F.col("v"), F.col("v")))
        # pinned: the k-1 farthest-point passes below each re-read the
        # vector table — un-pinned, every pass re-ran the scan + the
        # double-cast + |v|² projection (k-1 redundant corpus scans)
        .localCheckpoint(eager=False)
    )
    seed = e.orderBy("id").first()
    picks: list[tuple[int, int, float | None]] = [(1, seed["id"], None)]
    centers: list[tuple[list[float], float]] = [(seed["v"], seed["sq"])]
    chosen: list[int] = [seed["id"]]
    for r in range(2, k + 1):
        dists = [
            F.round(
                F.col("sq")
                + F.lit(csq)
                - 2.0 * _dot(F.col("v"), F.array(*[F.lit(x) for x in cv])),
                round_digits,
            )
            for cv, csq in centers
        ]
        dmin = F.least(*dists) if len(dists) > 1 else dists[0]
        row = (
            e.filter(~F.col("id").isin(chosen))
            .select("id", "v", "sq", dmin.alias("dmin"))
            .orderBy(F.desc("dmin"), F.col("id"))
            .first()
        )
        if row is None:  # corpus smaller than k
            break
        picks.append((r, row["id"], float(row["dmin"])))
        centers.append((row["v"], row["sq"]))
        chosen.append(row["id"])
    return spark.createDataFrame(
        picks, schema="rank int, vec_id long, sel_dist double"
    )
