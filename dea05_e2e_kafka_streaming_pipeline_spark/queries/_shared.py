"""Shared helpers of the query registry: oracle SQL constants,
per-process lru_cached artifacts (txlog tables, IVF layouts, BPE
merges), and the entity CTEs — everything the family modules'
queries reference besides the operators themselves."""


from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dea05_e2e_kafka_streaming_pipeline_spark.plans.gold import (
    build_clv,
    build_daily_sales,
)
from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
    CUSTOMERS_SQL,
    ORDERS_SQL,
    load_customers,
    load_orders,
)




# Shared oracle CTE prologue mapping testdata → reference entities
# (FIXTURES.md §4; mirrors sources/entities.py exactly).
_ENTITY_CTES = f"WITH o AS ({ORDERS_SQL}), c AS ({CUSTOMERS_SQL})"



@lru_cache(maxsize=None)
def _query_vec(sf_dir: str, vec_id: int = 0) -> tuple[float, ...]:
    """Driver-side fetch of one query vector straight from the parquet
    file via pyarrow — building the registry DataFrame must trigger no
    Spark job (round-2 verdict: the `.head()` probes each added a
    blocking driver job per query build). Cached per (sf_dir, vec_id);
    the fetch is a few KB regardless of table size."""
    import pyarrow.dataset as ds

    t = ds.dataset(f"{sf_dir}/embeddings.parquet").to_table(
        columns=["embedding"], filter=ds.field("vec_id") == vec_id
    )
    return tuple(float(v) for v in t.column("embedding")[0].as_py())



@lru_cache(maxsize=None)
def _quantizer_sample(sf_dir: str, sample_rows: int = 2048):
    """Deterministic driver-side training sample shared by the IVF and
    PQ quantizers: every ``n // sample_rows``-th row of the id-sorted
    table with a non-null embedding, via pyarrow — no Spark job at
    plan build. STRIDED, not the id-prefix it used to be: the x10 tier
    caught the prefix sample misrepresenting ordered layouts (lowest
    ids were ~all one replica, so every other replica's vectors
    crammed into a few mega-cells and pair volume went quadratic). A
    stride is equally reproducible and spans the table the way a
    block-sampled scan would at 100 TB. When the table fits in
    ``sample_rows`` the stride is 1 — identical to the historical
    prefix (sf0.01/sf0.1 samples, and therefore every checked result,
    unchanged).

    The stride is positional over the SORTED id array (rank), not a
    ``id % stride`` filter on raw values: raw-modulo undersamples or
    empties sparse/offset id spaces (round-5 advice). On the dense
    0-based ids of every shipped tier the two select identical rows,
    so committed artifacts are unchanged. Mirrors
    operators.similarity.kmeans_centroids (rank-strided there via the
    global_row_number scaffold)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds

    dataset = ds.dataset(f"{sf_dir}/embeddings.parquet")
    ids = dataset.to_table(
        columns=["vec_id"], filter=ds.field("embedding").is_valid()
    ).column("vec_id")
    stride = max(1, len(ids) // sample_rows)
    if stride > 1:
        arr = np.sort(ids.to_numpy(zero_copy_only=False))
        ids = pa.array(arr[::stride][:sample_rows])
    t = dataset.to_table(
        columns=["vec_id", "embedding"],
        filter=ds.field("embedding").is_valid()
        & ds.field("vec_id").isin(ids),
    )
    return t.sort_by("vec_id").slice(0, sample_rows)


@lru_cache(maxsize=None)
def _ivf_centroids(
    sf_dir: str, n_centroids: int = 8, sample_rows: int | None = None
) -> tuple[tuple[float, ...], ...]:
    """IVF coarse-quantizer training on the deterministic strided
    sample (``_quantizer_sample``), read driver-side via pyarrow so
    plan build stays Spark-job-free. Same sample discipline + seeded
    numpy k-means as operators.similarity.kmeans_centroids.

    The sample GROWS with the requested cell count (>= 4 rows per
    centroid, historical floor 2048): a fixed 2048-row sample starves
    centroids once the n-adaptive cell formula passes ~512 cells (seen
    preparing the x100 spill tier — 800+ cells at 200k vectors). At or
    below 512 cells the sample is the historical 2048, so every
    committed tier's centroids are byte-identical. Training stays
    O(k·n·dim): 2400 cells on a 9600-row sample is ~1.5 s."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_fit,
    )

    if sample_rows is None:
        sample_rows = max(2048, 4 * n_centroids)
    t = _quantizer_sample(sf_dir, sample_rows)
    x = [[float(v) for v in e] for e in t.column("embedding").to_pylist()]
    return tuple(tuple(c) for c in kmeans_fit(x, n_centroids=n_centroids))



@lru_cache(maxsize=None)
def _ivf_centroids_hier(
    sf_dir: str, n_centroids: int = 8, sample_rows: int | None = None
) -> tuple[tuple[float, ...], ...]:
    """Two-level coarse-quantizer training (`kmeans_fit_hier`) on the
    SAME deterministic strided sample as ``_ivf_centroids`` — the
    bounded-driver-cost trainer whose level two decomposes into
    independent per-cell fits (distributed form:
    operators.similarity.ivf_subquantizers). Flat training is
    O(k·S·dim) and with the adaptive discipline (k ∝ n, S ∝ k) grows
    quadratically in n; the two-level form is O(√k·S·dim) per level.
    Quality is pinned where it matters — the layout these centroids
    induce must still clear the background-tail recall floor
    (`near_dup_hier_recall_violations`)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_fit_hier,
    )

    if sample_rows is None:
        sample_rows = max(2048, 4 * n_centroids)
    t = _quantizer_sample(sf_dir, sample_rows)
    x = [[float(v) for v in e] for e in t.column("embedding").to_pylist()]
    return tuple(tuple(c) for c in kmeans_fit_hier(x, n_centroids=n_centroids))


@lru_cache(maxsize=None)
def _vec_count(sf_dir: str) -> int:
    """Embeddings-table row count from parquet METADATA only (no data
    pages, no Spark job) — the input the adaptive blocking formulas
    key on."""
    import pyarrow.dataset as ds

    return ds.dataset(f"{sf_dir}/embeddings.parquet").count_rows()


def _adaptive_planes(sf_dir: str, target: int = 32, lo: int = 8) -> int:
    """Hyperplane count whose LSH bucket OCCUPANCY stays ~`target` as
    the table grows: ``planes = log2(n/target)``, floored at the
    historical 8 (so sf0.01/sf0.1 keep their committed bucket layout
    and rows-only counts).

    The x100 spill tier caught the fixed-8-planes disease: 256 buckets
    at 200k vectors means ~780 vectors/bucket and n² within-bucket
    pair volume — knn_join measured 71.6x wall at the 10x step (the
    same fixed-cardinality blocking failure mode as round 5's nation
    blocks, one level down). Holding occupancy constant makes pair
    volume ~n·target — linear — at the price LSH always charges for
    more planes: marginally lower bucket-collision recall per plane
    (knn quality stays pinned by `knn_score_violations`, which audits
    SCORES, and `knn_blocked_exact`, which hash-checks the shared
    scoring/window tail under deterministic blocking). Computed from
    parquet METADATA (`_vec_count`) so plan build stays job-free."""
    import math

    return max(lo, math.ceil(math.log2(max(1.0, _vec_count(sf_dir) / target))))


def _adaptive_cells(
    sf_dir: str, target: int = 250, lo: int = 8, hi: int = 4096
) -> int:
    """Coarse-quantizer cell count that GROWS with the table: ~`target`
    vectors per cell, clamped to [lo, hi].

    This is the named scale fix for the fixed-blocking growth the x10
    tier surfaced (SCALE.md): with a constant cell count, cells grow
    linearly with n and within-cell pair volume grows n² (measured
    26.1x wall at 10x input for `semantic_dedup_kmeans@8cells`);
    holding EXPECTED CELL SIZE constant instead makes pair volume —
    and measured wall — grow ~linearly. The training sample scales
    with the cell count (``_ivf_centroids``: >= 4 rows per centroid),
    so `hi` is a sanity rail, not a sample-mass bound — the old 512
    clamp silently re-quadraticized the x100 tier (800 wanted cells,
    occupancy x1.6). At sf0.01/sf0.1 the formula lands on the
    historical 8, so hashes and rows-only row counts are unchanged
    where the driver checks them."""
    return min(hi, max(lo, _vec_count(sf_dir) // target))


@lru_cache(maxsize=None)
def _pq_codebooks(
    sf_dir: str, m: int = 4, n_codes: int = 16, sample_rows: int = 2048
):
    """PQ codebook training on the same deterministic strided sample as
    ``_ivf_centroids`` (``_quantizer_sample``) — plan build stays
    Spark-job-free; cached per sf_dir so the topk query and its ADC
    audit share one training."""
    import numpy as np

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        pq_fit,
    )

    t = _quantizer_sample(sf_dir, sample_rows)
    x = np.array(
        [[float(v) for v in e] for e in t.column("embedding").to_pylist()]
    )
    return pq_fit(x, m=m, n_codes=n_codes)


# exact decimal sum, surfaced as double (see module docstring)
_SUM_AMOUNT = "CAST(SUM(CAST(o.order_amount AS DECIMAL(18,2))) AS DOUBLE)"



# ---------------------------------------------------------------------------
# LLM-training-data pipeline operators over documents/embeddings
# (north-star scope; operators/{text,dedup,similarity}.py)
# ---------------------------------------------------------------------------

# tokenization fragments shared by the DuckDB oracles (must mirror
# operators/text.py exactly: lowercase, split on non-alphanumeric runs,
# drop empties)
_DUCK_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

_DUCK_STOPS_EN = "['the','and','of','to','a','in','is','that','for','it']"



# Shared by ngram_jaccard_pairs and its prefix-filtered twin: both
# produce EXACTLY the same pairs, so one DuckDB oracle checks both.
_NGRAM_JACCARD_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t
    ), s AS (
      SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM d
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
      FROM s a JOIN s b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) AS jaccard
    FROM p
    WHERE round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) >= 0.2
    """



_PROFILE_COL = """
    SELECT '{c}' AS col_name, count(*) AS total,
           count(*) - count({c}) AS nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_value,
           CAST(max({c}) AS VARCHAR) AS max_value
    FROM o
"""



@lru_cache(maxsize=None)
def _txlog_table(sf_dir: str) -> str:
    """Materialize (once per process) a snapshot-log table exercising
    the full CDC merge flow on the orders entity: version 0 = the
    entity merged as snapshot reads into an empty table; version 1 = a
    deterministic CDC MERGE (every order_id % 97 == 0 gets +1.00 on its
    amount, every % 101 == 0 is deleted; delete wins on the overlap by
    the merge's same-ts tie-break). Returns the table path —
    `orders_snapshot_timetravel` reads BOTH versions back."""
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        upsert_batch_into_parquet,
    )

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    path = tempfile.mkdtemp(prefix="txlog_orders_")
    orders = load_orders(spark, sf_dir).withColumn(
        "order_amount", F.col("order_amount").cast("decimal(18,2)")
    )

    def changes(df, ts, op):
        return df.withColumn("_cdc_ts_ms", F.lit(ts)).withColumn("_cdc_op", F.lit(op))

    upsert_batch_into_parquet(changes(orders, 0, "r"), path, key="order_id")
    upd = orders.filter(F.col("order_id") % 97 == 0).withColumn(
        "order_amount",
        (F.col("order_amount") + F.lit(1).cast("decimal(18,2)")).cast("decimal(18,2)"),
    )
    dels = orders.filter(F.col("order_id") % 101 == 0)
    upsert_batch_into_parquet(
        changes(upd, 1, "u").unionByName(changes(dels, 1, "d")), path, key="order_id"
    )
    return path



_GINI_ORACLE = f"""
    {_ENTITY_CTES}
    , j AS (
      SELECT c.region,
             CAST(CAST(o.order_amount AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM o JOIN c USING (customer_id)
    ), ranked AS (
      SELECT region, cents,
             row_number() OVER (PARTITION BY region ORDER BY cents) AS i,
             count(*) OVER (PARTITION BY region) AS n
      FROM j
    )
    SELECT region,
           -- no BIGINT cast on the numerator sum: at the x100 tier the
           -- exact INT128 sum reaches ~7.6e19 > int64 max (caught by
           -- tools/x100_sweep.py round 7); INT128 -> DOUBLE is the
           -- same nearest-double the engine's DECIMAL(38) sum takes
           round(CAST(sum((2 * i - n - 1) * cents) AS DOUBLE)
                 / (CAST(max(n) AS DOUBLE) * CAST(sum(cents) AS BIGINT)), 6)
             AS gini
    FROM ranked GROUP BY region
    """



def _pagerank_oracle(
    iters: int = 3, scale: int = 1_000_000_000_000, weighted: bool = False
) -> str:
    """Unrolled fixed-point PageRank (one CTE pair per iteration) over
    the exact-Jaccard pair graph — DuckDB `//` and Spark `div` are the
    same floor division on bigints, and integer sums are
    order-insensitive, so the ranks hash-match bit-for-bit (see
    operators/graph.py docstring for the determinism argument).
    ``weighted=True`` propagates proportionally to the quantized
    Jaccard weight round(j·10⁶) instead of uniformly.

    ``pairs``/``edges`` are MATERIALIZED CTEs (r9): `edges` embeds the
    whole shingle-explode pair pipeline and is referenced once per
    iteration plus the degree pass — DuckDB's default CTE inlining
    re-evaluated that pipeline per reference, which is what filled a
    77 GB spill volume and killed both x10 oracle checks in rounds 8
    AND 9 (`No space left on device`). A materialization hint changes
    evaluation strategy only — bit-identical output."""
    if weighted:
        pairs = (
            "SELECT id_a, id_b, "
            "CAST(round(jaccard * 1000000, 0) AS BIGINT) AS w "
            f"FROM ({_NGRAM_JACCARD_ORACLE})"
        )
        edges = """edges AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst, w FROM pairs
              UNION ALL SELECT id_b AS src, id_a AS dst, w FROM pairs),
    deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM edges GROUP BY src)"""
        contrib = "(r.r * e.w) // d.deg"
    else:
        pairs = f"SELECT id_a, id_b FROM ({_NGRAM_JACCARD_ORACLE})"
        edges = """edges AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)"""
        contrib = "r.r // d.deg"
    sql = f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    {edges},
    nn AS (SELECT count(*) AS n FROM documents),
    r0 AS (SELECT doc_id AS v, {scale} // n AS r FROM documents CROSS JOIN nn)"""
    prev = "r0"
    for i in range(1, iters + 1):
        sql += f""",
    c{i} AS (SELECT e.dst AS v, CAST(sum({contrib}) AS BIGINT) AS s
             FROM edges e JOIN {prev} r ON e.src = r.v
             JOIN deg d ON d.src = e.src
             GROUP BY e.dst),
    r{i} AS (SELECT p.v,
                    CAST((15 * {scale}) // (100 * nn.n)
                    + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
             FROM {prev} p CROSS JOIN nn LEFT JOIN c{i} c ON p.v = c.v)"""
        prev = f"r{i}"
    return sql + f"\n    SELECT v AS doc_id, r AS rank_fp FROM {prev}"



_IVF_INDEX_BUILT: set[str] = set()



def _ivf_index_path(sf_dir: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return f"/tmp/spark_graft/ivf_index_{tag}"



def _simhash_md5_oracle(max_hamming: int = 3) -> str:
    """DuckDB mirror of simhash_pairs_md5: token bits from md5 hex
    (hi/lo 8-char chunks parsed as ints), 64 conditional-sum bit votes,
    sign bits packed into four 16-bit quarters, quarter-banded pair join,
    quarter-wise Hamming. Every intermediate fits in BIGINT range."""
    votes = ",\n             ".join(
        "sum(CASE WHEN ({src} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}".format(
            src="lo" if i < 32 else "hi", sh=i if i < 32 else i - 32, i=i
        )
        for i in range(64)
    )
    quarters = ",\n             ".join(
        " + ".join(
            f"(CASE WHEN b{qi * 16 + t} > 0 THEN {1 << t} ELSE 0 END)"
            for t in range(16)
        )
        + f" AS q{qi}"
        for qi in range(4)
    )
    band = "\n      UNION ALL ".join(
        f"SELECT doc_id, q0, q1, q2, q3, {qi} AS qi, q{qi} AS qv FROM q"
        for qi in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(a{qi}, b{qi}_))" for qi in range(4))
    return f"""
    WITH t AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ), c AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
             ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
      FROM t
    ), v AS (
      SELECT doc_id, {votes}
      FROM c GROUP BY doc_id
    ), q AS (
      SELECT doc_id, {quarters}
      FROM v
    ), band AS (
      {band}
    ), cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.q0 AS a0, a.q1 AS a1, a.q2 AS a2, a.q3 AS a3,
             b.q0 AS b0_, b.q1 AS b1_, b.q2 AS b2_, b.q3 AS b3_
      FROM band a
      JOIN band b ON a.qi = b.qi AND a.qv = b.qv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, {hamming} AS hamming
    FROM cands
    WHERE {hamming} <= {max_hamming}
    """



def _minhash_md5_oracle(num_hashes: int, bands: int, threshold: float) -> str:
    """DuckDB mirror of minhash_lsh_pairs(hash_family='md5') — md5 hex
    is byte-identical across engines and hex-string minima compare the
    same under both engines' binary collation, so the whole pipeline
    (seeded signature minima → band hashes → bucket collisions → exact
    Jaccard verification) is reproducible in SQL."""
    rows = num_hashes // bands
    mins = ",\n             ".join(
        f"min(md5('{j}|' || s)) AS m{j}" for j in range(num_hashes)
    )
    band_sel = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bh FROM sig".format(
            b=b, cat=" || ".join(f"m{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t
    ), s AS (
      SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM d
    ), sig AS (
      SELECT doc_id, {mins}
      FROM s GROUP BY doc_id
    ), band AS (
      {band_sel}
    ), cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM band a
      JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
      FROM s a JOIN s b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT c.id_a, c.id_b,
           round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) AS jaccard
    FROM cands c JOIN common USING (id_a, id_b)
    WHERE round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) >= {threshold}
    """



_NGRAM_PAIRS_CTE = f"""
    t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t
    ), s AS (
      SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM d
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS common
      FROM s a JOIN s b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), pairs AS (
      SELECT id_a, id_b
      FROM p
      WHERE round(CAST(common AS DOUBLE) / (n_a + n_b - common), 6) >= 0.2
    )
"""



def _bpe_ctes(n_merges: int) -> str:
    """Shared CTE chain for the BPE oracles: word-frequency reduction,
    per-round weighted pair argmax (count desc, pair lexicographic
    tie-break) and literal ``replace`` merge — replace's left-to-right
    non-overlapping scan IS the greedy merge fold in both engines, so
    every round's vocabulary state matches exactly. All CTEs are
    MATERIALIZED: the naive chain inlines v{k-1} several times per
    level (exponential blowup — observed as an fd explosion)."""
    parts = [
        """w AS MATERIALIZED (
      SELECT word, count(*) AS n FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        FROM documents
      ) GROUP BY 1
    ), v0 AS MATERIALIZED (
      SELECT word, n,
             ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s
      FROM w
    )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(f"""p{k} AS MATERIALIZED (
      SELECT l, r, sum(n) AS cnt FROM (
        SELECT n, arr[i] AS l, arr[i+1] AS r
        FROM (SELECT n, string_split(trim(s), ' ') AS arr FROM v{k - 1}),
             UNNEST(generate_series(1, len(arr)-1)) AS u(i)
      ) GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
    ), v{k} AS MATERIALIZED (
      SELECT word, n, replace(s,
        ' ' || (SELECT l FROM p{k}) || ' ' || (SELECT r FROM p{k}) || ' ',
        ' ' || (SELECT l FROM p{k}) || (SELECT r FROM p{k}) || ' ') AS s
      FROM v{k - 1}
    )""")
    return "WITH " + ",\n    ".join(parts)



def _bpe_oracle(n_merges: int) -> str:
    rounds = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, l AS \"left\", r AS \"right\", "
        f"l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM p{k}"
        for k in range(1, n_merges + 1)
    )
    return _bpe_ctes(n_merges) + "\n    " + rounds



def _bpe_counts_oracle(n_merges: int) -> str:
    return (
        _bpe_ctes(n_merges)
        + f""",
    seg AS (
      SELECT word, len(string_split(trim(s), ' ')) AS wt,
             length(word) AS wc
      FROM v{n_merges}
    ), dw AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents
    )
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(wt) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(wc) AS BIGINT) AS n_chars
    FROM dw JOIN seg USING (word) GROUP BY 1"""
    )



@lru_cache(maxsize=None)
def _bpe_state(sf_dir: str, n_merges: int = 8):
    """One BPE training run shared by the train and apply queries (the
    trained state is checkpointed DataFrames; re-training for the
    apply query would repeat the whole merge chain). Keyed per process
    — exactly the lifetime of the session the frames belong to."""
    from pyspark.sql import SparkSession

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        bpe_train_state,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    spark = SparkSession.getActiveSession()
    return bpe_train_state(
        load_table(spark, sf_dir, "documents"), n_merges=n_merges
    )



# ---------------------------------------------------------------------------
# Data-quality suite (reference curated/data_quality.py) — the engine runs
# all completeness/accuracy checks in ONE aggregate job + one broadcast
# anti-join for referential integrity (vs the reference's job-per-check).
# ---------------------------------------------------------------------------

# fixed future bound replaces the reference's wall-clock `current_date()`
# (curated/dq_kafka.py:182) so the oracle comparison is reproducible
_DQ_DATE_BOUND = "2099-01-01"



# ---------------------------------------------------------------------------
# Corpus curation (operators/curation.py) — quality gating, repetition,
# contamination, deterministic sampling, PII redaction, vocabulary
# ---------------------------------------------------------------------------

# md5-prefix bucket in [0,100) — mirrors operators/curation.py:_sample_bucket
_DUCK_BUCKET = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)



_BM25_TERMS = ("spark", "window", "dup")



def _bm25_oracle(
    terms: tuple[str, ...], k: int, k1: float = 1.2, b: float = 0.75
) -> str:
    """DuckDB mirror of operators.text.bm25_topk with IDENTICAL float
    parenthesization and literals (repr round-trips the exact doubles
    Spark embeds via F.lit), so round-6 scores hash-match."""
    c_k1 = f"CAST({k1!r} AS DOUBLE)"
    c_1b = f"CAST({1.0 - b!r} AS DOUBLE)"
    c_b = f"CAST({b!r} AS DOUBLE)"
    c_k11 = f"CAST({k1 + 1.0!r} AS DOUBLE)"
    tf_cols = ",\n             ".join(
        f"len(toks) - len(list_filter(toks, x -> x != '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    norm = f"{c_k1} * ({c_1b} + {c_b} * (CAST(dl AS DOUBLE) / avgdl))"
    parts = []
    for i in range(len(terms)):
        idf = (
            f"ln((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0)"
        )
        parts.append(
            f"{idf} * (CAST(tf_{i} AS DOUBLE) * {c_k11})"
            f" / (CAST(tf_{i} AS DOUBLE) + {norm})"
        )
    score = " + ".join(parts)
    return f"""
    WITH d AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), base AS (
      SELECT doc_id, len(toks) AS dl,
             {tf_cols}
      FROM d
    ), s AS (
      SELECT count(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl,
             {df_cols}
      FROM base
    )
    SELECT doc_id, bm25_score FROM (
      SELECT doc_id, round({score}, 6) AS bm25_score
      FROM base CROSS JOIN s
    ) WHERE bm25_score > 0.0
    ORDER BY bm25_score DESC, doc_id
    LIMIT {k}
    """



_SEMDEDUP_COS = (
    "round(list_cosine_similarity("
    "list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
    "list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6)"
)



def _cms_oracle(width: int, depth: int, threshold: int) -> str:
    """DuckDB mirror of the count-min pipeline: identical md5-derived
    buckets, identical min-over-rows estimate."""
    bucket = (
        "CAST(('0x' || substr(md5({r} || ':' || tok), 1, 8))::BIGINT "
        f"% {width} AS INTEGER)"
    )
    rows_union = "\n      UNION ALL ".join(
        f"SELECT {i} AS row, {bucket.format(r=i)} AS bucket, tok FROM toks"
        for i in range(depth)
    )
    return f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
    ), fan AS (
      {rows_union}
    ), sketch AS (
      SELECT row, bucket, count(*) AS cnt FROM fan GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT tok FROM toks
    ), cfan AS (
      {rows_union.replace("FROM toks", "FROM cand")}
    ), est AS (
      SELECT c.tok, CAST(min(s.cnt) AS BIGINT) AS est_count
      FROM cfan c JOIN sketch s ON c.row = s.row AND c.bucket = s.bucket
      GROUP BY 1
    )
    SELECT tok, est_count FROM est WHERE est_count >= {threshold}
    """



_TS_PATTERN = [120.0, 80.0, 200.0, 150.0, 60.0, 240.0, 100.0, 180.0]

_TS_PATTERN_SQL = "[" + ",".join(f"{v:.1f}" for v in _TS_PATTERN) + "]::DECIMAL(18,6)[]"



_EWMA_W = [0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125,
           0.00390625, 0.001953125]

_EWMA_W_SQL = "[" + ",".join(f"{w:.9f}" for w in _EWMA_W) + "]::DECIMAL(10,9)[]"



_TS_CPATTERN_SQL = (
    "[-170.0,-490.0,470.0,70.0,-650.0,790.0,-330.0,310.0]::DECIMAL(18,6)[]"
)



def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled k-core peeling in portable SQL (the `_pagerank_oracle`
    trick: fixed-iteration CTE chains replace the engine's convergent
    driver loop; `rounds` must exceed the fixture graph's peel depth —
    11 at sf0.01 for k=3 — so both sides reach the same fixpoint)."""
    ctes = [
        """items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), e0 AS MATERIALIZED (
      SELECT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )"""
    ]
    for i in range(rounds):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
      SELECT v FROM (
        SELECT src AS v FROM e{i} UNION ALL SELECT dst AS v FROM e{i}
      ) GROUP BY v HAVING count(*) >= {k}
    ), e{i + 1} AS MATERIALIZED (
      SELECT * FROM e{i}
      WHERE src IN (SELECT v FROM k{i}) AND dst IN (SELECT v FROM k{i})
    )"""
        )
    return f"""
    WITH {", ".join(ctes)}
    SELECT v AS part_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM (
      SELECT src AS v FROM e{rounds} UNION ALL SELECT dst AS v FROM e{rounds}
    ) GROUP BY v
    """



# ---------------------------------------------------------------------------
# Deterministic HLL sketch family (operators/sketches.py) — unlike the
# approx_count_distinct surface above (rows-only, engine-private HLL++),
# these registers derive from md5, so the SKETCH STATE ITSELF is
# hash-checked against DuckDB, estimate included.
# ---------------------------------------------------------------------------


def _hll_oracle_core(p: int, src_sql: str, key: str) -> str:
    """Shared oracle fragment: register table per ``key`` over rows
    ``(key, v)`` produced by ``src_sql`` — mirrors hll_partials()."""
    m, w = 1 << p, 60 - p
    return f"""
    h AS (
      SELECT {key}, ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM ({src_sql})
    ),
    hb AS (
      SELECT {key}, CAST(hv % {m} AS INT) AS reg_idx,
             CAST(CASE WHEN hv // {m} = 0 THEN {w + 1}
                  ELSE {w} - length(bin(hv // {m})) + 1 END AS INT) AS rho
      FROM h
    ),
    hr AS (
      SELECT {key}, reg_idx, MAX(rho) AS reg_rho FROM hb GROUP BY 1, 2
    )"""



def _hll_oracle_estimate(p: int, key: str) -> str:
    """Estimate fragment over ``hr`` — mirrors hll_estimates(): exact
    scaled-integer Z, one double division, linear-counting branch."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.sketches import (
        _hll_alpha,
    )

    m, w = 1 << p, 60 - p
    num = repr(_hll_alpha(m) * m * m * float(1 << (w + 1)))
    z = f"({m} - regs_used) * {1 << (w + 1)} + present_sum"
    raw = f"{num} / CAST({z} AS DOUBLE)"
    return f"""
    ha AS (
      SELECT {key}, count(*) AS regs_used,
             SUM(CAST(power(2, {w + 1} - reg_rho) AS BIGINT)) AS present_sum
      FROM hr GROUP BY 1
    ),
    he AS (
      SELECT {key}, regs_used,
             CAST({m} - regs_used AS BIGINT) AS zero_regs,
             CAST({z} AS BIGINT) AS z_scaled,
             round(CASE WHEN {raw} <= {2.5 * m} AND {m} - regs_used > 0
                   THEN {float(m)} * ln({float(m)} / CAST({m} - regs_used AS DOUBLE))
                   ELSE {raw} END, 4) AS est_distinct_r4
      FROM ha
    )"""



_KMV_K = 64

_KMV_SPACE = repr(float(1 << 60))



def _mmr_oracle(k: int = 10, n_candidates: int = 32, lam_ppm: int = 500_000) -> str:
    """Unrolled-CTE mirror of the MMR greedy (the PageRank discipline:
    a fixed iteration count unrolls into chained CTEs; all-integer
    scores make every step's argmax engine-exact)."""
    cos = (
        "CAST(round(list_cosine_similarity("
        "list_transform({a}, x -> CAST(x AS DOUBLE)), "
        "list_transform({b}, x -> CAST(x AS DOUBLE))) * 1e6, 0) AS BIGINT)"
    )
    parts = [
        f"""WITH cand AS MATERIALIZED (
      SELECT e.vec_id,
             {cos.format(a="e.embedding", b="q.qv")} AS rel_micro
      FROM embeddings e,
           (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
      WHERE e.embedding IS NOT NULL
      ORDER BY rel_micro DESC, e.vec_id LIMIT {n_candidates}
    ), sims AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             {cos.format(a="ea.embedding", b="eb.embedding")} AS s_micro
      FROM cand a
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN cand b ON a.vec_id != b.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ), s1 AS (
      SELECT vec_id, rel_micro,
             CAST({lam_ppm} AS BIGINT) * rel_micro AS mmr
      FROM cand ORDER BY rel_micro DESC, vec_id LIMIT 1
    ), sel1 AS MATERIALIZED (SELECT vec_id FROM s1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", r{i} AS (
      SELECT c.vec_id, c.rel_micro,
             CAST({lam_ppm} AS BIGINT) * c.rel_micro
             - CAST({1_000_000 - lam_ppm} AS BIGINT) * (
                 SELECT MAX(s.s_micro) FROM sims s
                 WHERE s.ia = c.vec_id
                   AND s.ib IN (SELECT vec_id FROM sel{i - 1})
               ) AS mmr
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
    ), s{i} AS MATERIALIZED (
      SELECT vec_id, rel_micro, mmr
      FROM r{i} ORDER BY mmr DESC, vec_id LIMIT 1
    ), sel{i} AS MATERIALIZED (
      SELECT vec_id FROM sel{i - 1}
      UNION ALL SELECT vec_id FROM s{i}
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {i} AS step, vec_id, rel_micro, mmr AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n    " + finals

__all__ = [
    "annotations",
    "Callable",
    "lru_cache",
    "DataFrame",
    "SparkSession",
    "F",
    "build_clv",
    "build_daily_sales",
    "CUSTOMERS_SQL",
    "ORDERS_SQL",
    "load_customers",
    "load_orders",
    "_ENTITY_CTES",
    "_query_vec",
    "_ivf_centroids",
    "_ivf_centroids_hier",
    "_vec_count",
    "_adaptive_cells",
    "_adaptive_planes",
    "_pq_codebooks",
    "_SUM_AMOUNT",
    "_DUCK_TOKS",
    "_DUCK_STOPS_EN",
    "_NGRAM_JACCARD_ORACLE",
    "_PROFILE_COL",
    "_txlog_table",
    "_GINI_ORACLE",
    "_pagerank_oracle",
    "_IVF_INDEX_BUILT",
    "_ivf_index_path",
    "_simhash_md5_oracle",
    "_minhash_md5_oracle",
    "_NGRAM_PAIRS_CTE",
    "_bpe_ctes",
    "_bpe_oracle",
    "_bpe_counts_oracle",
    "_bpe_state",
    "_DQ_DATE_BOUND",
    "_DUCK_BUCKET",
    "_BM25_TERMS",
    "_bm25_oracle",
    "_SEMDEDUP_COS",
    "_cms_oracle",
    "_TS_PATTERN",
    "_TS_PATTERN_SQL",
    "_EWMA_W",
    "_EWMA_W_SQL",
    "_TS_CPATTERN_SQL",
    "_kcore_oracle",
    "_hll_oracle_core",
    "_hll_oracle_estimate",
    "_KMV_K",
    "_KMV_SPACE",
    "_mmr_oracle",
]
