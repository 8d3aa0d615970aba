"""LLM-pipeline operators: dedup (exact/minhash/simhash/ngram),
similarity search, text analysis, multimodal plumbing — semantics against
planted duplicates and known answers."""

import pyspark.sql.functions as F
import pytest

from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
    apply_dedup,
    apply_dedup_cc,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from dea05_e2e_kafka_streaming_pipeline_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synthesize_media,
)
from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
)
from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
    with_lang_id,
    with_text_stats,
)

BASE = (
    "the quick brown fox jumps over the lazy dog near the quiet river bank "
    "while morning light settles on the water and small birds watch from the reeds"
)
NEAR = BASE.replace("quiet river bank", "quiet river shore")  # few-shingle edit
FAR = (
    "completely different content about databases indexes partitions shuffles "
    "joins aggregations columnar storage vectorized execution and query plans"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, "  " + BASE.upper() + "  "),  # normalized dup of 0
        (3, NEAR),  # near dup of 0
        (4, FAR),
        (5, FAR + " with a tiny suffix appended here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups(docs):
    kept = {r.doc_id: r.group_size for r in dedup_exact(docs).collect()}
    # 0,1,2 collapse to one group under case/whitespace normalization
    assert kept[0] == 3
    assert 1 not in kept and 2 not in kept
    assert kept[3] == 1 and kept[4] == 1 and kept[5] == 1


def test_ngram_jaccard_finds_near_dup_only(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] > 0.7  # near dup found
    assert (0, 4) not in pairs  # unrelated docs not paired
    # exact dups have jaccard 1.0
    assert pairs[(0, 1)] == 1.0


def test_prefix_filtered_jaccard_equals_full_index(spark):
    """ngram_jaccard_pairs_prefix must return EXACTLY the pairs of the
    full-index plan at several thresholds (completeness is the whole
    point of the prefix-filter theorem), on real corpus data."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "documents")
    for tau in (0.2, 0.5, 0.8):
        full = sorted(
            map(tuple, ngram_jaccard_pairs(corpus, threshold=tau).collect())
        )
        pre = sorted(
            map(tuple, ngram_jaccard_pairs_prefix(corpus, threshold=tau).collect())
        )
        assert pre == full, f"prefix filter diverged at tau={tau}"
        assert len(full) > 0  # non-vacuous at every threshold


def test_prefix_filter_shrinks_inverted_index(spark):
    """The indexed posting volume under prefix filtering must be a
    strict subset of the full index (the candidate-reduction that makes
    this the 100 TB plan) — measured, not assumed."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        word_shingles,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    tau = 0.8
    corpus = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh = corpus.select(word_shingles("text", 3).alias("sh")).withColumn(
        "n", F.size("sh")
    )
    totals = sh.agg(
        F.sum("n").alias("full"),
        F.sum(
            F.least(
                F.floor((1.0 - tau) * F.col("n") + F.lit(1e-9)).cast("int") + 1,
                F.col("n"),
            )
        ).alias("prefix"),
    ).first()
    assert totals.prefix < totals.full * 0.35  # ≥ ~3× smaller at τ=0.8


def test_minhash_matches_exact_on_high_similarity(docs):
    """LSH with 64 hashes must recover every pair the exact method finds
    at high similarity (recall ≈ 1 for J ≥ 0.7)."""
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.7).collect()
    }
    assert exact <= lsh or exact == lsh
    # verification step makes precision exact: no pair below threshold
    for r in minhash_lsh_pairs(docs, threshold=0.7).collect():
        assert r.jaccard >= 0.7


def test_minhash_bucket_cap_bounds_degenerate_bucket(spark):
    """Mass-duplicated boilerplate: 1000 byte-identical docs land in ONE
    band bucket per band. The chunked expansion must keep pair volume
    O(S·cap) — not the O(S²) ≈ 500k of an unbounded clique — while the
    bridge rows keep the bucket one connected component, so dedup still
    collapses everything onto the minimum id."""
    n, cap = 1000, 50
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
    )
    pairs = minhash_lsh_pairs(docs, max_bucket_size=cap).persist()
    try:
        n_pairs = pairs.count()
        # chunked bound: ceil(S/cap) chunks of ≤ cap+1 ids per band,
        # deduped across bands → ~S·cap/2 pairs, far below the clique
        assert 0 < n_pairs <= n * cap, n_pairs
        assert n_pairs < (n * (n - 1)) // 2 / 5
        # single-pass policy still drops every doc but the global min
        kept = apply_dedup(docs, pairs).collect()
        assert [r.doc_id for r in kept] == [0]
        # transitive closure agrees: one component
        kept_cc = apply_dedup_cc(docs, pairs).collect()
        assert [r.doc_id for r in kept_cc] == [0]
    finally:
        pairs.unpersist()


def test_minhash_bucket_cap_preserves_dedup_outcome(docs):
    """On a non-degenerate corpus an aggressive cap changes the
    candidate *pairs* (chain instead of clique) but must not change the
    deduplication outcome."""
    base = apply_dedup(docs, minhash_lsh_pairs(docs, threshold=0.7))
    capped = apply_dedup(
        docs, minhash_lsh_pairs(docs, threshold=0.7, max_bucket_size=2)
    )
    assert sorted(r.doc_id for r in base.collect()) == sorted(
        r.doc_id for r in capped.collect()
    )


def test_simhash_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, max_hamming=8).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0  # identical token stream
    assert (0, 4) not in pairs


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to query
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_topk(df, [1.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in got] == [0, 1]
    assert got[0].score == 1.0


def test_lsh_topk_recalls_exact_neighbors(spark):
    """Multi-probe LSH top-k over clustered vectors must recover the
    exact top-1 (same-cluster vectors land in near buckets)."""
    import math
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = []
    for i in range(50):
        # half clustered near `base`, half random
        if i % 2 == 0:
            v = [b + rng.gauss(0, 0.05) for b in base]
        else:
            v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact_top = cosine_topk(df, base, k=1).collect()[0].vec_id
    approx = lsh_topk(df, base, k=5, n_planes=8, probe_hamming=1).collect()
    assert exact_top in [r.vec_id for r in approx]


def test_text_stats_known_values(spark):
    df = spark.createDataFrame([(0, "The cat and the dog!")], "doc_id long, text string")
    r = with_text_stats(df).collect()[0]
    assert r.n_tokens == 5
    assert r.n_chars_calc == 20
    # stopwords hit: 'the' x2, 'and' → 3/5
    assert r.stopword_ratio == 0.6
    # alpha chars: 15 of 20
    assert r.alpha_ratio == 0.75


def test_lang_id_routes(spark):
    rows = [
        (0, "the cat is in the house and it is warm"),
        (1, "der hund ist nicht in das haus und die katze"),
        (2, "el perro es grande y la casa es bonita con un gato"),
        (3, "le chien est dans la maison et le chat est petit"),
        (4, "这是一个中文文档的例子没有任何英文单词"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "es", 3: "fr", 4: "zh"}


def test_multimodal_feature_plumbing(spark):
    media = synthesize_media(spark, n=30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 16 for r in rows)
    assert all(r.payload_bytes == 256 for r in rows)
    # deterministic: same input → same features
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)


def test_multimodal_real_decoder_stub(spark):
    media = synthesize_media(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(media, decoder="real").collect()


def test_frame_sample_plan(spark):
    media = synthesize_media(spark, n=30)
    plan = frame_sample_plan(media, every_ms=100)
    rows = plan.collect()
    assert all(r.frame_ts_ms % 100 == 0 for r in rows)
    one = [r for r in rows if r.media_id == 5]  # duration 165ms → frames 0,100
    assert [r.frame_ts_ms for r in sorted(one, key=lambda x: x.frame_idx)] == [0, 100]


def test_token_estimates_known_values(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        with_token_estimates,
    )

    df = spark.createDataFrame(
        [(0, "Hello world, it's 2024!")], "doc_id long, text string"
    )
    r = with_token_estimates(df).collect()[0]
    assert r.n_ws_tokens == 4
    # pretokens: Hello| world|,| it|'s| 2024|! -> 7
    assert r.n_bpe_pretokens == 7
    assert r.n_tokens_chars4 == 6  # ceil(23/4)


def test_knn_join_recovers_cluster_neighbors(spark):
    import random

    rng = random.Random(11)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(3)]
    rows = []
    for i in range(60):
        c = centers[i % 3]
        rows.append((i, [x + rng.gauss(0, 0.02) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import knn_join

    nn = knn_join(df, k=3, n_planes=6)
    rows_out = nn.collect()
    assert len(rows_out) > 0
    # every reported neighbor of a vector must be from the same cluster
    # (clusters are far apart; intra-cluster cosine ~1)
    for r in rows_out:
        assert r.id % 3 == r.neighbor_id % 3, (r.id, r.neighbor_id)
        assert r.score > 0.99


def test_resize_images_plumbing(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.multimodal import (
        resize_images,
        synthesize_media,
    )

    media = synthesize_media(spark, n=30)
    thumbs = resize_images(media, width=8, height=8).collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(thumbs) == n_images
    assert all(len(r.thumbnail) == 64 for r in thumbs)
    assert all(r.width == 8 and r.height == 8 for r in thumbs)


def test_simhash_max_hamming_guard(docs):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        simhash_pairs_md5,
    )

    # generalized banding accepts any radius < 64 ...
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs(docs, max_hamming=64)
    # ... but the fixed-quarter md5/oracle variant is complete only to 3
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs_md5(docs, max_hamming=4)


def test_simhash_radius_monotone(docs):
    """Generalized banding stays a complete candidate generator: the
    pair set at a larger radius must contain the radius-3 set."""
    p3 = {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=3).collect()}
    p8 = {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=8).collect()}
    assert p3 <= p8


def test_minhash_hash_family_guard(docs):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )

    with pytest.raises(ValueError, match="hash_family"):
        minhash_signatures(docs, hash_family="sha1")


def test_minhash_md5_family_finds_planted_dups(docs):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, threshold=0.5, hash_family="md5"
        ).collect()
    }
    # exact/normalized/near dups of doc 0 and the FAR suffix pair — same
    # expectations as the xxhash64 family on this planted corpus
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert (0, 3) in got and (4, 5) in got


def test_knn_join_bucket_col_blocks_comparisons(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, i % 3, [rng.gauss(i % 3, 0.05) for _ in range(8)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = __import__(
        "dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity",
        fromlist=["knn_join"],
    ).knn_join(df, k=3, bucket_col="label")
    for r in out.collect():
        assert r.id % 3 == r.neighbor_id % 3, (r.id, r.neighbor_id)


def test_spread_gates_on_size_estimate(spark):
    """_spread decides from the optimizer's size estimate (plan-time
    metadata, zero Spark jobs — round-2 verdict dropped the
    rdd.getNumPartitions probe): small inputs get spread across cores,
    inputs whose estimated split count already covers the parallelism
    must NOT be reshuffled (raw-body shuffle hazard at scale)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import _spread

    target = spark.sparkContext.defaultParallelism
    few = spark.range(100).repartition(2)
    assert _spread(few).rdd.getNumPartitions() == target
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")  # 100 rows × 8B ⇒ est_splits ≫ parallelism
    try:
        many = spark.range(100).repartition(2)
        assert _spread(many) is many
    finally:
        spark.conf.set(key, old)


def test_pair_scorer_numpy_matches_expr(spark):
    """The Arrow/einsum pair scorer must be round-6 bit-identical to the
    interpreted fold (both float64) — the discipline that keeps the
    oracle hashes stable whichever scorer a query picks."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    rng = random.Random(3)
    rows = [
        (i, i % 4, [rng.gauss(0, 1) for _ in range(24)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    a = sorted(
        map(tuple, cosine_near_dup_pairs(df, threshold=-1.0, scorer="expr").collect())
    )
    b = sorted(
        map(tuple, cosine_near_dup_pairs(df, threshold=-1.0, scorer="numpy").collect())
    )
    assert a == b and len(a) > 0

    with pytest.raises(ValueError, match="scorer"):
        cosine_near_dup_pairs(df, scorer="fortran")


def test_connected_components_collapses_chains(spark):
    """a-b and b-c paired but (a,c) never directly compared: CC puts all
    three in one component; apply_dedup_cc keeps exactly the min id.
    Isolated docs are their own component."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        apply_dedup_cc,
        connected_components,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    comp = {r.doc_id: r.component_id for r in connected_components(docs, pairs).collect()}
    assert comp == {0: 0, 3: 0, 5: 0, 1: 1, 2: 1, 4: 4}
    kept = sorted(r.doc_id for r in apply_dedup_cc(docs, pairs).collect())
    assert kept == [0, 1, 4]


def test_ivf_topk_recalls_clustered_neighbors(spark):
    """IVF with nprobe=1 on well-separated clusters recovers the exact
    top-k (query's cell contains its cluster); the probed subset is a
    strict subset of the table."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
        with_ivf_cell,
    )

    rng = random.Random(5)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = []
    for i in range(120):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.03) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = kmeans_centroids(df, n_centroids=4, seed=1)
    # every vector lands in some cell; cells partition the table
    celled = with_ivf_cell(df, cents)
    assert celled.count() == 120
    assert celled.select("ivf_cell").distinct().count() <= 4

    query = centers[2]
    exact = [r.vec_id for r in cosine_topk(df, query, k=5).collect()]
    approx = [
        r.vec_id
        for r in ivf_topk(df, query, k=5, centroids=cents, nprobe=1).collect()
    ]
    assert approx == exact  # clusters are far apart; cell == cluster


def test_ivf_centroids_deterministic(spark):
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_centroids,
    )

    rng = random.Random(9)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = kmeans_centroids(df, n_centroids=5, seed=7)
    c2 = kmeans_centroids(df, n_centroids=5, seed=7)
    assert c1 == c2


def test_ivf_handles_null_embeddings(spark):
    """NULL embeddings get sentinel cell -1 (never probed) — ivf_topk
    over a table containing nulls must not crash and must rank only the
    real vectors (round-2 advice)."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ivf_topk,
        with_ivf_cell,
    )

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(30)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(v) for v in rows[0][1]]
    cells = {r.vec_id: r.ivf_cell for r in with_ivf_cell(
        df, [[0.0] * 8, [1.0] * 8]).collect()}
    assert cells[100] == -1 and cells[101] == -1
    got = ivf_topk(df, q, k=5, n_centroids=4, nprobe=4).collect()
    assert len(got) == 5
    assert all(r.vec_id < 100 for r in got)


def test_quantize_embeddings_semantics(spark):
    """int8 codec invariants: codes within [0, 255], reconstruction
    error bounded by scale/2, flat vectors quantize to zero codes with
    zero error, nulls dropped, bits guarded."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(20)]
    rows += [(100, [1.5] * 16), (101, None)]  # flat + null
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_embeddings(df, bits=8).collect()}
    assert 101 not in out and len(out) == 21
    for vid, r in out.items():
        assert all(0 <= c <= 255 for c in r.codes)
        scale = (r.qmax - r.qmin) / 255.0
        assert r.recon_err <= scale / 2 + 1e-12, (vid, r.recon_err, scale)
    flat = out[100]
    assert flat.codes == [0] * 16 and flat.recon_err == 0.0
    with pytest.raises(ValueError, match="bits"):
        quantize_embeddings(df, bits=32)


def test_semantic_dedup_basic(spark):
    """Two tight clusters + one outlier: each cluster collapses to its
    min-id member, the outlier survives, and quality retention keeps
    the best-scored member instead."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        (1, [1.0, 0.0, 0.0], 9.0),
        (2, [0.99, 0.05, 0.0], 1.0),
        (3, [0.98, 0.08, 0.0], 5.0),
        (4, [0.0, 1.0, 0.0], 2.0),
        (5, [0.0, 0.99, 0.05], 8.0),
        (6, [0.0, 0.0, 1.0], 3.0),  # outlier: nothing near it
        (7, None, 0.0),  # null embedding: never pairs, always kept
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, quality double"
    )
    kept = semantic_dedup(df, threshold=0.9, n_centroids=2)
    assert sorted(r.vec_id for r in kept.select("vec_id").collect()) == [1, 4, 6, 7]
    best = semantic_dedup(df, threshold=0.9, n_centroids=2, quality_col="quality")
    # cluster A keeps 1 (q=9), cluster B keeps 5 (q=8)
    assert sorted(r.vec_id for r in best.select("vec_id").collect()) == [1, 5, 6, 7]


def test_semantic_dedup_label_matches_oracle(spark, duck):
    from dea05_e2e_kafka_streaming_pipeline_spark import queries as registry

    from tests.conftest import SF_DIR, assert_matches_oracle

    name = "semantic_dedup_label"
    assert_matches_oracle(
        registry.queries()[name](spark, SF_DIR), duck, registry.oracles()[name]
    )


def test_semantic_dedup_kmeans_invariants(spark):
    """The zero-row violation contract of the production k-means path,
    asserted directly (same pipeline the registry exposes)."""
    from dea05_e2e_kafka_streaming_pipeline_spark import queries as registry

    from tests.conftest import SF_DIR

    out = registry.queries()["semantic_dedup_violations"](spark, SF_DIR)
    assert out.count() == 0


def test_dedup_incremental_batch_across_days(spark, tmp_path):
    """Day 2 re-submissions of day-1 content are rejected by the
    fingerprint store; novel content is admitted; within-batch dups
    keep the lowest id."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        dedup_incremental_batch,
    )

    store = str(tmp_path / "fps")
    day1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")],
        "doc_id long, text string",
    )
    kept1 = dedup_incremental_batch(day1, store)
    assert sorted(r.doc_id for r in kept1.collect()) == [1, 3]

    day2 = spark.createDataFrame(
        [(10, "ALPHA   beta"), (11, "delta"), (12, "delta")],
        "doc_id long, text string",
    )  # 10 = normalized dup of day-1 content
    kept2 = dedup_incremental_batch(day2, store)
    assert sorted(r.doc_id for r in kept2.collect()) == [11]
    # replaying day 2 admits nothing (store already has delta)
    kept2b = dedup_incremental_batch(day2, store)
    assert kept2b.count() == 0


def test_dedup_incremental_batch_raises_on_corrupt_store(spark, tmp_path):
    """A store that exists but cannot be read fails the call: treating
    it as absent would re-admit every fingerprint it holds."""
    import pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        dedup_incremental_batch,
    )

    store = tmp_path / "fps"
    day1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    dedup_incremental_batch(day1, str(store))
    parts = list(store.glob("part-*"))
    assert parts
    for f in parts:
        f.write_bytes(b"not parquet" * 64)
    with pytest.raises(Exception):
        dedup_incremental_batch(day1, str(store))


def test_pq_topk_recalls_clustered_neighbors(spark):
    """PQ on well-separated clusters: codes are deterministic, encode
    compresses to m small ints, and ADC top-k recovers the query's own
    cluster (quantization error ≪ inter-cluster distance)."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rng = random.Random(7)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = []
    for i in range(160):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.02) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cbs = pq_train(df, m=4, n_codes=8, seed=3)
    assert len(cbs) == 4 and all(len(cb) == 8 for cb in cbs)

    codes_a = {r.vec_id: r.pq_code for r in pq_encode(df, cbs).collect()}
    codes_b = {r.vec_id: r.pq_code for r in pq_encode(df, cbs).collect()}
    assert codes_a == codes_b  # deterministic encode
    assert all(len(c) == 4 for c in codes_a.values())

    top = [r.vec_id for r in pq_topk(df, cbs, centers[1], k=10).collect()]
    # every returned neighbor belongs to the query's cluster
    assert all(v % 4 == 1 for v in top)


def test_pq_encode_null_embedding(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_fit,
    )
    import numpy as np

    x = np.random.RandomState(0).randn(64, 8)
    cbs = pq_fit(x, m=2, n_codes=4)
    df = spark.createDataFrame(
        [(1, [0.0] * 8), (2, None)], "vec_id long, embedding array<double>"
    )
    rows = {r.vec_id: r.pq_code for r in pq_encode(df, cbs).collect()}
    assert rows[2] is None and len(rows[1]) == 2


def test_ahash_media_pairs_identical_payloads(spark):
    """aHash over the stub decoder: identical payloads → identical
    64-bit hash → paired at distance 0 through the generic banded
    Hamming join; distinct payloads don't pair; NULL payloads drop."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        hamming_pairs,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.multimodal import (
        ahash_media,
    )

    rows = [(0, b"imgA"), (1, b"imgA"), (2, b"imgB"), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    sigs = ahash_media(df)
    hashes = {r.media_id: r.ahash for r in sigs.collect()}
    assert hashes[0] == hashes[1] and hashes[0] != hashes[2]
    assert hashes[3] is None
    pairs = hamming_pairs(
        sigs.filter("ahash IS NOT NULL"),
        id_col="media_id",
        hash_col="ahash",
        max_hamming=3,
    ).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(0, 1, 0)]

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        ahash_media(df, decoder="real")


def test_ivfpq_topk_recalls_clustered_neighbors(spark):
    """IVF-PQ composition: with clusters far apart, probing 1 cell and
    scoring in the compressed domain still recovers the query's own
    cluster — and scans strictly fewer rows than the table."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ivfpq_topk,
        kmeans_centroids,
        pq_train,
    )

    rng = random.Random(11)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.02) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = kmeans_centroids(df, n_centroids=4, seed=2)
    cbs = pq_train(df, m=4, n_codes=8, seed=2)
    top = ivfpq_topk(df, cents, cbs, centers[3], k=10, nprobe=1).collect()
    assert len(top) == 10
    assert all(r.vec_id % 4 == 3 for r in top)  # all from the query's cluster


def test_residual_ivfpq_quantizes_finer_than_raw_pq(spark):
    """Residual IVF-PQ: (a) recovers the query's cluster through one
    probed cell, (b) its quantization error on the winner's own vector
    is LOWER than raw-vector PQ at the same code budget — the reason
    IVFADC encodes residuals."""
    import random

    import numpy as np

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ivfpq_residual_topk,
        ivfpq_residual_train,
        pq_adc_tables,
        pq_fit,
        pq_topk,
    )

    rng = random.Random(13)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    x = np.array([r[1] for r in rows])

    cents, res_cbs = ivfpq_residual_train(x, n_cells=4, m=4, n_codes=8, seed=5)
    top = ivfpq_residual_topk(
        df, cents, res_cbs, centers[2], k=10, nprobe=1
    ).collect()
    assert len(top) == 10
    assert all(r.vec_id % 4 == 2 for r in top)

    # quantization error: residual codes vs raw codes on the same data
    raw_cbs = pq_fit(x, m=4, n_codes=8, seed=5)

    def mse(codebooks, data):
        cbs = [np.asarray(cb) for cb in codebooks]
        d = data.shape[1] // len(cbs)
        err = 0.0
        for s, cb in enumerate(cbs):
            xs = data[:, s * d : (s + 1) * d]
            dist = ((xs[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
            err += dist.min(axis=1).sum()
        return err / len(data)

    cents_np = np.asarray(cents)
    cells = (
        (-2.0 * x @ cents_np.T + (cents_np * cents_np).sum(1)[None, :])
    ).argmin(1)
    res_err = mse(res_cbs, x - cents_np[cells])
    raw_err = mse(raw_cbs, x)
    assert res_err < raw_err * 0.7  # residuals quantize markedly finer


def test_cc_auto_matches_distributed_and_gates(spark, monkeypatch):
    """algorithm='auto': driver union-find output equals the
    distributed label loop; with a tiny edge gate it falls back to the
    distributed path (same answer either way)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators import dedup
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import SMALL_ROWS

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    # two chains and one isolated cluster: 0-1-2-3, 5-6, 8-9-10
    edges = [(0, 1), (1, 2), (2, 3), (5, 6), (8, 9), (9, 10)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    want = sorted(
        map(tuple, connected_components(docs, pairs, algorithm="label").collect())
    )
    got_auto = sorted(
        map(tuple, connected_components(docs, pairs, algorithm="auto").collect())
    )
    assert got_auto == want
    # gate: max 2 edges → must fall back to the distributed loop
    monkeypatch.setitem(SMALL_ROWS, "connected_components", 2)

    def no_driver(*args, **kwargs):
        raise AssertionError("driver union-find ran over the gate")

    monkeypatch.setattr(dedup, "_cc_driver", no_driver)
    got_gated = sorted(
        map(
            tuple,
            connected_components(docs, pairs, algorithm="auto").collect(),
        )
    )
    assert got_gated == want


def test_audio_window_plan_grid(spark):
    """25/10 @ 16 kHz window grid: correct counts, offsets, sample
    math; clips shorter than one window yield no rows."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.multimodal import (
        audio_window_plan,
    )

    df = spark.createDataFrame(
        [(1, "audio", 100), (2, "audio", 24), (3, "video", 500)],
        "media_id long, kind string, duration_ms long",
    )
    rows = audio_window_plan(df).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    # (100-25)//10 + 1 = 8 windows; 24ms clip: none; video filtered out
    assert set(by_media) == {1}
    w = sorted(by_media[1], key=lambda r: r.window_idx)
    assert len(w) == 8
    assert w[0].start_ms == 0 and w[0].end_ms == 25
    assert w[7].start_ms == 70 and w[7].end_ms == 95 <= 100
    assert w[3].start_sample == 30 * 16 and w[3].n_samples == 400


def test_hamming_pairs_bucket_cap_bounds_identical_signatures(spark):
    """1000 identical 64-bit signatures land in ONE bucket per band;
    the capped expansion must stay O(S·cap) with the bucket still one
    connected component (dedup collapses to the minimum id), never the
    ~500k-pair clique."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        connected_components,
        hamming_pairs,
    )

    n, cap = 1000, 50
    sigs = spark.range(n).select(
        F.col("id"), F.lit(123456789).cast("long").alias("sig")
    )
    pairs = hamming_pairs(sigs, max_bucket_size=cap).persist()
    try:
        n_pairs = pairs.count()
        assert 0 < n_pairs <= n * cap, n_pairs
        assert n_pairs < (n * (n - 1)) // 2 / 5
        docs = sigs.select(F.col("id").alias("doc_id"))
        comp = connected_components(docs, pairs, algorithm="auto")
        assert comp.select("component_id").distinct().count() == 1
    finally:
        pairs.unpersist()


def test_ann_regret_audit_passes_good_and_catches_bad(spark):
    """The distance-regret audit must return zero rows for a genuinely
    near top-k AND flag a deliberately broken ANN that returns far-away
    ids — the audit is only evidence if it can fail."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ann_regret_violations,
        cosine_topk,
    )

    rng = random.Random(11)
    q = [rng.gauss(0, 1) for _ in range(16)]
    rows = []
    for i in range(40):
        # 10 vectors tightly around q, 30 scattered far
        if i < 10:
            v = [x + rng.gauss(0, 0.01) for x in q]
        else:
            v = [rng.gauss(0, 5) for _ in range(16)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # exact top-10 = the clustered ids -> zero violations at any ratio
    good = df.filter(F.col("vec_id") < 10).select("vec_id")
    assert ann_regret_violations(df, good, q, k=10, max_regret=2.0).count() == 0

    # a "broken ANN" returning 10 scattered ids -> every row violates
    bad = df.filter(F.col("vec_id") >= 30).select("vec_id")
    n_bad = ann_regret_violations(df, bad, q, k=10, max_regret=2.0).count()
    assert n_bad == 10, n_bad


def test_rerank_topk_two_stage_exactness(spark):
    """Search-then-refine: int8 stage-1 with a small shortlist, and PQ
    stage-1 with a full-corpus shortlist, both end bit-identical to
    exact brute force (stage 2 is exact over the shortlist, so equality
    holds whenever the shortlist covers the true top-k)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        int8_rerank_topk,
        pq_rerank_topk,
        pq_train,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head().embedding]
    exact = cosine_topk(emb, q, k=10).collect()

    got8 = int8_rerank_topk(emb, q, k=10, shortlist=50).collect()
    assert [(r.vec_id, r.score) for r in got8] == [
        (r.vec_id, r.score) for r in exact
    ]

    n = emb.count()
    books = pq_train(emb, m=4, n_codes=16)
    gotpq = pq_rerank_topk(emb, books, q, k=10, shortlist=n).collect()
    assert [(r.vec_id, r.score) for r in gotpq] == [
        (r.vec_id, r.score) for r in exact
    ]

    with pytest.raises(ValueError):
        int8_rerank_topk(emb, q, k=10, shortlist=5)
    with pytest.raises(ValueError):
        pq_rerank_topk(emb, books, q, k=10, shortlist=5)


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc wholly quoted inside a long one: containment = 1.0,
    while symmetric Jaccard stays under any practical threshold — the
    asymmetric measure exists precisely for this case."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote} {filler}")], "doc_id long, text string"
    )
    cont = ngram_containment_pairs(docs, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0].containment == 1.0
    assert ngram_jaccard_pairs(docs, threshold=0.2).count() == 0


def test_ann_state_round_trip_bit_exact(spark, tmp_path):
    """Trained quantizer state (IVF centroids + PQ codebooks) survives
    save/load BIT-EXACTLY — scoring with reloaded state produces the
    identical top-k, and a format-version bump fails loudly."""
    import json

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_centroids,
        load_ann_state,
        pq_topk,
        pq_train,
        save_ann_state,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head().embedding]
    cents = kmeans_centroids(emb, n_centroids=4)
    books = pq_train(emb, m=4, n_codes=8)

    p = str(tmp_path / "ann_state.json")
    save_ann_state(p, centroids=cents, codebooks=books, metadata={"dim": len(q)})
    state = load_ann_state(p)
    assert state["centroids"] == cents  # lossless float round-trip
    assert state["codebooks"] == books
    assert state["metadata"] == {"dim": len(q)}

    a = pq_topk(emb, books, q, k=5).collect()
    b = pq_topk(emb, state["codebooks"], q, k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    bad = dict(state, format_version=99)
    with open(p, "w") as f:
        json.dump(bad, f)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        load_ann_state(p)


def test_rrf_fuse_known_answer(spark):
    """RRF over two hand-built rankings: fused score = sum of
    1/(c+rank) with rank 0 marking absence from an arm; ordering and
    exact contributions verified against hand arithmetic."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        rrf_fuse,
    )

    lex = spark.createDataFrame(
        [(10, 3.0), (11, 2.0), (12, 1.0)], "doc_id long, s double"
    )
    vec = spark.createDataFrame(
        [(11, 0.9), (13, 0.8)], "vec_id long, score double"
    )
    got = {
        r.id: r
        for r in rrf_fuse(
            [(lex, "doc_id", "s"), (vec, "vec_id", "score")], k=10, c=60
        ).collect()
    }
    # doc 11: rank 2 lexically, rank 1 dense -> both arms contribute
    assert got[11].rank_0 == 2 and got[11].rank_1 == 1
    assert got[11].rrf_score == round(1.0 / 62 + 1.0 / 61, 6)
    # doc 10: lexical only; doc 13: dense only (rank 0 = absent)
    assert got[10].rank_1 == 0
    assert got[10].rrf_score == round(1.0 / 61, 6)
    assert got[13].rank_0 == 0
    assert got[13].rrf_score == round(1.0 / 62, 6)
    # fusion order: the doc present in BOTH arms outranks single-arm docs
    order = sorted(got.values(), key=lambda r: (-r.rrf_score, r.id))
    assert order[0].id == 11


def test_rrf_fuse_ties_break_on_id(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        rrf_fuse,
    )

    a = spark.createDataFrame([(2, 1.0), (1, 1.0)], "doc_id long, s double")
    got = rrf_fuse([(a, "doc_id", "s")], k=2).collect()
    # equal scores: rank assignment (and hence fused order) follows id
    assert [r.id for r in got] == [1, 2]
    assert [r.rank_0 for r in got] == [1, 2]


def test_dbscan_roles_and_clusters(spark):
    """Hand-built density case: a 4-point clique (all core), one point
    attached to a single core (border), and one isolate (noise)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import dbscan

    # unit circle directions: clique within ~11 deg, border at 45 deg
    # from one clique member, noise orthogonal to everything
    import math

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [
        (1, vec(0.0), 0),
        (2, vec(4.0), 0),
        (3, vec(8.0), 0),
        (4, vec(11.0), 0),
        (5, vec(52.0), 0),    # within eps of #4 only (41 deg)
        (6, vec(180.0), 0),   # far from all
        (7, None, 0),         # null embedding: excluded entirely
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    # eps = cos(45 deg) ~ 0.707: clique edges all >= 0.98; 4-5 edge
    # cos(41 deg) ~ 0.75 qualifies; 3-5 is 44 deg ~ 0.719 qualifies too
    got = {
        r.vec_id: (r.role, r.cluster_id, r.n_neighbors)
        for r in dbscan(
            df, sim_eps=0.719, min_pts=4, block_col="label",
            cc_algorithm="label",
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}
    assert got[1] == ("core", 1, 3)
    assert got[2][0] == "core" and got[2][1] == 1
    assert got[3] == ("core", 1, 4)   # neighbors: 1,2,4,5
    assert got[4] == ("core", 1, 4)
    assert got[5] == ("border", 1, 2) # neighbors 3,4 — not core itself
    assert got[6] == ("noise", None, 0)


def test_dbscan_min_pts_promotes_noise(spark):
    """Raising min_pts demotes a thin clique to all-noise."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import dbscan

    rows = [(i, [1.0, float(i) * 1e-4], 0) for i in range(3)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = dbscan(df, sim_eps=0.9, min_pts=4, cc_algorithm="label").collect()
    assert {r.role for r in out} == {"noise"}
    assert all(r.cluster_id is None for r in out)


def test_perplexity_filter_buckets_and_smoothing(spark):
    """Gibberish docs must land in the tail bucket; the smoothed LM
    assigns unseen tokens finite surprisal; terciles are equal-size."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        perplexity_filter,
    )

    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in range(12)] + [
        (100, "zxqv wvtk qqpl mnbx"),   # tokens the LM never saw
        (101, "zzz yyy xxx www"),
        (102, common),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = perplexity_filter(df).collect()
    assert len(out) == 15
    by_id = {r.doc_id: r for r in out}
    # equal-frequency terciles over 15 docs -> 5 per bucket
    from collections import Counter

    sizes = Counter(r.ppl_bucket for r in out)
    assert sizes == {1: 5, 2: 5, 3: 5}
    assert by_id[100].ppl_label == "tail"
    assert by_id[101].ppl_label == "tail"
    # the 13 identical docs tie on surprisal; ties rank by doc_id, so
    # doc 0 is head and doc 102 (largest id among the ties) may spill
    # into a later bucket — the deterministic tie-break, not a bug
    assert by_id[0].ppl_label == "head"
    assert by_id[102].surprisal_nats == by_id[0].surprisal_nats
    # unseen tokens: finite, strictly higher surprisal than common text
    assert by_id[100].surprisal_nats > by_id[0].surprisal_nats


def test_mmr_rerank_diversifies(spark):
    """Three near-identical high-relevance vectors vs one orthogonal
    mid-relevance vector: pure relevance picks the clones; MMR's second
    pick must jump to the diverse vector."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    rows = [
        (1, [1.0, 0.0, 0.001]),
        (2, [1.0, 0.0, 0.002]),   # clone of 1
        (3, [1.0, 0.0, 0.003]),   # clone of 1
        (4, [0.5, 0.86, 0.0]),    # diverse, lower relevance
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(df, [1.0, 0.0, 0.0], k=3, n_candidates=4).collect()
    order = [r.vec_id for r in out]
    assert order[0] == 1            # best relevance, id tiebreak
    assert order[1] == 4            # diversity beats the clones
    assert out[0].step == 1 and out[2].step == 3
    # clone penalty: its mmr score is far below its pure relevance
    clone = out[2]
    assert clone.vec_id in (2, 3)
    assert clone.mmr_score < 500_000 * clone.rel_micro


def test_mmr_pool_cap_is_a_hard_contract(spark):
    """r4 verdict item 4: the greedy stage collects pool^2 pairwise
    sims to the driver, so n_candidates above MMR_MAX_POOL must raise
    instead of silently collecting an unbounded pool."""
    import pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        MMR_MAX_POOL,
        mmr_rerank,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="MMR_MAX_POOL"):
        mmr_rerank(df, [1.0, 0.0], k=3, n_candidates=MMR_MAX_POOL + 1)


def test_multiprobe_assignment_semantics(spark):
    """with_ivf_probes: first probe equals with_ivf_cell's argmin for
    every vector, probe lists are the n_probe DISTINCT nearest cells in
    order, NULL embeddings get an empty list, n_probe caps at the
    centroid count."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        with_ivf_cell,
        with_ivf_probes,
    )

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[float(i == j) for j in range(8)] for i in range(4)]
    single = {r.vec_id: r.ivf_cell for r in with_ivf_cell(df, cents).collect()}
    probed = {
        r.vec_id: r.ivf_probes
        for r in with_ivf_probes(df, cents, n_probe=2).collect()
    }
    assert probed[99] == []
    for vid, probes in probed.items():
        if vid == 99:
            continue
        assert len(probes) == 2 and len(set(probes)) == 2
        assert probes[0] == single[vid]
    # n_probe larger than the centroid table: every cell, once
    allp = with_ivf_probes(df, cents, n_probe=10).collect()
    assert all(
        sorted(r.ivf_probes) == [0, 1, 2, 3] for r in allp if r.vec_id != 99
    )


def test_multiprobe_pairs_superset_and_distinct(spark):
    """Multi-probe near-dup pairs contain every single-probe pair (a
    shared primary cell is still shared at n_probe>=1), emit each pair
    exactly once despite multi-cell co-residency, and approach the
    unblocked exact pair set as n_probe grows."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_multiprobe,
        kmeans_centroids,
        with_ivf_cell,
    )

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(12)] for _ in range(30)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        # a close perturbation — a guaranteed near-dup straddling cells
        rows.append((2 * i + 1, [x + rng.gauss(0, 0.05) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_centroids(df, n_centroids=6, seed=2)

    exact = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs(
            df, threshold=0.8, block_col=None
        ).collect()
    }
    single = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs(
            with_ivf_cell(df, cents), threshold=0.8, block_col="ivf_cell"
        ).collect()
    }
    mp_rows = cosine_near_dup_pairs_multiprobe(
        df, cents, threshold=0.8, n_probe=3
    ).collect()
    mp = {(r.id_a, r.id_b) for r in mp_rows}
    assert len(mp_rows) == len(mp)  # one emission per pair
    assert single <= mp <= exact  # monotone recall, exact precision
    assert len(mp) > len(single) or single == exact


def test_kmeans_centroids_strided_sample(spark):
    """The quantizer's training sample must SPAN the id range, not read
    its head: on a table whose first `sample_rows` ids all sit in one
    cluster (the ordered-layout trap the x10 tier caught), a prefix
    sample would train every centroid on that cluster and lump the
    rest of the table into one mega-cell. With stride sampling, both
    clusters get centroids and cell sizes stay balanced."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_centroids,
        with_ivf_cell,
    )

    rng = random.Random(13)
    # ids 0..199 cluster A, ids 200..399 cluster B — id-ordered layout
    rows = [(i, [5.0 + rng.gauss(0, 0.1) for _ in range(8)]) for i in range(200)]
    rows += [
        (200 + i, [-5.0 + rng.gauss(0, 0.1) for _ in range(8)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # sample_rows=100 forces stride 4: the sample sees BOTH clusters
    cents = kmeans_centroids(df, n_centroids=2, sample_rows=100, seed=5)
    sizes = sorted(
        r["cnt"]
        for r in with_ivf_cell(df, cents)
        .groupBy("ivf_cell")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    )
    assert sizes == [200, 200]  # one centroid per cluster, not 400/0
    # identical when the table fits in the sample (stride 1 == prefix)
    c1 = kmeans_centroids(df, n_centroids=2, sample_rows=512, seed=5)
    c2 = kmeans_centroids(df, n_centroids=2, sample_rows=512, seed=5)
    assert c1 == c2


def test_kmeans_centroids_sparse_offset_ids(spark):
    """The stride is on RANK in id order, not on raw id values: a
    sparse/offset id space (here 10_000_000 + i*1000, where NO id is
    divisible by the stride+offset pattern a raw ``id % stride`` filter
    assumes) must still yield a full-size, both-cluster sample instead
    of an empty one that crashes the fit (round-5 advice)."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_centroids,
        with_ivf_cell,
    )

    rng = random.Random(13)
    rows = [
        (10_000_000 + i * 1000 + 7, [5.0 + rng.gauss(0, 0.1) for _ in range(8)])
        for i in range(200)
    ]
    rows += [
        (10_000_000 + (200 + i) * 1000 + 7,
         [-5.0 + rng.gauss(0, 0.1) for _ in range(8)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_centroids(df, n_centroids=2, sample_rows=100, seed=5)
    sizes = sorted(
        r["cnt"]
        for r in with_ivf_cell(df, cents)
        .groupBy("ivf_cell")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    )
    assert sizes == [200, 200]


def test_matmul_all_pairs_matches_join_scorer(spark):
    """cosine_all_pairs_matmul must produce the same pair SET (and
    6-dp scores) as the pair-join scorer with block_col=None — the
    contract that lets the recall audits swap in the matmul-rate
    exact baseline. Exercised across the block boundary (n >
    block_rows) and with a NULL embedding."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        cosine_all_pairs_matmul,
        cosine_near_dup_pairs,
    )

    rng = random.Random(17)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(120)]
    rows.append((999, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = sorted(
        map(
            tuple,
            cosine_near_dup_pairs(df, threshold=0.2, block_col=None).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            cosine_all_pairs_matmul(df, threshold=0.2, block_rows=32).collect(),
        )
    )
    assert len(want) > 5
    assert got == want
    # single block (n <= block_rows) takes the diagonal-only path
    one = sorted(
        map(
            tuple,
            cosine_all_pairs_matmul(df, threshold=0.2, block_rows=4096).collect(),
        )
    )
    assert one == want


def test_adaptive_probes_frontier_values(spark):
    """adaptive_probes pins the measured recall frontier: the shipped
    tiers' cell counts map to the probe counts whose full-set recall
    was measured >= 0.80 (3/4/9 at 8/24/240 cells), and the count
    never drops below the constant-cost floor of 3."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        adaptive_probes,
    )

    assert adaptive_probes(8) == 3
    assert adaptive_probes(24) == 4
    assert adaptive_probes(240) == 9
    assert adaptive_probes(1) == 3


def test_planted_twin_vectors_deterministic_near_dups(spark):
    """planted_twin_vectors: twins are deterministic across calls,
    offset ids by 1e9, keep NULLs null, and sit at cosine ~0.989 to
    their base vector — above the 0.9 audit threshold, far above the
    isotropic background."""
    import math
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        planted_twin_vectors,
    )

    rng = random.Random(23)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(30)]
    rows.append((77, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    t1 = {r.vec_id: r.embedding for r in planted_twin_vectors(df).collect()}
    t2 = {r.vec_id: r.embedding for r in planted_twin_vectors(df).collect()}
    assert t1 == t2
    assert t1[77 + 1_000_000_000] is None
    base = {i: v for i, v in rows if v is not None}
    for i, v in base.items():
        tw = t1[i + 1_000_000_000]
        nb = math.sqrt(sum(x * x for x in v))
        cos = sum(float(a) * b for a, b in zip(v, tw)) / nb
        assert cos > 0.95


def test_recall_audit_floor_semantics(spark):
    """recall_audit: empty (green) when candidates >= floor*exact, one
    labeled violation row otherwise."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        recall_audit,
    )

    cand = spark.range(8)
    exact = spark.range(10)
    assert recall_audit(cand, exact, floor=0.80).count() == 0
    bad = recall_audit(cand, exact, floor=0.81, cand_col="c", exact_col="e")
    rows = bad.collect()
    assert len(rows) == 1 and rows[0].c == 8 and rows[0].e == 10


def test_prefix_low_tau_delegates_to_count_plan(spark):
    """Below min_prefix_threshold the prefix plan must BE the plain
    inverted-index count plan (the x100 finding: an 80% 'prefix'
    prunes nothing, and array-carry verification costs 4x the count
    plan at scale) — above it, the posexplode'd positional machinery
    must be present."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "documents")
    low = ngram_jaccard_pairs_prefix(corpus, threshold=0.2)
    hi = ngram_jaccard_pairs_prefix(corpus, threshold=0.8)
    low_plan = low._jdf.queryExecution().analyzed().toString()
    hi_plan = hi._jdf.queryExecution().analyzed().toString()
    assert "posexplode" not in low_plan  # delegated: no prefix machinery
    assert "posexplode" in hi_plan  # real PPJoin path


def test_kmeans_fit_hier_budget_and_determinism():
    """Two-level trainer: respects the centroid budget (<= k, >= coarse
    count), is deterministic, and on well-separated clusters puts at
    least one center near every true cluster (the coarse level alone
    guarantees that; sub-allocation must not lose it)."""
    import numpy as np

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_fit_hier,
    )

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((6, 16)) * 4.0
    x = np.vstack([c + rng.standard_normal((50, 16)) * 0.05 for c in centers])
    got = kmeans_fit_hier(x, n_centroids=24, seed=7)
    assert len(got) <= 24
    assert got == kmeans_fit_hier(x, n_centroids=24, seed=7)
    g = np.asarray(got)
    for c in centers:
        d = np.linalg.norm(g - c[None, :], axis=1).min()
        assert d < 1.0, f"no sub-center near a true cluster (min dist {d})"


def test_kmeans_fit_hier_skewed_occupancy_holds_budget():
    """Round-6 advice repro: one dominant cluster + many singleton-ish
    cells makes the max(1,·) floor overshoot by MORE than a single trim
    pass can recover (k=10 returned 11 centers; 16 returned 17). The
    trim must repeat until alloc.sum() <= k at every skew level."""
    import numpy as np

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_fit_hier,
    )

    rng = np.random.default_rng(11)
    dominant = rng.standard_normal((500, 8)) * 0.05
    tiny = [
        rng.standard_normal((1, 8)) * 0.01 + off
        for off in (np.eye(8) * 50.0)
    ]
    x = np.vstack([dominant, *tiny])
    for k in (10, 12, 16, 24):
        got = kmeans_fit_hier(x, n_centroids=k, branch=9, seed=7)
        assert len(got) <= k, f"budget breached at k={k}: {len(got)}"
        assert got == kmeans_fit_hier(x, n_centroids=k, branch=9, seed=7)


def test_kmeans_fit_hier_small_k_delegates():
    """k <= 4 (or branch >= k) is a plain flat fit — byte-identical to
    kmeans_fit, so tiny tables never pay the two-level machinery."""
    import numpy as np

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kmeans_fit,
        kmeans_fit_hier,
    )

    x = np.random.default_rng(1).standard_normal((40, 8))
    assert kmeans_fit_hier(x, n_centroids=3, seed=5) == kmeans_fit(
        x, 3, seed=5
    )


def test_ivf_subquantizers_bitmatch_driver_fit(spark):
    """The DISTRIBUTED per-cell refinement must produce, for every
    coarse cell, exactly the centers a driver-side kmeans_fit of that
    cell's full membership produces (same seed discipline seed+1+cell)
    — the applyInPandas path is the cluster-scale form of the same
    computation, not an approximation of it."""
    import random

    import numpy as np

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ivf_subquantizers,
        kmeans_centroids,
        kmeans_fit,
        with_ivf_cell,
    )

    rng = random.Random(11)
    centers = [[rng.gauss(0, 1) * 3 for _ in range(8)] for _ in range(3)]
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    coarse = kmeans_centroids(df, n_centroids=3, seed=2)

    sub = ivf_subquantizers(df, coarse, sub_per_cell=2, seed=9)
    got = {
        (r.coarse_cell, r.sub_id): list(r.centroid) for r in sub.collect()
    }
    assert got  # at least one non-empty cell

    celled = with_ivf_cell(df, coarse).collect()
    by_cell: dict[int, list] = {}
    for r in celled:
        by_cell.setdefault(r.ivf_cell, []).append(
            [float(v) for v in r.embedding]
        )
    for cell, members in by_cell.items():
        want = kmeans_fit(np.asarray(members), 2, seed=9 + 1 + cell)
        for si, w in enumerate(want):
            assert got[(cell, si)] == pytest.approx(w, abs=1e-12)


def test_ivf_subquantizers_skips_null_vectors(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ivf_subquantizers,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = ivf_subquantizers(df, [[1.0, 0.0], [0.0, 1.0]], sub_per_cell=1)
    rows = out.collect()
    assert len(rows) == 2  # one sub-center per occupied cell; null skipped


def test_blocked_matmul_scorer_equals_pair_join(spark):
    """scorer='matmul' (per-block chunked matmul, one shuffle of vector
    rows) must emit exactly the pair set and 6-dp scores of the default
    pair-join scorer — it is a physical-plan change, not a semantics
    change. Random isotropic fixture with several block sizes including
    one bigger than nothing (empty block absent) and singletons."""
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    rng = random.Random(17)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)], i % 5)
        for i in range(300)
    ] + [(1000, [rng.gauss(0, 1) for _ in range(16)], 99)]  # singleton block
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, blk int"
    )
    ref = {
        (r.id_a, r.id_b): r.score
        for r in cosine_near_dup_pairs(
            df, threshold=0.1, block_col="blk"
        ).collect()
    }
    got = {
        (r.id_a, r.id_b): r.score
        for r in cosine_near_dup_pairs(
            df, threshold=0.1, block_col="blk", scorer="matmul"
        ).collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == pytest.approx(ref[k], abs=2e-6)
    # and the heavy majority must be bit-equal after 6-dp rounding
    exact = sum(1 for k in ref if got[k] == ref[k])
    assert exact >= 0.99 * len(ref)


def test_blocked_matmul_requires_block(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="matmul"):
        cosine_near_dup_pairs(
            df, threshold=0.5, block_col=None, scorer="matmul"
        )


def test_shingle_hashes_edge_cases(spark):
    """shingle_hashes_from must agree with word_shingles on every
    equality relation the dedup family depends on, across the edge
    cases that exercise the zip_with/null-padding fold: empty text,
    symbol-only text, 1..k-1 tokens (the sub-k partial shingle), k and
    k+1 tokens, duplicated docs — and NULL text must NOT vanish (it
    takes the constant empty-shingle branch, so it groups with
    token-less docs instead of producing zero exploded rows)."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        shingle_hashes_from,
        token_hashes,
        word_shingles,
    )

    rows = [
        (0, None),                       # NULL text
        (1, ""),                         # empty
        (2, "!!! ??? ..."),              # symbol-only -> zero tokens
        (3, "alpha"),                    # 1 token (< k)
        (4, "alpha beta"),               # k-1 tokens
        (5, "alpha beta gamma"),         # exactly k
        (6, "alpha beta gamma delta"),   # k+1
        (7, "alpha beta gamma delta"),   # duplicate of 6
        (8, "beta gamma delta alpha"),   # same tokens, different order
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 3
    got = (
        df.select("doc_id", token_hashes("text").alias("__th"))
        .select("doc_id", shingle_hashes_from("__th", k).alias("hsh"))
        .join(df.select("doc_id", word_shingles("text", k).alias("ssh")), "doc_id")
        .orderBy("doc_id")
        .collect()
    )
    by_id = {r.doc_id: r for r in got}
    # every doc — including NULL text — yields a non-empty shingle set
    for r in got:
        assert r.hsh is not None and len(r.hsh) >= 1, r
    # cardinalities match the string form wherever the string form is
    # non-NULL-valued (doc 0's string form is [NULL]; hash form maps it
    # to the constant empty hash — same single-element cardinality)
    for r in got:
        assert len(r.hsh) == len(r.ssh), r
    # pairwise equality relations (same set vs disjoint vs overlap
    # size) must match between the two forms on non-NULL docs
    import itertools

    for i, j in itertools.combinations([1, 2, 3, 4, 5, 6, 7, 8], 2):
        a, b = by_id[i], by_id[j]
        str_common = len(set(a.ssh) & set(b.ssh))
        hsh_common = len(set(a.hsh) & set(b.hsh))
        assert str_common == hsh_common, (i, j, str_common, hsh_common)
    # NULL text groups with token-less docs under the hash form
    assert set(by_id[0].hsh) == set(by_id[1].hsh) == set(by_id[2].hsh)


def test_containment_prefix_equals_postings(spark):
    """The min-side prefix plan and the plain postings-count plan must
    be output-identical at every threshold above the delegation point
    (completeness of the asymmetric prefix + positional filter)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        _ngram_containment_prefix,
        ngram_containment_pairs,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for tau in (0.6, 0.8, 0.95):
        plain = {
            (r.id_a, r.id_b, r.containment)
            for r in ngram_containment_pairs(
                docs, threshold=tau, min_prefix_threshold=2.0  # force plain
            ).collect()
        }
        prefix = {
            (r.id_a, r.id_b, r.containment)
            for r in _ngram_containment_prefix(
                docs, "text", "doc_id", 3, tau
            ).collect()
        }
        assert plain == prefix, (tau, len(plain), len(prefix))


def test_winnow_fingerprints_guarantee_and_rightmost(spark):
    """Winnowing's two defining properties at (k=4, w=5): (a) the
    guarantee — two documents sharing a run of ≥ w+k−1 = 8 tokens share
    at least one fingerprint; (b) selection density — every window of w
    consecutive gram positions contains ≥1 selected position (the local
    coverage invariant), and duplicate window winners collapse to one
    row per (doc, pos, hash)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame(
        [
            (1, "x1 y1 z1 " + shared + " tail one two"),
            (2, "p2 q2 " + shared + " other ending words here now"),
            (3, "unrelated words entirely disjoint from the rest corpus"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    # (a) guarantee: docs 1 and 2 share the 8-token run
    assert by_doc[1] & by_doc[2], "shared >=8-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # (b) coverage: every w-window of gram positions has a selection
    rows1 = sorted(r.pos for r in fps if r.doc_id == 1)
    n_grams = len("x1 y1 z1 ".split() + shared.split() + " tail one two".split()) - 3
    for s in range(1, n_grams - 4 + 1):
        assert any(s <= p <= s + 4 for p in rows1), f"window {s} uncovered"
    # distinct rows per (doc,pos,hash)
    assert len(fps) == len({(r.doc_id, r.pos, r.fp_hash) for r in fps})


def test_winnow_short_doc_and_pairs(spark):
    """Documents shorter than k+w−1 tokens produce no fingerprints (no
    full window); winnow_shared_pairs fires on the localized shared run
    and suppresses ubiquitous fingerprints via max_df."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        winnow_fingerprints,
        winnow_shared_pairs,
    )

    run = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, "short doc here"), (2, "a b " + run), (3, "c d " + run),
         (4, "totally different text about storage engines and query planners again")],
        "doc_id long, text string",
    )
    assert winnow_fingerprints(
        spark.createDataFrame([(1, "short doc here")], "doc_id long, text string")
    ).count() == 0
    pairs = winnow_shared_pairs(df).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(2, 3)]
    assert pairs[0].n_shared >= 2
    # max_df suppression: a fingerprint in EVERY doc carries no signal
    many = spark.createDataFrame(
        [(i, "zz yy " + run) for i in range(10)], "doc_id long, text string"
    )
    assert winnow_shared_pairs(many, max_df=5).count() == 0


def test_boilerplate_span_ratio(spark):
    """A span planted in ≥3 docs is boilerplate (absolute floor 3 at
    tiny corpus size); docs without it score 0; ratio = boilerplate
    span occurrences / total spans."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        boilerplate_span_ratio,
    )

    boiler = "click here to subscribe"
    rows = [
        (1, boiler + " unique tail alpha beta"),
        (2, boiler + " other words gamma delta"),
        (3, boiler + " more filler epsilon zeta"),
        (4, "independent document with its own words entirely"),
    ]
    out = {
        r.doc_id: r
        for r in boilerplate_span_ratio(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[4].n_boiler_spans == 0 and out[4].boiler_ratio == 0.0
    for d in (1, 2, 3):
        assert out[d].n_boiler_spans >= 1  # the planted 4-gram
        assert 0 < out[d].boiler_ratio < 1


def test_kcenter_coreset_greedy(spark):
    """Hand-checkable farthest-point traversal: three tight clusters on
    a line — the greedy picks one point per cluster before refining,
    seed = min vec_id, ties to smaller id, sel_dist non-increasing."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        kcenter_coreset,
    )

    pts = {
        0: [0.0, 0.0], 1: [0.1, 0.0],      # cluster A (seed here)
        2: [10.0, 0.0], 3: [10.1, 0.0],    # cluster B
        4: [5.0, 0.0], 5: [5.1, 0.0],      # cluster C (middle)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "vec_id long, embedding array<double>"
    )
    got = kcenter_coreset(df, k=3).orderBy("rank").collect()
    # seed 0; farthest is 3 at (10.1,0), d=10.1^2; then the middle
    # cluster at dmin=25 (tie between 4 and 5 resolved to smaller id)
    assert [r.vec_id for r in got] == [0, 3, 4]
    assert got[0].sel_dist is None
    assert got[1].sel_dist == pytest.approx(102.01)
    assert got[2].sel_dist == 25.0  # min(|5-0|^2, |5.1-10.1|^2)
    # k larger than corpus: stops cleanly
    tiny = spark.createDataFrame(
        [(0, [0.0]), (1, [1.0])], "vec_id long, embedding array<double>"
    )
    assert kcenter_coreset(tiny, k=5).count() == 2


def test_maximal_dup_spans_merge_and_coverage(spark):
    """Lee-et-al span audit invariants at L=4: (a) overlapping
    duplicated windows merge into ONE maximal span covering the whole
    shared run; (b) documents with no duplicated window — including
    shorter-than-L and token-less docs — still appear with zero spans;
    (c) dup_tokens equals the merged span length, not the sum of
    window lengths."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        maximal_dup_spans,
    )

    run = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    rows = [
        (0, run + " unique0 tail0"),
        (1, "head1 lead1 " + run),
        (2, "totally different words here now indeed"),
        (3, "shorty"),                       # < L tokens
        (4, ""),                             # token-less
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in maximal_dup_spans(df, span_len=4).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4}
    # 6-token run = three 4-token windows (pos 1..3 in doc 0) -> ONE
    # span of exactly 6 tokens in each sharing doc
    assert got[0].n_spans == 1 and got[0].dup_tokens == 6
    assert got[1].n_spans == 1 and got[1].dup_tokens == 6
    assert got[0].dup_frac == pytest.approx(6 / 8, abs=1e-6)
    for d in (2, 3, 4):
        assert got[d].n_spans == 0 and got[d].dup_tokens == 0
        assert got[d].dup_frac == 0.0
    assert got[3].n_tokens == 1 and got[4].n_tokens == 0


def test_dedup_spans_rewrite_first_occurrence_wins(spark):
    """Rewrite semantics: the globally-first occurrence (min (doc_id,
    pos)) keeps its text; later occurrences lose exactly the shared
    run; non-duplicated docs and sub-L docs pass through unchanged in
    token space."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        dedup_spans_rewrite,
    )

    run = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, run + " unique0 tail0"),
        (1, "head1 lead1 " + run),
        (2, "totally different words here now"),
        (3, "shorty"),
        (4, None),                           # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r for r in dedup_spans_rewrite(df, span_len=4).collect()
    }
    assert got[0].n_removed == 0 and got[0].clean_text == run + " unique0 tail0"
    assert got[1].n_removed == 6 and got[1].clean_text == "head1 lead1"
    assert got[2].n_removed == 0
    assert got[2].clean_text == "totally different words here now"
    assert got[3].n_removed == 0 and got[3].clean_text == "shorty"
    assert got[4].n_tokens == 0 and got[4].n_removed == 0
    assert got[4].clean_text == ""


def test_dedup_spans_rewrite_intra_doc(spark):
    """Intra-document repetition is deduplicated too (the published
    semantics count ANY second occurrence): a doc repeating its own
    L-token run keeps only the first copy."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        dedup_spans_rewrite,
    )

    run = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [(0, run + " middle filler words " + run)],
        "doc_id long, text string",
    )
    r = dedup_spans_rewrite(df, span_len=4).collect()[0]
    assert r.n_removed == 4
    assert r.clean_text == run + " middle filler words"


def test_shingle_hashes_multiset(spark):
    """distinct=False must keep one hash per WINDOW POSITION (the tf-idf
    frequency unit): repeated shingles stay repeated, the multiset's
    distinct view equals the default set form, and the sub-k/empty/NULL
    branches still produce exactly one element."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        shingle_hashes_from,
        token_hashes,
        tokens,
    )

    rows = [
        (0, "a b c a b c a b c"),        # shingle "a b c" appears 3x
        (1, "a b c d"),                  # all windows distinct
        (2, "x y"),                      # sub-k -> one partial shingle
        (3, ""),                         # token-less -> one element
        (4, None),                       # NULL text -> one element
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 3
    out = (
        df.select(
            "doc_id",
            F.coalesce(F.size(tokens("text")), F.lit(0)).alias("n_tok"),
            token_hashes("text").alias("__th"),
        )
        .select(
            "doc_id",
            "n_tok",
            shingle_hashes_from("__th", k, distinct=False).alias("ms"),
            shingle_hashes_from("__th", k).alias("st"),
        )
        .select(
            "doc_id",
            "n_tok",
            F.size("ms").alias("n_ms"),
            F.size(F.array_distinct("ms")).alias("n_ms_distinct"),
            F.size("st").alias("n_st"),
        )
        .collect()
    )
    by_id = {r["doc_id"]: r for r in out}
    for doc_id, r in by_id.items():
        expected = max(r["n_tok"] - k + 1, 1)
        assert r["n_ms"] == expected, (doc_id, r)
        # multiset's distinct view == the default set form
        assert r["n_ms_distinct"] == r["n_st"], (doc_id, r)
    assert by_id[0]["n_ms"] == 7 and by_id[0]["n_st"] < 7
    assert by_id[3]["n_ms"] == 1 and by_id[4]["n_ms"] == 1
