"""LSH ANN tier: recall floor vs exact oracle, determinism, filtered search."""

from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators import filters as FL
from filtered_ads_vector_search_spark.operators import topk as TK
from filtered_ads_vector_search_spark.operators.lsh import LSHIndex
from filtered_ads_vector_search_spark.operators.recall import recall_at_k

from conftest import SF_TEST


def _setup(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    q, c = TK.split_queries(emb)
    return q.limit(20).cache(), c.cache()


def test_lsh_recall_floor(spark):
    """More tables -> higher recall; 4x6-bit tables must beat a floor vs the
    exact cosine oracle (analog of the reference's ANN recall thresholds,
    tests.py:64-138)."""
    q, c = _setup(spark)
    truth = TK.knn_window(q, c, k=10, metric="cosine").cache()
    idx = LSHIndex.build(c, n_bits=4, n_tables=8, metric="cosine", seed=42)
    found = idx.search(q, k=10)
    rec = recall_at_k(found, truth, k=10).first()["recall_at_k"]
    assert rec > 0.5, f"LSH recall {rec} below floor"

    idx1 = LSHIndex.build(c, n_bits=4, n_tables=1, metric="cosine", seed=42)
    rec1 = recall_at_k(idx1.search(q, k=10), truth, k=10).first()["recall_at_k"]
    assert rec >= rec1 - 1e-9, "more tables must not lower recall"
    idx.unpersist(), idx1.unpersist()


def test_lsh_deterministic(spark):
    q, c = _setup(spark)
    a = LSHIndex.build(c, n_bits=6, n_tables=2, seed=42)
    b = LSHIndex.build(c, n_bits=6, n_tables=2, seed=42)
    ra = sorted(map(tuple, a.search(q, k=5).collect()))
    rb = sorted(map(tuple, b.search(q, k=5).collect()))
    assert ra == rb
    a.unpersist(), b.unpersist()


def test_lsh_filtered_search(spark):
    """Filter-before-top-k: no returned neighbor may violate the predicate."""
    q, c = _setup(spark)
    tagged = FL.with_rating_bucket(c)
    idx = LSHIndex.build(tagged, n_bits=4, n_tables=2, seed=42)
    found = idx.search(q, k=10, predicate=FL.named_filter_predicate("high_rated"))
    ok_ids = {
        r["vec_id"]
        for r in tagged.filter(FL.named_filter_predicate("high_rated"))
        .select("vec_id")
        .collect()
    }
    got = {r["neighbor_id"] for r in found.collect()}
    assert got and got <= ok_ids
    idx.unpersist()


def test_embedding_dup_pairs_lsh_containment(spark):
    """LSH near-dup pairs are a subset of brute-force pairs, and identical
    vectors (all buckets shared) are always found."""
    from filtered_ads_vector_search_spark.operators import dedup as DD

    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").limit(300)
    # plant an exact duplicate pair
    dup = emb.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    data = emb.unionByName(dup).cache()
    brute = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_dup_pairs(data, max_cos_dist=0.7).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_dup_pairs_lsh(data, max_cos_dist=0.7).collect()
    }
    assert lsh <= brute
    first_id = emb.first()["vec_id"]
    assert (min(first_id, first_id + 1_000_000), max(first_id, first_id + 1_000_000)) in lsh


def test_lsh_multiprobe_monotone(spark):
    """More probes -> recall must not decrease (the efSearch-analog knob)."""
    q, c = _setup(spark)
    truth = TK.knn_window(q, c, k=10, metric="cosine").cache()
    idx = LSHIndex.build(c, n_bits=6, n_tables=3, metric="cosine", seed=42)
    r0 = recall_at_k(idx.search(q, k=10, multiprobe=0), truth, k=10).first()["recall_at_k"]
    r3 = recall_at_k(idx.search(q, k=10, multiprobe=3), truth, k=10).first()["recall_at_k"]
    assert r3 >= r0 - 1e-9, (r0, r3)
    idx.unpersist()


def test_lsh_arrow_bitwise_equals_expr(spark):
    """The Arrow scoring kernel is a PHYSICAL swap: identical rows —
    including exact dist doubles — to the interpreted expression path, for
    every supported metric and under multiprobe (the kernel replicates the
    element-ascending folds, the (dist, neighbor_id) tie-break, and the
    bucket-sign arithmetic driver-side)."""
    q, c = _setup(spark)
    # one all-zero vector on each side exercises cosine's zero-norm branch
    # (NULL distances) in both kernels
    dim = len(c.first()["embedding"])
    zero = F.array_repeat(F.lit(0.0).cast("float"), dim)
    qz = q.unionByName(
        q.limit(1).select(F.lit(-1).cast("long").alias("query_id"), zero.alias("q_vec"))
    )
    cz = c.unionByName(
        c.limit(1).select(F.lit(-2).cast("long").alias("vec_id"), zero.alias("embedding"), "label")
    )
    idx = LSHIndex.build(cz, n_bits=4, n_tables=8, metric="cosine", seed=42)
    for mp in (0, 2):
        a = sorted(map(tuple, idx.search(qz, k=10, multiprobe=mp, kernel="arrow").collect()))
        e = sorted(map(tuple, idx.search(qz, k=10, multiprobe=mp, kernel="expr").collect()))
        assert a == e, f"multiprobe={mp}: arrow != expr"
        assert any(r[0] == -1 for r in e), "zero-norm query must be answered"
    idx.unpersist()
    for metric in ("sqeuclidean", "inner_product"):
        m = LSHIndex.build(c, n_bits=4, n_tables=2, metric=metric, seed=7)
        a = sorted(map(tuple, m.search(q, k=5, kernel="arrow").collect()))
        e = sorted(map(tuple, m.search(q, k=5, kernel="expr").collect()))
        assert a == e, f"{metric}: arrow != expr"
        m.unpersist()


def test_lsh_write_partitioned_layout(spark, tmp_path):
    import os

    q, c = _setup(spark)
    idx = LSHIndex.build(c, n_bits=3, n_tables=2, seed=42)
    path = str(tmp_path / "lsh_layout")
    idx.write_partitioned(path)
    dirs = [d for d in os.listdir(f"{path}/tagged") if d.startswith("bucket_0=")]
    assert 1 <= len(dirs) <= 8  # 3 bits -> at most 8 primary buckets
    back = spark.read.parquet(f"{path}/tagged")
    assert back.count() == idx.tagged.count()

    # load restores a searchable index with identical results
    loaded = LSHIndex.load(spark, path)
    assert (loaded.n_bits, loaded.n_tables) == (3, 2)
    q5 = q.limit(5).cache()
    r_mem = sorted(map(tuple, idx.search(q5, k=5).collect()))
    r_load = sorted(map(tuple, loaded.search(q5, k=5).collect()))
    assert r_mem == r_load and len(r_mem) > 0
    idx.unpersist()


def test_lsh_append_and_compact_layout(spark, tmp_path):
    """Incremental LSH add: a planted near-query vector tagged with the
    layout's stored hyperplanes becomes the top hit; replaying the same
    batch_id does not duplicate it; compaction bounds files per bucket and
    preserves results."""
    import glob

    from pyspark.sql import functions as F

    q, c = _setup(spark)
    q1 = q.limit(1).cache()
    idx = LSHIndex.build(c, n_bits=3, n_tables=2, seed=42)
    path = str(tmp_path / "lsh_layout")
    idx.write_partitioned(path)
    idx.unpersist()
    n0 = spark.read.parquet(f"{path}/tagged").count()

    qrow = q1.collect()[0]
    planted = spark.createDataFrame(
        [(10_000_000, [float(x) for x in qrow["q_vec"]], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    assert LSHIndex.append_to_layout(spark, path, planted, batch_id=5) == 1
    assert LSHIndex.append_to_layout(spark, path, planted, batch_id=5) == 1
    loaded = LSHIndex.load(spark, path)
    assert loaded.tagged.count() == n0 + 1  # idempotent replay

    top = loaded.search(q1, k=1).collect()[0]
    assert top["neighbor_id"] == 10_000_000

    before = sorted(map(tuple, loaded.search(q1, k=5).collect()))
    assert LSHIndex.compact_layout(spark, path) == n0 + 1
    assert glob.glob(f"{path}/batches") == []
    for bucket_dir in glob.glob(f"{path}/tagged/bucket_0=*"):
        assert len(glob.glob(f"{bucket_dir}/*.parquet")) <= 1, bucket_dir
    after = sorted(map(tuple, LSHIndex.load(spark, path).search(q1, k=5).collect()))
    assert after == before
