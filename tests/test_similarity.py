"""Similarity-search operators: brute-force exactness + ANN recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from space_launch_telemetry_analyzer_spark.operators import similarity as S

DIM = 16
N = 120


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(3)
    vecs = rng.randn(N, DIM).astype(np.float32)
    # plant near-neighbors: vec i+100 ~ vec i for i in 0..4
    for i in range(5):
        vecs[100 + i] = vecs[i] + rng.randn(DIM).astype(np.float32) * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).cache()
    df.count()
    return df, vecs


def numpy_topk(vecs: np.ndarray, qid: int, k: int):
    v = vecs.astype(np.float64)
    q = v[qid]
    scores = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(v)), key=lambda i: (-scores[i], i))
    return [(i, scores[i]) for i in order if i != qid][:k]


def test_brute_force_matches_numpy(spark, vectors):
    df, vecs = vectors
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = S.brute_force_topk(df, queries, "vec_id", "embedding", "qid", "qvec", k=5)
    rows = got.collect()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["score"]))
    for q in range(3):
        exp = numpy_topk(vecs, q, 5)
        assert [n for n, _ in by_q[q]] == [n for n, _ in exp]
        for (_, s_got), (_, s_exp) in zip(by_q[q], exp):
            assert s_got == pytest.approx(s_exp, abs=1e-9)
        # planted near-neighbor is rank 1
        assert by_q[q][0][0] == 100 + q


def test_lsh_ann_recall(spark, vectors):
    df, vecs = vectors
    queries = df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ann = S.lsh_ann_topk(df, queries, "vec_id", "embedding", "qid", "qvec",
                         dim=DIM, k=3, n_bits=6)
    got = {}
    for r in ann.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # the planted ~identical neighbor shares every hyperplane bucket -> must
    # be found for every query
    for q in range(5):
        assert (100 + q) in got.get(q, set()), f"query {q} missed planted neighbor"


def test_embedding_near_dup(spark, vectors):
    df, _ = vectors
    pairs = {(r["id_a"], r["id_b"]): r["score"]
             for r in S.embedding_near_dup(df, "vec_id", "embedding", dim=DIM,
                                           threshold=0.99).collect()}
    # the 5 planted ~identical neighbors are found, nothing else at 0.99
    for i in range(5):
        assert (i, 100 + i) in pairs and pairs[(i, 100 + i)] > 0.99
    assert all(a % 100 == b % 100 for a, b in pairs)


def test_bits_for_scales_with_corpus():
    """n_bits must grow with the corpus so expected bucket size stays flat —
    the fix for the fixed-256-buckets quadratic join at 10^9 vectors."""
    assert S.bits_for(100) == 4  # tiny corpus -> floor
    assert S.bits_for(1_000_000, target_bucket=256) == 12
    assert S.bits_for(10**9, target_bucket=256) == 22
    # expected bucket size bounded by ~target for every corpus size
    for n in (10**4, 10**6, 10**9, 10**12):
        bits = S.bits_for(n, target_bucket=256)
        assert n / (2**bits) <= 256 * 1.0 + 1e-9
    assert S.bits_for(10**12) <= 32  # cap


def test_near_dup_default_bits_bound_buckets(spark, vectors):
    """Default path derives n_bits from the corpus; max observed bucket stays
    within a small multiple of the target on a random corpus."""
    df, _ = vectors
    bits = S.bits_for(N, target_bucket=16)
    sig = df.select(S.lsh_bits(F.col("embedding"), bits, DIM).alias("bucket"))
    top = sig.groupBy("bucket").count().agg(F.max("count")).first()[0]
    assert top <= 16 * 4  # random-data spread; pathological skew documented
    # the derived-default path still finds the planted duplicates
    pairs = {(r["id_a"], r["id_b"])
             for r in S.embedding_near_dup(df, "vec_id", "embedding", dim=DIM,
                                           threshold=0.99, n_vectors=N).collect()}
    for i in range(5):
        assert (i, 100 + i) in pairs


def test_lsh_bits_deterministic(spark, vectors):
    df, _ = vectors
    a = df.select(S.lsh_bits(F.col("embedding"), 6, DIM).alias("b")).collect()
    b = df.select(S.lsh_bits(F.col("embedding"), 6, DIM).alias("b")).collect()
    assert [r["b"] for r in a] == [r["b"] for r in b]
    assert len({r["b"] for r in a}) > 4  # buckets actually spread


def test_ivf_ann_recall(spark, vectors):
    """IVF with deterministic centroids: the planted ~identical neighbor
    shares the query's nearest centroid, so it must always be found."""
    df, vecs = vectors
    centroids = df.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ann = S.ivf_ann_topk(df, queries, "vec_id", "embedding", "qid", "qvec",
                         centroids, "centroid_id", "cvec", k=3, n_probe=2)
    got = {}
    for r in ann.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q in range(5):
        assert (100 + q) in got.get(q, set()), f"query {q} missed planted neighbor"


def test_ivf_assign_partitions_corpus(spark, vectors):
    """Every corpus vector lands in exactly one inverted list."""
    df, _ = vectors
    centroids = df.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    lists = S.ivf_assign(df, "vec_id", "embedding", centroids, "centroid_id", "cvec")
    assert lists.count() == N
    assert lists.select("id").distinct().count() == N
    assert lists.select("centroid_id").distinct().count() > 1


def test_ivf_assign_rejects_negative_centroid_id(spark):
    """The smallest-id tie-break negates ids, so a negative id must raise."""
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, vec array<double>")
    cents = spark.createDataFrame([(-1, [1.0, 0.0]), (1, [0.0, 1.0])],
                                  "centroid_id long, cvec array<double>")
    with pytest.raises(Exception, match="nonnegative"):
        S.ivf_assign(df, "vec_id", "vec", cents, "centroid_id", "cvec").collect()


def test_ivf_assign_argmax_matches_window_form(spark):
    """The map-side max_by argmax (r6 scale fix: the exchange carries one
    row per vector, not k) must match the original row_number-window form
    bit-for-bit on the adversarial cases: exact cosine TIES between two
    centroids (smallest centroid id must win), a NULL vector (NULL cscore
    everywhere — row passes through with the smallest centroid id and a
    NULL vec), and a zero vector (NaN cosine, which sorts ABOVE every
    double in both forms)."""
    from pyspark.sql import Window

    rows = [
        (0, [1.0, 1.0]),    # exactly equidistant from both centroids
        (1, [1.0, 0.0]),    # clear winner: centroid 10
        (2, None),          # NULL vec -> NULL cscore for every centroid
        (3, [0.0, 0.0]),    # zero vec -> NaN cosine everywhere
        (4, [0.0, 2.0]),    # clear winner: centroid 20
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cents = spark.createDataFrame(
        [(20, [0.0, 1.0]), (10, [1.0, 0.0])],
        "centroid_id long, cvec array<double>",
    )
    got = {r["id"]: (r["centroid_id"], r["vec"]) for r in
           S.ivf_assign(df, "vec_id", "vec", cents,
                        "centroid_id", "cvec").collect()}

    scored = df.alias("c").join(F.broadcast(cents.alias("k"))).select(
        F.col("c.vec_id").alias("id"), F.col("c.vec").alias("vec"),
        F.col("k.centroid_id").alias("centroid_id"),
        S.cosine(F.col("c.vec"), F.col("k.cvec")).alias("cscore"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("cscore"), F.asc("centroid_id"))
    want = {r["id"]: (r["centroid_id"], r["vec"]) for r in
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).select("id", "vec", "centroid_id")
            .collect()}
    assert got == want
    assert got[0][0] == 10 and got[2] == (10, None)

    plan = S.ivf_assign(df, "vec_id", "vec", cents, "centroid_id", "cvec") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_max_by" in plan or "HashAggregate" in plan


def test_kmeans_lloyd_separable_clusters(spark):
    """Two tight, well-separated direction clusters + seeds one-per-cluster:
    after 2 iterations each centroid must sit near its cluster's mean
    direction and every member must assign to its own centroid."""
    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, [1.0 + 0.01 * (i % 5), 0.0, 0.01 * (i % 3), 0.0]))
        else:
            rows.append((i, [0.0, 1.0 + 0.01 * (i % 5), 0.0, 0.01 * (i % 3)]))
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    seeds = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), F.col("vec").alias("cvec")
    )
    cents = S.kmeans_lloyd(df, "vec_id", "vec", seeds, "centroid_id", "cvec", n_iter=2)
    got = {r.centroid_id: r.cvec for r in cents.collect()}
    assert set(got) == {0, 1}
    assert got[0][0] > 0.9 and got[0][1] < 0.05   # x-cluster centroid
    assert got[1][1] > 0.9 and got[1][0] < 0.05   # y-cluster centroid
    assigned = S.ivf_assign(df, "vec_id", "vec", cents, "centroid_id", "cvec")
    for r in assigned.collect():
        assert r.centroid_id == r.id % 2


def test_kmeans_lloyd_drops_empty_clusters(spark):
    """A seed that attracts no members disappears from the next round."""
    rows = [(i, [1.0, 0.001 * i]) for i in range(10)]
    # seed 99 points the opposite way: nothing assigns to it
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (99, [-1.0, 0.0])],
        "centroid_id long, cvec array<double>",
    )
    cents = S.kmeans_lloyd(df, "vec_id", "vec", seeds, "centroid_id", "cvec", n_iter=1)
    assert [r.centroid_id for r in cents.collect()] == [0]


def test_hyperplane_weights_have_no_small_period():
    """The weight mix must yield genuinely distinct hyperplanes — the old
    `(...) % 13` congruence made bit b and b+13 byte-identical, capping
    distinct buckets at 2^13 regardless of bits_for's sizing."""
    from space_launch_telemetry_analyzer_spark.operators.similarity import (
        _hyperplane_weight as w,
    )

    planes = [tuple(w(b, d) for d in range(128)) for b in range(64)]
    assert len(set(planes)) == 64
    # and dims must not repeat with a tiny period within one plane
    for b in (0, 7, 31):
        row = [w(b, d) for d in range(128)]
        for period in (13, 26):
            assert row[:128 - period] != row[period:], (b, period)


def test_semdedup_keep_first_and_survivors(spark):
    """SemDeDup: exact copies land in one cluster; the EARLIEST id is
    kept, every later copy flagged; orthogonal vectors survive."""
    from space_launch_telemetry_analyzer_spark.operators.similarity import (
        semdedup,
    )

    e = lambda i: [0.0] * i + [1.0] + [0.0] * (3 - i)  # noqa: E731
    rows = [(0, e(0)), (1, e(1)), (2, e(2)),
            (10, e(0)), (20, e(0)),          # two later copies of id 0
            (11, [0.0, 0.999, 0.001, 0.0])]  # near-dup of id 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    got = {r["id"]: (r["centroid_id"], r["is_dup"]) for r in semdedup(
        df, "vec_id", "embedding", cents, "cid", "cvec",
        threshold=0.95).collect()}
    assert got[0] == (0, False)          # first copy kept
    assert got[10][1] and got[20][1]     # later copies flagged
    assert got[1] == (1, False)
    assert got[11] == (1, True)          # near-dup in cluster 1 flagged
    assert got[2] == (2, False)


def test_semdedup_partition_invariance(spark):
    from space_launch_telemetry_analyzer_spark.operators.similarity import (
        semdedup,
    )
    import random
    rng = random.Random(3)
    rows = [(i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
            for i in range(60)]
    rows += [(i + 100, rows[i][1]) for i in range(0, 60, 7)]  # planted
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df1.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    out = lambda df: sorted(map(tuple, semdedup(  # noqa: E731
        df, "vec_id", "embedding", cents, "cid", "cvec",
        threshold=0.999).collect()))
    a = out(df1)
    b = out(df1.repartition(16))
    assert a == b
    assert sum(1 for _, _, d in a if d) == 9  # the planted copies


def test_semdedup_fast_path_agrees_off_boundary(spark):
    """exact=False (numpy batch cosine) must reproduce exact=True's
    decisions whenever scores sit away from the threshold's float noise
    — which planted exact copies (cos=1) and random vectors (cos<<0.999)
    both do."""
    import random

    from space_launch_telemetry_analyzer_spark.operators.similarity import (
        semdedup,
    )
    rng = random.Random(13)
    rows = [(i, [round(rng.uniform(-1, 1), 6) for _ in range(16)])
            for i in range(80)]
    rows += [(i + 200, rows[i][1]) for i in range(0, 80, 9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    run = lambda ex: sorted(map(tuple, semdedup(  # noqa: E731
        df, "vec_id", "embedding", cents, "cid", "cvec",
        threshold=0.999, exact=ex).collect()))
    assert run(True) == run(False)


def test_cosine_fold_batch_bitwise_equals_fold(spark):
    """The r7 Arrow-batched cosine must be BIT-IDENTICAL to the
    interpreted sequential fold on every edge the fold defines: random
    float32 vectors, denormal-heavy values, NaN/Inf components, NULL
    sides, length mismatches, and empty arrays. Bitwise = struct-packed
    double comparison, not epsilon."""
    import random
    import struct

    rng = random.Random(7)

    def vec(d, scale):
        return [rng.uniform(-scale, scale) for _ in range(d)]

    rows = []
    for i in range(600):
        d = rng.choice([1, 3, 16, 64])
        rows.append((i, vec(d, 1.0), vec(d, 1.0)))
    for i in range(600, 700):  # denormals / huge magnitude mix
        d = 8
        rows.append((i, vec(d, 5e-324 * 1e10), vec(d, 1e300)))
    rows += [
        (700, [float("nan"), 1.0], [1.0, 2.0]),
        (701, [float("inf"), 1.0], [1.0, 0.0]),
        (702, [float("-inf")], [0.0]),
        (703, None, [1.0, 2.0]),
        (704, [1.0, 2.0], None),
        (705, None, None),
        (706, [], []),
        (707, [1.0, 2.0, 3.0], [1.0, 2.0]),      # mismatch -> NULL
        (708, [], [1.0, 2.0]),                    # empty vs non-empty
        (709, [0.0, 0.0], [0.0, 0.0]),            # zero norm -> 0.0
    ]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    both = df.select(
        "i",
        S.cosine(F.col("a"), F.col("b")).alias("fold"),
        S.cosine_fold_batch(F.col("a"), F.col("b")).alias("batch"),
    ).collect()

    def bits(x):
        if x is None:
            return "NULL"
        return struct.pack(">d", x).hex()

    diffs = [(r["i"], r["fold"], r["batch"]) for r in both
             if bits(r["fold"]) != bits(r["batch"])]
    assert not diffs, f"bitwise divergence: {diffs[:5]}"


def test_semdedup_exact_batch_matches_fold_form(spark, vectors):
    """semdedup's batched exact path must produce the identical output
    frame as scoring with the plain fold (pre-r7 shape), row for row."""
    corpus, _ = vectors
    corpus = corpus.select("vec_id", F.col("embedding").alias("vec"))
    cents = corpus.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec"))
    out = S.semdedup(corpus, "vec_id", "vec", cents, "cid", "cvec",
                     threshold=0.4).collect()
    ref = _fold_form_semdedup(corpus, cents, 0.4)
    assert sorted(map(tuple, out)) == sorted(map(tuple, ref))


def _fold_form_semdedup(corpus, cents, threshold):
    """The reference semdedup: same assignment, pairs from a within-cluster
    self-join scored by the plain interpreted fold."""
    assigned = S.ivf_assign(corpus, "vec_id", "vec", cents, "cid", "cvec")
    a, b = assigned.alias("a"), assigned.alias("b")
    dup_ids = (
        a.join(b, (F.col("a.centroid_id") == F.col("b.centroid_id"))
               & (F.col("a.id") > F.col("b.id")))
        .where(S.cosine(F.col("a.vec"), F.col("b.vec")) >= F.lit(threshold))
        .select(F.col("a.id").alias("id")).distinct())
    return (assigned.join(dup_ids.withColumn("__dup", F.lit(True)), "id", "left")
            .select("id", "centroid_id",
                    F.coalesce("__dup", F.lit(False)).alias("is_dup"))).collect()


@pytest.mark.parametrize("threshold", [0.0, 0.45])
def test_semdedup_kernel_edges_match_fold_form(spark, threshold):
    """One cluster holding every edge the fold defines — a NULL vector, a
    NULL element, a length mismatch, an empty vector, NaN and Inf
    components, a zero vector — must flag exactly what the fold-scored
    self-join flags."""
    nan, inf = float("nan"), float("inf")
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [-1.0, 0.0, 0.0, 0.0]),
            (3, [0.9, 0.1, 0.0, 0.0]), (4, [0.0, 0.0, 0.0, 0.0]),
            (5, [1.0, 0.0, 0.0]), (6, []), (7, [1.0, None, 0.0, 0.0]),
            (8, None), (9, [0.0, 0.0, 1.0, 0.0]), (10, [0.0, 0.0, 0.0]),
            (11, [nan, 1.0, 0.0, 0.0]), (12, [inf, 0.0, 0.0, 0.0])]
    corpus = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])],
                                  "cid long, cvec array<double>")
    out = S.semdedup(corpus, "vec_id", "vec", cents, "cid", "cvec",
                     threshold=threshold).collect()
    ref = _fold_form_semdedup(corpus, cents, threshold)
    assert sorted(map(tuple, out)) == sorted(map(tuple, ref))
    assert {r["centroid_id"] for r in ref} == {0}
    flagged = {r["id"] for r in ref if r["is_dup"]}
    assert flagged and len(flagged) < len(rows)


def test_tiles_cover_each_later_pair_once():
    T = S.SEMDEDUP_TILE
    for n in (0, 1, T - 1, T, T + 1, 3 * T + 5):
        seen = np.zeros((n, n), dtype=np.int64)
        for i0, i1, j0, j1 in S._tiles(n):
            assert (i1 - i0) * (j1 - j0) <= T * T
            seen[i0:i1, j0:j1] += 1
        later = np.tri(n, n, -1, dtype=bool)   # pairs i > j
        assert (seen[later] == 1).all(), n


def test_semdedup_runaway_cluster_small_tiles_match_fold_form(spark):
    """~30% of the corpus on one centroid, scored in 5 x 5 tiles (so the
    big cluster spans dozens of tile steps), gives the fold form's rows."""
    import random

    from pyspark.sql import types as T

    rng = random.Random(29)
    dim = 8
    cents_v = [[round(rng.uniform(-1, 1), 6) for _ in range(dim)]
               for _ in range(4)]
    rows = [(i, [round(rng.uniform(-1, 1), 6) for _ in range(dim)])
            for i in range(70)]
    rows += [(100 + i, [round(c + rng.gauss(0, 0.08), 6) for c in cents_v[0]])
             for i in range(30)]
    rows += [(200 + i, rows[i][1]) for i in range(0, 100, 11)]
    corpus = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cents = spark.createDataFrame(list(enumerate(cents_v)),
                                  "cid long, cvec array<double>")
    assigned = S.ivf_assign(corpus, "vec_id", "vec", cents, "cid", "cvec")
    out_schema = T.StructType([assigned.schema["id"],
                               assigned.schema["centroid_id"],
                               T.StructField("is_dup", T.BooleanType(), False)])
    out = assigned.groupBy("centroid_id").applyInArrow(
        lambda t: S._semdedup_cluster(t, 0.99, True, t=5),
        schema=out_schema).collect()
    ref = _fold_form_semdedup(corpus, cents, 0.99)
    assert sorted(map(tuple, out)) == sorted(map(tuple, ref))
    sizes = {}
    for r in ref:
        sizes[r["centroid_id"]] = sizes.get(r["centroid_id"], 0) + 1
    assert max(sizes.values()) >= 0.3 * len(rows) > 5 * 5
    big = max(sizes, key=sizes.get)
    dups = [r["is_dup"] for r in ref if r["centroid_id"] == big]
    assert any(dups) and not all(dups)
