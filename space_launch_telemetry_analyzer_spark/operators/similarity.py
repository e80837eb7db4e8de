"""Similarity search over an embedding column (array<float>).

Two paths, as a 100 TB pipeline needs both:
- brute-force cosine top-k — the exactness baseline. Scale shape: broadcast
  the (small) query set, ONE scan of the corpus computing scores JVM-side
  (zip_with + aggregate, codegen'd), then a per-query top-k via window rank
  (shuffle keyed by query id — tiny).
- LSH-bucketed ANN — the scale path: deterministic random-hyperplane bits
  bucket the corpus; candidates = bucket equi-join; exact cosine re-rank of
  candidates only. Probes multiple buckets by flipping one bit at a time.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] in double, sequential fold (deterministic bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2norm(a) * l2norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_prenorm(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """cosine() with the two norms supplied as PRECOMPUTED columns — the
    r7 per-pair -> per-row hoist (guide §1.2 step 2). The folds are
    interpreted HOF expressions, so codegen subexpression elimination
    cannot hoist them across join-replicated rows; computing each side's
    norm once in a projection BELOW the join removes 2 of the 3 folds per
    scored pair. Bit-exact with cosine(a, b) by construction: same fold,
    same `norm_a * norm_b` multiplication order, same when/otherwise null
    semantics (a NULL vector yields a NULL norm -> denom NULL -> the
    otherwise branch -> 0.0, exactly as before)."""
    denom = norm_a * norm_b
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    query_id_col: str, query_vec_col: str, k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query. `queries` MUST be small (it is
    broadcast); the corpus is scanned once. Norms are computed once per
    corpus row / per query BELOW the pair join (cosine_prenorm), not once
    per scored pair."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        l2norm(F.col(vec_col)).alias("__cnorm"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
        l2norm(F.col(query_vec_col)).alias("__qnorm"),
    )
    joined = c.join(F.broadcast(q))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        cosine_prenorm(F.col("__qvec"), F.col("__cvec"),
                       F.col("__qnorm"), F.col("__cnorm")).alias("score"),
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --- LSH-bucketed ANN ---------------------------------------------------------
def _hyperplane_weight(b: int, d: int) -> int:
    """Deterministic pseudo-random integer weight in [-6, 6] for hyperplane
    b, dim d — a 64-bit multiplicative mix (murmur-finalizer style), no RNG
    state, identical everywhere (the SQL oracles embed the same values as
    literals). NB: the previous `(b*K1 + d*K2) % 13` form was a structured
    congruence: bit b and bit b+13 produced BYTE-IDENTICAL hyperplanes (13
    distinct planes total), capping buckets at 2^13 however many bits
    bits_for requested — a silent quadratic-bucket blowup past ~2M vectors.
    Mixing to 64 bits BEFORE the small-range reduction leaves every (b, d)
    pair independent."""
    h = (b * 0x9E3779B97F4A7C15 + d * 0xC2B2AE3D27D4EB4F) & 0xFFFFFFFFFFFFFFFF
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
    h ^= h >> 33
    return (h % 13) - 6


def bits_for(n_vectors: int, target_bucket: int = 256, min_bits: int = 4,
             max_bits: int = 32) -> int:
    """Size the signature from the corpus: n_bits ≈ log2(n / target_bucket),
    so the EXPECTED bucket holds ~target_bucket vectors and the within-bucket
    self-join stays ~O(n · target_bucket) instead of O(n²/2^const). A fixed
    n_bits=8 means 256 buckets forever — ~4M vectors/bucket at 10^9 rows,
    i.e. a quadratic join; deriving bits from n keeps the bucket size flat as
    the corpus grows. (Multiprobe cost grows only linearly with n_bits.)"""
    import math

    if n_vectors <= target_bucket:
        return min_bits
    return max(min_bits, min(max_bits, math.ceil(math.log2(n_vectors / target_bucket))))


def lsh_bits(vec: Column, n_bits: int, dim: int) -> Column:
    """Random-hyperplane signature: bit b = sign(Σ_d vec[d] * w(b,d)) > 0."""
    sig = None
    for b in range(n_bits):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(_hyperplane_weight(b, d))) for d in range(dim)]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sig


def embedding_near_dup(
    corpus: DataFrame, id_col: str, vec_col: str, dim: int,
    threshold: float = 0.95, n_bits: int | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket by hyperplane bits (a
    near-identical pair agrees on every bit with high probability), then
    exact cosine within buckets — the O(n²)-free dedup path. Returns
    (id_a, id_b, score) with id_a < id_b, score ≥ threshold.

    n_bits defaults to bits_for(corpus size): pass n_vectors when known
    (at scale it always is — table stats / snapshot row count), else one
    count() derives it. A fixed small n_bits does NOT survive corpus growth
    (see bits_for)."""
    if n_bits is None:
        n_bits = bits_for(n_vectors if n_vectors is not None else corpus.count())
    sig = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2norm(F.col(vec_col)).alias("__n"),
        lsh_bits(F.col(vec_col), n_bits, dim).alias("bucket"),
    )
    # 1-bit multiprobe on ONE side: a borderline projection can flip a single
    # bit between two near-identical vectors, so probe every Hamming-1
    # neighbor bucket (n_bits+1 rows per vector; pairs dedup via distinct)
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)]
    )
    a = sig.select("id", "vec", "__n", F.explode(probes).alias("bucket")).alias("a")
    b = sig.alias("b")
    pairs = (
        a.join(b, "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            cosine_prenorm(F.col("a.vec"), F.col("b.vec"),
                           F.col("a.__n"), F.col("b.__n")).alias("score"),
        )
        .distinct()
    )
    return pairs.where(F.col("score") >= F.lit(threshold))


# --- IVF (inverted-file) ANN ---------------------------------------------------
def ivf_assign(corpus: DataFrame, id_col: str, vec_col: str,
               centroids: DataFrame, centroid_id_col: str,
               centroid_vec_col: str) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine,
    centroid id as deterministic tie-break). Centroids are SMALL and
    broadcast; the corpus is scanned once (n x n_centroids scored rows —
    the standard IVF build cost).

    Scale shape: the argmax is a map-side-combining `max_by` rather than
    a `row_number` window. The broadcast join expands each corpus row
    into k scored rows INSIDE its own partition, so the partial
    HashAggregate fully reduces every id locally and the exchange
    carries ONE row per vector instead of k — at k = sqrt(n) centroids
    (the SemDeDup sizing) that is the difference between shuffling the
    corpus k times and once. Tie-breaks match the old window form
    bit-for-bit: max cscore first (NaN sorts above all doubles in both
    forms; NULL below, so null-vector rows lose to any scored row), then
    SMALLEST centroid id via the negated id in the ordering struct
    (which is why centroid ids must be numeric AND must not include
    Long.MIN_VALUE: in non-ANSI mode `-(-2^63)` wraps back to -2^63,
    which would invert that one id's ordering — so a negative or NULL
    centroid id raises; every in-repo caller uses dense bigint ids
    assigned from 0). `min(vec)` recovers the vector deterministically
    (every copy in the group is the same value; min of all-NULL stays
    NULL, preserving the old pass-through for null vectors)."""
    from pyspark.sql import types as _T

    cid_type = centroids.schema[centroid_id_col].dataType
    if not isinstance(cid_type, _T.NumericType):
        # fail fast: unary minus on a non-numeric id would implicitly cast
        # to double (NULL for strings), silently corrupting the tie-break
        raise TypeError(
            f"ivf_assign needs a numeric {centroid_id_col!r} for the "
            f"smallest-id tie-break; got {cid_type.simpleString()}")
    # r7: per-pair -> per-row norm hoist (cosine_prenorm): the corpus row's
    # norm is computed once BELOW the k-way broadcast expansion instead of
    # once per (row, centroid) pair — at k centroids that removes k-1 of
    # the k corpus-norm folds AND all k centroid-norm folds (one per
    # centroid row on the tiny broadcast side). Bit-exact: same fold, same
    # vnorm * knorm multiplication order as cosine(c.vec, k.cvec).
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2norm(F.col(vec_col)).alias("__vnorm"),
    )
    cid = F.col(centroid_id_col)
    kside = centroids.select(
        F.when(cid >= 0, cid).otherwise(F.raise_error(F.lit(
            f"ivf_assign: {centroid_id_col!r} must be a nonnegative id")
        )).alias("centroid_id"),
        F.col(centroid_vec_col).alias("__kvec"),
        l2norm(F.col(centroid_vec_col)).alias("__knorm"),
    )
    scored = c.join(F.broadcast(kside)).select(
        "id",
        "vec",
        "centroid_id",
        cosine_prenorm(F.col("vec"), F.col("__kvec"),
                       F.col("__vnorm"), F.col("__knorm")).alias("cscore"),
    )
    return scored.groupBy("id").agg(
        F.min("vec").alias("vec"),
        F.max_by(
            F.col("centroid_id"),
            F.struct(F.col("cscore").alias("s"),
                     (-F.col("centroid_id")).alias("nid")),
        ).alias("centroid_id"),
    ).select("id", "vec", "centroid_id")


# --- fold math shared by the Arrow kernels -------------------------------------
# The interpreted `cosine()` fold, reproduced BIT-EXACTLY in numpy: dot and
# both squared norms accumulate in DIMENSION ORDER with scalar float64 IEEE
# ops, vectorized across pairs while the dimension loop stays sequential, so
# every intermediate double equals the fold's (no FMA, no pairwise/BLAS
# reassociation; float32 -> float64 widening is exact on both paths).


def _vectors(arr, width: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Arrow list<float|double> array -> (V, lens). V is float64
    (len(arr), max(width, longest vector)) with each vector left-aligned
    and padded with +0.0; lens is each vector's length, -1 where the fold
    sees a NULL norm (a NULL vector, or one holding a NULL element).
    Padding leaves fold sums bit-identical: a sum starts at +0.0, so it is
    never -0.0, and adding 0*0 = +0.0 to any other double returns it
    unchanged (NaN and Inf included)."""
    import pyarrow.compute as pc

    raw = pc.list_value_length(arr).fill_null(0) \
        .to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.where(arr.is_null().to_numpy(zero_copy_only=False), -1, raw)
    flat = arr.flatten()
    rows = np.repeat(np.arange(len(raw)), raw)
    if flat.null_count:
        lens[rows[flat.is_null().to_numpy(zero_copy_only=False)]] = -1
        flat = flat.fill_null(0.0)
    cols = np.arange(len(flat)) - np.repeat(np.cumsum(raw) - raw, raw)
    V = np.zeros((len(raw), max(width, int(raw.max(initial=0)))))
    V[rows, cols] = flat.to_numpy(zero_copy_only=False)
    return V, lens


def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Σ_k A[..., k] * B[..., k], the dimension loop SEQUENTIAL (the fold's
    operation order). Leading axes broadcast: (m, d) x (m, d) scores m
    row-aligned pairs, (ti, 1, d) x (1, tj, d) a ti x tj tile."""
    shape = np.broadcast_shapes(A.shape[:-1], B.shape[:-1])
    acc, term = np.zeros(shape), np.empty(shape)
    for k in range(A.shape[-1]):
        np.multiply(A[..., k], B[..., k], out=term)
        acc += term
    return acc


def _fold_cosine(dot, na, nb, la, lb) -> tuple[np.ndarray, np.ndarray]:
    """`cosine()`'s value from the dot and the two squared-norm sums of
    operands with lengths `la`, `lb` (-1 = NULL norm), as (score,
    is_null). Edge semantics are the fold's:
    - either side NULL  -> NULL norm -> NULL denom -> otherwise 0.0
    - length mismatch   -> zip_with pads with NULL -> NULL dot: NULL when
                           denom > 0, else 0.0
    - empty arrays      -> denom 0.0 -> 0.0
    - NaN/Inf components propagate as in the fold.
    Spark SQL's `denom > 0` is NaN-AS-LARGEST (a NaN denom takes the TRUE
    branch and yields dot/NaN = NaN); numpy's > is IEEE, so isnan is ORed
    in."""
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        den = np.sqrt(na) * np.sqrt(nb)
        ok = (den > 0) | np.isnan(den)
        score = np.where(ok, dot / np.where(ok, den, 1.0), 0.0)
    null_side = (la < 0) | (lb < 0)
    return np.where(null_side, 0.0, score), ~null_side & (la != lb) & ok


def cosine_fold_batch(a: Column, b: Column) -> Column:
    """Arrow-batched cosine that reproduces the sequential-fold `cosine()`
    BIT-EXACTLY, edge cases included (see _fold_cosine). Pinned bitwise
    against the fold by tests/test_similarity.py's differential harness
    (random, denormal, NaN/Inf, null, mismatched), which thereby pins the
    fold math semdedup's kernel runs. Implemented as an arrow_udf (not
    pandas_udf): the pandas path folds NaN into null on the return
    conversion, while the fold must emit a REAL NaN (Spark's `NaN >=
    threshold` is NaN-as-largest = true, a NULL comparison is null =
    dropped — a visible semantic difference)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("double")
    def _cos(xa, xb):  # type: ignore[no-untyped-def]
        import pyarrow as pa
        Va, la = _vectors(xa)
        Vb, lb = _vectors(xb, Va.shape[1])
        if Va.shape[1] < Vb.shape[1]:
            Va, la = _vectors(xa, Vb.shape[1])
        score, null = _fold_cosine(_fold_dot(Va, Vb), _fold_dot(Va, Va),
                                   _fold_dot(Vb, Vb), la, lb)
        # NaN is a VALUE, the mask the null — exactly the fold's semantics
        return pa.array(score, mask=null, type=pa.float64())

    return _cos(a, b)


# Edge of a semdedup scoring tile: one step scores at most T*T pairs, so its
# score matrices stay ~0.5 MB each however large a cluster grows.
SEMDEDUP_TILE = 256


def _tiles(n: int, t: int = SEMDEDUP_TILE):
    """Blocks (i0, i1, j0, j1) of the n x n pair matrix that together cover
    every pair i > j exactly once, each at most t x t. A diagonal block
    (i0 == j0) also spans pairs i <= j, which the caller masks out."""
    for i0 in range(0, n, t):
        i1 = min(i0 + t, n)
        for j0 in range(0, i0 + 1, t):
            yield i0, i1, j0, min(j0 + t, n)


def _semdedup_cluster(table, threshold: float, exact: bool,
                      t: int = SEMDEDUP_TILE):
    """One cluster's (id, vec, centroid_id) rows -> (id, centroid_id,
    is_dup): a member is a dup when its cosine to an EARLIER-id member
    reaches `threshold` (a NaN score counts as reaching it, Spark's
    NaN-as-largest order; a NULL score never does). Each vector's squared
    norm is summed once; pairs are scored tile by tile (_tiles). NULL ids
    sort last and pair with nothing, as `a.id > b.id` is NULL for them.
    `exact` scores with the sequential fold; otherwise the dot and norms
    are BLAS reductions and only the edge semantics are shared."""
    import pyarrow as pa

    table = table.sort_by("id")
    ids = table.column("id")
    n = len(ids) - ids.null_count
    V, lens = _vectors(table.column("vec").combine_chunks())
    sq = _fold_dot(V, V) if exact else np.einsum("ij,ij->i", V, V)
    is_dup = np.zeros(len(lens), dtype=bool)
    for i0, i1, j0, j1 in _tiles(n, t):
        A, B = V[i0:i1], V[j0:j1]
        dot = _fold_dot(A[:, None, :], B[None, :, :]) if exact else A @ B.T
        score, null = _fold_cosine(dot, sq[i0:i1, None], sq[None, j0:j1],
                                   lens[i0:i1, None], lens[None, j0:j1])
        hit = ((score >= threshold) | np.isnan(score)) & ~null
        if i0 == j0:
            hit &= np.tri(i1 - i0, j1 - j0, -1, dtype=bool)
        is_dup[i0:i1] |= hit.any(axis=1)
    return pa.table({"id": ids, "centroid_id": table.column("centroid_id"),
                     "is_dup": is_dup})


def semdedup(corpus: DataFrame, id_col: str, vec_col: str,
             centroids: DataFrame, centroid_id_col: str,
             centroid_vec_col: str, threshold: float = 0.95,
             exact: bool = True) -> DataFrame:
    """SemDeDup (public method: Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster the
    embedding space, then within each cluster mark every vector whose
    cosine to an EARLIER-id cluster member reaches `threshold` as a
    semantic duplicate — keep-first-by-id, fully deterministic. Returns
    (id, centroid_id, is_dup); filter `~is_dup` for the survivor set.

    Scale shape: assignment is the broadcast-centroid scan (ivf_assign, no
    corpus shuffle); the duplicate test is ONE grouped Arrow pass keyed on
    centroid_id, so each assigned vector crosses to Python once (not once
    per candidate pair, as a self-join would send it) and the assigned
    frame is read once. Per-task work is one cluster's pairs — quadratic
    in cluster size by design (that is SemDeDup: k must grow with the
    corpus so clusters stay bounded; the paper uses k ~ sqrt(n)), and the
    whole cluster's vectors sit in one Python worker. Within it, pairs are
    scored in tiles of at most SEMDEDUP_TILE² pairs, so per-step memory
    stays bounded even for a runaway cluster; the real fix for one is more
    centroids.

    `exact=True` (default) scores pairs with the sequential fold,
    bit-identical to `cosine()` — engine-exact threshold comparisons, what
    the driver oracle pins. `exact=False` takes the dot and norms from
    BLAS; its reduction order differs in the last ulps, so a pair sitting
    WITHIN float noise of the threshold may flip — the dup_ngram_mask(
    exact=False) trade, documented and tested for agreement away from the
    boundary."""
    from pyspark.sql import types as _T

    assigned = ivf_assign(corpus, id_col, vec_col, centroids,
                          centroid_id_col, centroid_vec_col)
    out = _T.StructType([assigned.schema["id"], assigned.schema["centroid_id"],
                         _T.StructField("is_dup", _T.BooleanType(), False)])
    return assigned.groupBy("centroid_id").applyInArrow(
        lambda t: _semdedup_cluster(t, threshold, exact), schema=out)


def kmeans_lloyd(corpus: DataFrame, id_col: str, vec_col: str,
                 centroids: DataFrame, centroid_id_col: str,
                 centroid_vec_col: str, n_iter: int = 2,
                 checkpoint_every: int = 4) -> DataFrame:
    """Distributed Lloyd k-means (cosine assignment) producing the real
    centroids for an IVF index — upgrades ivf_ann_topk's seed centroids to
    fitted ones.

    Per iteration: broadcast-assign every vector to its nearest centroid
    (ivf_assign — one corpus scan, no shuffle of vectors), then recompute
    each centroid as the per-dimension mean of its members. The mean is
    DECIMAL-exact: component sums run in DECIMAL(27,12) (associative, so
    partial-aggregation order can't wiggle bits — the same trick the
    monetary aggregates use), and only the final sum/count division happens
    in doubles. That makes every iteration bit-reproducible across
    partitionings AND engines, which is what lets the driver oracle unroll
    the same iterations in SQL. Feed inputs with components that are exact
    at 12 decimals (e.g. round(x, 6)) and the DECIMAL casts never round.

    Empty clusters drop out (standard simple Lloyd behavior; the join that
    builds the next assignment simply has one fewer centroid). One shuffle
    per iteration, keyed by (centroid_id, dim) — at most k·dim groups."""
    cents = centroids.select(
        F.col(centroid_id_col).alias("centroid_id"),
        F.col(centroid_vec_col).alias("cvec"),
    )
    for it in range(n_iter):
        assigned = ivf_assign(corpus, id_col, vec_col, cents, "centroid_id", "cvec")
        dims = assigned.select(
            "centroid_id", F.posexplode("vec").alias("dim", "val")
        )
        means = dims.groupBy("centroid_id", "dim").agg(
            (
                F.sum(F.col("val").cast("decimal(27,12)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
        cents = means.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("cvec")
        )
        if (it + 1) % checkpoint_every == 0:
            # the lazy plan re-embeds one corpus scan + window + two aggs per
            # iteration; truncate periodically (cents is k tiny rows) so deep
            # fits don't grow the plan unboundedly — same discipline as
            # connected_components/pagerank
            cents = cents.localCheckpoint(eager=True)
    return cents


def ivf_ann_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    query_id_col: str, query_vec_col: str,
    centroids: DataFrame, centroid_id_col: str, centroid_vec_col: str,
    k: int = 10, n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are inverted-listed under their nearest
    centroid; each query probes its `n_probe` nearest centroids and
    exact-re-ranks only those lists. Complements the hyperplane-LSH path:
    IVF adapts to clustered data (lists follow density), LSH needs no
    training data.

    Scale shape: ONE corpus shuffle keyed on centroid_id (list sizes follow
    cluster sizes — for pathological skew, split hot lists by salting or
    raise n_centroids); queries and centroids are broadcast. The centroid
    set itself is caller-provided (k-means at scale, any deterministic
    sample for tests) — the engine's plumbing is identical either way."""
    lists = ivf_assign(corpus, id_col, vec_col, centroids,
                       centroid_id_col, centroid_vec_col)
    # corpus-side norm once per row (not once per probed pair in the re-rank)
    lists = lists.select("id", "vec", "centroid_id",
                         l2norm(F.col("vec")).alias("__vnorm"))
    qscored = queries.alias("q").join(
        F.broadcast(centroids.alias("k"))
    ).select(
        F.col(f"q.{query_id_col}").alias("query_id"),
        F.col(f"q.{query_vec_col}").alias("qvec"),
        F.col(f"k.{centroid_id_col}").alias("centroid_id"),
        cosine(F.col(f"q.{query_vec_col}"), F.col(f"k.{centroid_vec_col}")).alias("cscore"),
    )
    qw = Window.partitionBy("query_id").orderBy(F.desc("cscore"), F.asc("centroid_id"))
    probes = (
        qscored.withColumn("__rn", F.row_number().over(qw))
        .where(F.col("__rn") <= n_probe)
        .select("query_id", "qvec", "centroid_id",
                l2norm(F.col("qvec")).alias("__qnorm"))
    )
    cand = lists.join(F.broadcast(probes), "centroid_id")
    scored = cand.select(
        "query_id", F.col("id").alias("neighbor_id"),
        cosine_prenorm(F.col("qvec"), F.col("vec"),
                       F.col("__qnorm"), F.col("__vnorm")).alias("score"),
    ).where(F.col("query_id") != F.col("neighbor_id")).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def lsh_ann_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    query_id_col: str, query_vec_col: str, dim: int,
    k: int = 10, n_bits: int | None = None, multiprobe: bool = True,
    n_vectors: int | None = None,
) -> DataFrame:
    """ANN: bucket corpus by hyperplane bits once; look up each query's
    bucket (± 1-bit probes) and exact-re-rank candidates. The corpus side
    shuffles once on the uniform bucket key; queries are broadcast.
    n_bits defaults to bits_for(corpus size) — see embedding_near_dup."""
    if n_bits is None:
        n_bits = bits_for(n_vectors if n_vectors is not None else corpus.count())
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2norm(F.col(vec_col)).alias("__cnorm"),
        lsh_bits(F.col(vec_col), n_bits, dim).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
        l2norm(F.col(query_vec_col)).alias("__qnorm"),
        lsh_bits(F.col(query_vec_col), n_bits, dim).alias("qbucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)],
        )
    else:
        probes = F.array(F.col("qbucket"))
    q_exploded = q.select("query_id", "qvec", "__qnorm", F.explode(probes).alias("bucket"))
    cand = c.join(F.broadcast(q_exploded), "bucket")
    scored = cand.select(
        "query_id", "neighbor_id",
        cosine_prenorm(F.col("qvec"), F.col("cvec"),
                       F.col("__qnorm"), F.col("__cnorm")).alias("score")
    ).where(F.col("query_id") != F.col("neighbor_id")).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
