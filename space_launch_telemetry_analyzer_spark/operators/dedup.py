"""Deduplication operators for web-scale corpora.

Five dedup families, each expressed so the shuffle structure is explicit and
scale-safe (the groupBy/join keys are hashes — uniform by construction, so no
salting needed; candidate generation never goes O(n²)):

- exact:        hash-groupBy on a normalized content fingerprint
- minhash+LSH:  shingles -> k minhashes -> b bands -> band-bucket equi-join
- simhash:      64-bit sign-of-weighted-bit-sums signature, Hamming buckets
- ngram-jaccard: token-shingle Jaccard on candidate pairs (verification step)
- embedding:    cosine near-dup over an embedding column (see similarity.py)

Everything is JVM-side expressions (xxhash64, transform, aggregate) — no
Python in the hot path; signatures are computed in one scan, candidates via
one equi-join shuffle keyed on (band_id, band_hash).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text_analysis import fingerprint

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 bands x 4 rows: s-curve threshold ~ (1/4)^(1/4) ≈ 0.71
DEFAULT_SHINGLE = 3


# --- exact dedup -------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the minimum id per normalized-content fingerprint; emit group
    size for lineage. One hash-partitioned aggregation; the key is md5 so
    the shuffle is uniform regardless of content skew."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- shingling / tokenization ------------------------------------------------
def tokens_of(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_shingles(text: Column, k: int = DEFAULT_SHINGLE) -> Column:
    """Distinct k-token shingles (word n-grams), document order irrelevant."""
    toks = tokens_of(text)
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )


# --- ngram Jaccard -----------------------------------------------------------
def jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over distinct element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_SHINGLE,
    candidates: DataFrame | None = None,
    allow_cross_join: bool = False,
) -> DataFrame:
    """Jaccard over candidate pairs. `candidates` (id_a, id_b) comes from an
    LSH stage; without it the all-pairs form is O(n²) and only sane on
    small/windowed inputs, so it must be opted into EXPLICITLY with
    allow_cross_join=True — at corpus scale ALWAYS generate candidates first
    (minhash_lsh_candidates)."""
    sh = df.select(F.col(id_col).alias("id"), token_shingles(F.col(text_col), k).alias("sh"))
    if candidates is None:
        if not allow_cross_join:
            raise ValueError(
                "ngram_jaccard_pairs without `candidates` is an O(n²) cross "
                "join; pass candidates from minhash_lsh_candidates (or "
                "allow_cross_join=True for a small, bounded input)"
            )
        a, b = sh.alias("a"), sh.alias("b")
        return a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
        )
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sh_a, "id_a").join(sh_b, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )


# --- MinHash + LSH -----------------------------------------------------------
#
# Performance note (measured, BENCH.md): building 16 minhashes directly over
# STRING shingles re-evaluates the shingle-construction expression per hash
# family and drops out of codegen (~11 ms/doc interpreted). The scalable
# shape materializes numeric shingle hashes ONCE as a column, then runs the
# k hash families over longs (~0.1 ms/doc).


def token_hash_col(text: Column) -> Column:
    """tokens -> xxhash64 longs (JVM-side)."""
    return F.transform(tokens_of(text), lambda t: F.xxhash64(t))


def shingle_hash_col(th: Column, k: int = DEFAULT_SHINGLE) -> Column:
    """k-gram shingle hashes from a MATERIALIZED token-hash column: shingle i
    = xxhash64(th[i], th[i+1], ..., th[i+k-1]) — no string concatenation.
    `th` must be a plain column reference so it is computed once per row.

    Docs with fewer than k tokens get ONE shingle hashing all their tokens:
    try_element_at yields NULL past the end and xxhash64 skips NULL args
    (plain element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI
    mode, killing the whole dedup job on any 1-2-token doc)."""
    n = F.size(th)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.xxhash64(*[F.try_element_at(th, i + j + 1) for j in range(k)]),
        )
    )


def minhash_signature(shingle_hashes: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """k independent minhashes: min over shingle hashes of xxhash64(seed, h).
    Deterministic (no Python hash seeds); empty shingle set -> NULL mins.

    NB: the per-seed lambda must be built by a closure factory — pyspark
    binds extra lambda parameters to the array-index column, so a `i=i`
    default argument would be silently shadowed."""

    def hash_with_seed(seed: int):
        return lambda s: F.xxhash64(F.lit(seed), s)

    return F.array(
        *[F.array_min(F.transform(shingle_hashes, hash_with_seed(i))) for i in range(num_hashes)]
    )


# Persisted banded-signature frames awaiting release. Unpersisting a frame
# that downstream plans still need only costs recompute, never correctness,
# so releasing is always safe once the caller's pairs are materialized.
_BANDED_CACHES: list[DataFrame] = []


def release_banded_caches() -> int:
    """Unpersist every banded frame cached by minhash_lsh_candidates; returns
    how many were released. Call after candidate pairs are materialized.
    The registry is drained first, so it is empty even when a release
    fails. A frame left over from a STOPPED session raises Py4JJavaError
    (the JVM's block manager is gone) and needs no release: its storage
    went with the session. Any other failure propagates."""
    frames = list(_BANDED_CACHES)
    _BANDED_CACHES.clear()
    for df in frames:
        try:
            df.unpersist()
        except Py4JJavaError:
            pass  # stopped session: storage already released with it
    return len(frames)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE,
    persist_banded: bool = True,
) -> DataFrame:
    """shingle -> minhash -> band -> bucket-join candidate pairs (id_a < id_b).

    Scale shape: one scan computes signatures; explode to `bands` rows per
    doc; ONE equi-join shuffle keyed on (band_id, band_hash) — uniform keys,
    so no skew; distinct() collapses pairs found in several bands.
    """
    # degenerate docs (NULL or whitespace-only text) all hash to ONE
    # constant signature — at corpus scale millions of them land in a
    # single band bucket and the self-join goes quadratic. They cannot be
    # NEAR-duplicates of anything meaningful; collapse them with
    # exact_dedup instead (and at corpus scale run exact_dedup FIRST so
    # mass-duplicated boilerplate pages don't concentrate buckets either).
    df = df.where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    sh = df.select(
        F.col(id_col).alias("id"), token_hash_col(F.col(text_col)).alias("th")
    ).select("id", shingle_hash_col(F.col("th"), shingle_k).alias("sh"))
    return _minhash_candidates_from_shingles(
        sh, num_hashes=num_hashes, bands=bands, persist_banded=persist_banded)


def _minhash_candidates_from_shingles(
    sh: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    persist_banded: bool = True,
) -> DataFrame:
    """Banding + bucket-join over a prepared (id, sh) shingle-hash frame —
    split out (r7) so minhash_dedup can compute the shingle hashes ONCE
    and share the frame between candidate generation and the verify join
    instead of re-folding the corpus per consumer."""
    rows_per_band = num_hashes // bands
    sig = sh.select("id", minhash_signature(F.col("sh"), num_hashes).alias("sig"))
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.concat_ws(",", F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ))
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_hash")
    if persist_banded:
        # the self-join otherwise evaluates the full shingle->minhash
        # subtree once PER SIDE (ReuseExchange does not fire across the
        # aliased sides). Warm-JIT A/B at sf0.1: 2.2 s -> 0.8-1.4 s. The
        # cached frame is `bands` small rows/doc (~30 B) and spills to disk
        # at corpus scale. Lifetime: tracked in a module registry —
        # long-lived sessions doing many dedup passes call
        # release_banded_caches() once the candidate pairs are materialized
        # (minhash_dedup(checkpoint_pairs=True) does this for you), or pass
        # persist_banded=False.
        from pyspark import StorageLevel

        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        _BANDED_CACHES.append(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_every: int = 3,
    strict: bool = True,
    dedup_edges: bool = True,
    driver_cutoff: int = 100_000,
) -> DataFrame:
    """Connected components over near-dup pairs (id_a, id_b) -> (id,
    component) where component = min id reachable.

    Algorithm: min-label propagation accelerated with POINTER JUMPING — each
    round a node takes min(own label, neighbors' labels), then labels are
    short-circuited through their representatives (component := label of
    component). The jump halves the remaining path each round, so convergence
    is O(log(component diameter)) rounds (max_iter=20 covers diameters up to
    ~2^20), not O(diameter) as plain propagation would be — near-dup chains
    longer than max_iter hops converge regardless.

    Scale notes (what keeps the loop bounded at 10^12 edges):
    - per round: two shuffles keyed on node/label id (uniform keys);
    - lineage is truncated with labels.localCheckpoint() every
      `checkpoint_every` rounds, so the driver plan stays O(1)-deep instead
      of growing two joins per round;
    - each round's cache is unpersisted as soon as the next round's is
      materialized — executor storage holds at most two label frames;
    - convergence is an exact changed-label count; a loop that exhausts
      max_iter without converging raises (strict=True) or logs a warning,
      never returns wrong labels silently.
    Size-adaptive execution (the AQE-broadcast-join pattern applied to graph
    connectivity): the verified pair list is persisted and counted ONCE —
    that count both materializes the expensive upstream (LSH + verify)
    exactly once (the edge union's two directions would otherwise evaluate
    it twice) and picks the path. At or below `driver_cutoff` edges the
    components are solved with an exact union-find on the driver (a ≤100k-row
    collect — the same order as a broadcast-join build side) and returned as
    a flat DataFrame; above it the distributed loop below runs. Both paths
    produce identical labels (min id per component) and both are tested —
    pass driver_cutoff=0 to force the distributed loop.

    Verified in tests on known clusters, long chains (diameter >> rounds),
    and a plan-depth bound (tests/test_dedup.py)."""
    import logging

    from pyspark import StorageLevel

    pairs = pairs.select("id_a", "id_b").persist(StorageLevel.MEMORY_AND_DISK)
    n_pairs = pairs.count()  # eager: upstream computed once, and the switch stat
    if n_pairs <= driver_cutoff:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in pairs.collect():
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min so the representative IS the min id
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(x, find(x)) for x in parent]
        spark = pairs.sparkSession
        # id type follows the input pairs (long doc ids, string urls, ...)
        from pyspark.sql import types as T

        id_type = pairs.schema["id_a"].dataType
        schema = T.StructType([
            T.StructField("id", id_type),
            T.StructField("component", id_type),
        ])
        pairs.unpersist()
        return spark.createDataFrame(rows, schema)

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    if dedup_edges:
        # skippable when the caller guarantees distinct (id_a < id_b) pairs —
        # e.g. minhash_dedup output — since the two directions can't collide
        # and the min-aggregation below tolerates duplicates anyway; saves a
        # full shuffle of the edge list
        edges = edges.distinct()
    edges = edges.persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .persist()
    )
    prev = labels  # the persisted frame backing the current `labels`
    converged = False
    changed = -1  # "never iterated" sentinel for the non-convergence message
    for it in range(max_iter):
        # 1) propagate: min label in the closed neighborhood
        neighbor_labels = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(neighbor_labels, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component")))
            .alias("component"),
            F.col("component").alias("old_component"),
        )
        # 2) pointer jump: component := component's own label (halves paths)
        jump = stepped.select(
            F.col("id").alias("component"), F.col("component").alias("jumped")
        )
        updated = (
            stepped.join(jump, "component", "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("jumped"), F.col("component")))
                .alias("component"),
                "old_component",
            )
            .persist()
        )
        changed = updated.where(F.col("component") != F.col("old_component")).count()
        if prev is not None:
            prev.unpersist()
        prev, labels = updated, updated.select("id", "component")
        if changed == 0:
            converged = True
            break
        if (it + 1) % checkpoint_every == 0:
            # truncate lineage: the plan would otherwise deepen by ~4 joins
            # per round and blow up driver planning time at scale
            labels = labels.localCheckpoint(eager=True)
            prev.unpersist()
            prev = None
    if not converged:
        msg = (
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing)"
        )
        if strict:
            if prev is not None:
                prev.unpersist()
            edges.unpersist()
            pairs.unpersist()
            raise RuntimeError(msg)
        logging.getLogger(__name__).warning(msg)
    # hand consumers a lineage-free frame: labels otherwise re-embeds the
    # full candidate-generation subtree (minhash/banding joins) at EVERY
    # downstream reference — plans blow up and any recompute re-runs LSH
    labels = labels.localCheckpoint(eager=True)
    if prev is not None:
        prev.unpersist()
    edges.unpersist()
    pairs.unpersist()
    return labels


def dedup_survivors(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Given verified near-dup pairs, keep one row per component (min id) and
    pass through rows not in any component: the full corpus-dedup output.

    Pairs from minhash_dedup are already distinct with id_a < id_b, so the
    edge-dedup shuffle inside connected_components is skipped."""
    comp = connected_components(pairs, dedup_edges=False)
    keep = comp.where(F.col("id") == F.col("component")).select(F.col("id").alias(id_col))
    in_graph = comp.select(F.col("id").alias(id_col))
    loners = df.select(id_col).join(in_graph, id_col, "left_anti")
    return keep.unionByName(loners)


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.7,
    shingle_k: int = DEFAULT_SHINGLE, checkpoint_pairs: bool = False, **kw
) -> DataFrame:
    """Full near-dup pass: LSH candidates -> exact Jaccard verify -> pairs
    above threshold (the caller picks survivors, e.g. keep min id per
    connected component; at corpus scale component-joining is an iterative
    job — here we emit verified pairs, the expensive part).

    The verify step computes Jaccard over NUMERIC shingle-hash sets — the
    same distinct-set cardinalities as string shingles (xxhash64 collisions
    aside), so the value is identical, but the per-doc cost skips re-split +
    per-shingle string concatenation (measured: the string form was the
    single heaviest expression in the suite).

    checkpoint_pairs=True eagerly materializes the (small) verified pairs
    via localCheckpoint and releases the banded signature caches — the
    right mode for long-lived sessions running many passes; the default
    stays lazy for composition into a larger single-action plan.

    r7: the (id, shingle-hash-set) frame is computed ONCE and persisted
    (same registry/lifetime as the banded frames): it feeds the signature
    pass AND both verify-join sides, which previously each re-ran the
    token-hash + shingle fold over the corpus — three corpus folds down
    to one. ~8·|shingles| B/doc, spills to disk at corpus scale."""
    from pyspark import StorageLevel

    base = df.where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    sh = base.select(
        F.col(id_col).alias("id"),
        token_hash_col(F.col(text_col)).alias("th"),
    ).select("id", shingle_hash_col(F.col("th"), shingle_k).alias("sh"))
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    _BANDED_CACHES.append(sh)
    cand = _minhash_candidates_from_shingles(sh, **kw)
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "id_a").join(sh_b, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )
    out = verified.where(F.col("jaccard") >= threshold)
    if checkpoint_pairs:
        out = out.localCheckpoint(eager=True)
        release_banded_caches()
    return out


# --- decontamination ----------------------------------------------------------
def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_id_col: str,
    doc_text_col: str,
    bench_text_col: str,
    k: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-overlap check for training corpora: fraction of each
    document's distinct k-token shingles that appear ANYWHERE in the
    benchmark set. Returns (id, n_shingles, n_matched, contamination,
    contaminated>=threshold).

    Scale shape: the benchmark shingle set is distinct-ed and BROADCAST
    (benchmark suites are tiny next to the corpus); the corpus side is one
    scan + explode + broadcast-hash semi-count — no shuffle of corpus rows,
    aggregation key is the uniform doc id.

    r7: shingles are NUMERIC xxhash64 shingle hashes (shingle_hash_col),
    not strings — no per-shingle string concat on the corpus scan, an
    8-byte broadcast-hash probe key, and the broadcast set shrinks to
    8 B/shingle regardless of shingle length. The per-doc distinct-set
    cardinalities (and hence every output count) are identical modulo
    xxhash64 collisions — the trade minhash_dedup's verify step has made
    since r3, driver-green throughout; the exact-string construction
    remains available via token_shingles for callers that need it."""
    bench_sh = (
        benchmark.select(token_hash_col(F.col(bench_text_col)).alias("__th"))
        .select(F.explode(shingle_hash_col(F.col("__th"), k)).alias("sh"))
        .distinct()
    )
    doc_sh = docs.select(
        F.col(doc_id_col).alias("id"),
        token_hash_col(F.col(doc_text_col)).alias("__th"),
    ).select("id", F.explode(shingle_hash_col(F.col("__th"), k)).alias("sh"))
    matched = (
        doc_sh.join(F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "sh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_matched"),
        )
    )
    contamination = F.col("n_matched").cast("double") / F.col("n_shingles")
    return matched.select(
        "id",
        F.col("n_shingles").cast("int").alias("n_shingles"),
        F.col("n_matched").cast("int").alias("n_matched"),
        contamination.alias("contamination"),
        (contamination >= F.lit(threshold)).alias("contaminated"),
    )


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_id_col: str,
    doc_text_col: str,
    bench_text_col: str,
    k: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
    m_bits: int | None = None,
    hashes: int = 7,
) -> DataFrame:
    """decontaminate() with the benchmark shingle set held as a BLOOM
    FILTER instead of a broadcast string set (r6; the bloom machinery is
    operators/bloom.py, shared with frontier_new's pre-filter).

    When to use which: the exact variant broadcasts every distinct
    benchmark shingle STRING — fine for one benchmark suite, but a
    consolidated eval registry (hundreds of suites, 10^8+ distinct
    shingles) is gigabytes as strings; the bloom is 10 bits/shingle
    (~125 MiB at 10^8) regardless of shingle length. The price is
    one-sided error: bloom false positives can only INFLATE a document's
    match count — conservative in exactly the direction decontamination
    wants (a contaminated doc can never slip through the filter that the
    exact variant would have caught). `hashes`=7 at 10 bits/key sizes the
    default fpp to ~0.8%; size `m_bits` up for stricter bounds.

    Same output schema and aggregation shape as decontaminate(); the
    benchmark side collapses to a bitmap built with one (word, bit)
    shuffle, and the corpus side probes it in a vectorized Arrow batch —
    the corpus still never shuffles raw text."""
    from .bloom import bloom_might_contain, build_url_bloom

    bench_sh = benchmark.select(
        F.explode(token_shingles(F.col(bench_text_col), k)).alias("sh")
    ).distinct()  # like decontaminate(): duplicate shingles would inflate
    # the auto-sizing count ~10x (and the (word, bit) build shuffle with it)
    bloom = build_url_bloom(bench_sh, "sh", m_bits=m_bits, k=hashes)
    doc_sh = docs.select(
        F.col(doc_id_col).alias("id"),
        F.explode(token_shingles(F.col(doc_text_col), k)).alias("sh"),
    )
    matched = (
        doc_sh.withColumn("__hit", bloom_might_contain(bloom, F.col("sh")))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("__hit").cast("int")).alias("n_matched"),
        )
    )
    contamination = F.col("n_matched").cast("double") / F.col("n_shingles")
    return matched.select(
        "id",
        F.col("n_shingles").cast("int").alias("n_shingles"),
        F.col("n_matched").cast("int").alias("n_matched"),
        contamination.alias("contamination"),
        (contamination >= F.lit(threshold)).alias("contaminated"),
    )


# --- SimHash ------------------------------------------------------------------
#
# Performance note (measured, BENCH.md): 64 per-bit HOF aggregates over the
# token-hash array evaluate interpreted (~4 ms/doc). Token hashing stays
# JVM-side (xxhash64); the bit-vote fold runs as an Arrow-vectorized pandas
# UDF with numpy (~0.02 ms/doc) — the sanctioned fast path when built-in
# expressions fall off codegen.

import numpy as _np
import pandas as _pd

_BIT_RANGE = _np.arange(64, dtype=_np.uint64)
_simhash_udf = None  # built lazily: pandas_udf needs an active session


_SIMHASH_CHUNK = 65_536  # caps the per-doc vote matrix at ~32 MB


def _simhash_kernel(hashes: _pd.Series) -> _pd.Series:
    out = _np.zeros(len(hashes), dtype=_np.uint64)
    for i, hs in enumerate(hashes):
        if hs is None or len(hs) == 0:
            continue
        h = _np.asarray(hs, dtype=_np.int64).astype(_np.uint64)
        # chunked vote fold: the n_tokens x 64 matrix is 512 B/token, so a
        # pathological multi-million-token doc would OOM the worker if
        # folded in one shot — accumulate per-bit counts in bounded slices
        ones = _np.zeros(64, dtype=_np.int64)
        for j in range(0, len(h), _SIMHASH_CHUNK):
            hc = h[j:j + _SIMHASH_CHUNK]
            ones += ((hc[:, None] >> _BIT_RANGE) & 1).sum(axis=0).astype(_np.int64)
        bits = (2 * ones > len(h)).astype(_np.uint64)  # sign of ±1 vote sum
        out[i] = (bits << _BIT_RANGE).sum()
    return _pd.Series(out.astype(_np.int64))


def simhash64(text: Column) -> Column:
    """64-bit SimHash: each token-hash bit votes ±1; signature bit = sign of
    the vote sum. xxhash64 JVM-side, vote fold vectorized in numpy."""
    global _simhash_udf
    if _simhash_udf is None:
        from pyspark.sql.pandas.functions import pandas_udf

        _simhash_udf = pandas_udf(_simhash_kernel, "long")
    return _simhash_udf(token_hash_col(text))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 x 16-bit chunks (pigeonhole: any
    pair within Hamming distance 3 shares at least one exact chunk), then
    verify Hamming distance. One equi-join shuffle on (chunk_id, chunk).

    The (id, sig) frame is persisted (r7): the chunk self-join would
    otherwise evaluate the token-hash + Arrow vote-fold signature subtree
    once PER SIDE — the same lesson as minhash's banded persist. 16 B/doc,
    registered in the shared cache registry (release_banded_caches)."""
    from pyspark import StorageLevel

    # degenerate docs all get sig 0 (Hamming 0 to each other) — same
    # constant-bucket quadratic risk as in minhash_lsh_candidates; exclude
    df = df.where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    sig = df.select(F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sig"))
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    _BANDED_CACHES.append(sig)
    chunked = sig.select(
        "id", "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_id"),
                    F.shiftright(F.col("sig"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                )
                for c in range(4)
            ])
        ).alias("ch"),
    ).select("id", "sig", "ch.chunk_id", "ch.chunk")
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(b, ["chunk_id", "chunk"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )

# --- paragraph-level exact dedup ----------------------------------------------
def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    max_count: int = 1,
    keep_first: bool = True,
) -> DataFrame:
    """Corpus-level paragraph dedup (the paragraph variant of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — the form used by CC pipelines such as RefinedWeb /
    Dolma to strip boilerplate paragraphs repeated across pages).

    Splits each document into paragraphs on the LITERAL separator `sep`,
    counts exact paragraph occurrences across the whole corpus, and rebuilds
    each document keeping a paragraph iff its corpus count <= max_count or
    (keep_first) it is the globally first occurrence, ordered by (id, pos).
    A document whose every paragraph is dropped yields the empty string, not
    NULL. Returns (id, text, n_paragraphs, n_kept).

    Scale shape (100 TB): two shuffles of PARAGRAPH-sized rows plus one of
    (id, pos, para) for the rebuild — raw documents never shuffle whole.
    The count aggregation keys on md5(paragraph), uniform by construction,
    and is map-side combinable, so a boilerplate paragraph appearing in 10^9
    docs costs one partial count per task, not a hot reducer. The join back
    of counts onto occurrences IS skewed on such a paragraph (every
    occurrence lands on one key); the count side is 1 row/key so AQE's
    skew-join split handles it — no salting needed because the build side is
    a single row per key. Reference analog: the once-per-frame dedup guard
    (/root/reference/processing/ocr.py fuel-gauge single-read semantics),
    generalized to corpus scale.
    """
    import re as _re

    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep), -1)
        ).alias("pos", "para"),
    ).withColumn("ph", F.md5(F.col("para")))
    counts = paras.groupBy("ph").agg(
        F.count(F.lit(1)).alias("pcount"),
        F.min(F.struct("id", "pos")).alias("first_occ"),
    )
    keep = (F.col("pcount") <= F.lit(max_count))
    if keep_first:
        keep = keep | (F.struct("id", "pos") == F.col("first_occ"))
    # prune to (id, pos, para, keep) BEFORE the rebuild shuffle: the count
    # metadata must not ride the third exchange
    marked = paras.join(counts, "ph").select("id", "pos", "para", keep.alias("keep"))
    kept_struct = F.when(F.col("keep"), F.struct("pos", "para"))
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sort_array(F.collect_list(kept_struct)).alias("_kept"),
        )
        .select(
            "id",
            F.array_join(F.transform(F.col("_kept"), lambda s: s["para"]), sep).alias("text"),
            F.col("n_paragraphs").cast("int").alias("n_paragraphs"),
            F.size("_kept").alias("n_kept"),
        )
    )

# --- duplicate n-gram span masking ---------------------------------------------
def dup_ngram_mask(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    max_count: int = 1,
    exact: bool = True,
) -> DataFrame:
    """Exact-substring dedup at span granularity (the masking variant of Lee
    et al. arXiv:2107.06499 §4.1 used by Dolma/RefinedWeb-style CC pipelines):
    a token k-gram whose exact string occurs more than `max_count` times in
    the WHOLE corpus marks all k of its tokens as duplicated; the output text
    keeps only unmasked tokens (whitespace-normalized rebuild, single spaces).
    Tokenization is trim + split on \\s+, case-sensitive — masking must not
    conflate case variants the way near-dup fingerprints may.

    Returns (id, text_masked, n_tokens, n_masked).

    Scale shape (100 TB): the k-gram explode shuffles gram-sized rows keyed
    on md5(gram) — uniform, map-side combinable count. Joining the duplicated
    keys back onto occurrences is skewed on mega-grams (a boilerplate
    sentence in 10^9 docs), but the build side is one row per key so AQE's
    skew split handles it. Coverage is NOT exploded k ways: duplicated
    occurrence positions aggregate per doc (one shuffle of positions), are
    MERGED into disjoint intervals with one sorted JVM aggregate pass, and
    the per-token test runs against the merged intervals (F.filter with
    index) — so a fully-duplicated 100k-token doc tests each token against
    ONE interval, not 100k positions; the worst case is alternating
    coverage (n/2k intervals), not O(n^2). No Python anywhere. Reference
    analog: the once-per-frame duplicate-read guard generalized to corpus
    scale (/root/reference/processing/ocr.py fuel single-read semantics).

    `exact=True` (default) keys grams on md5 of the joined gram string —
    collision-free in practice (128-bit). `exact=False` keys on
    xxhash64 of the token-slice ARRAY: no per-gram string build at all and
    an 8-byte shuffle key (measured 1.5x on the hash stages at 55M grams,
    BENCH.md #36), at the cost of 64-bit collisions — guaranteed present
    beyond ~4x10^9 distinct grams (birthday bound), each one masking a
    few extra tokens. That is the trade Lee et al. make too; pick per
    corpus size and tolerance."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+").alias("t"),
    )
    n = F.size(F.col("t"))
    if exact:
        keyfn = lambda i: F.md5(  # noqa: E731
            F.concat_ws(" ", F.slice(F.col("t"), i + 1, k)))
        empty = F.array().cast("array<string>")
    else:
        keyfn = lambda i: F.xxhash64(F.slice(F.col("t"), i + 1, k))  # noqa: E731
        empty = F.array().cast("array<long>")
    grams = toks.select(
        "id",
        F.posexplode(
            F.when(n >= k, F.transform(F.sequence(F.lit(0), n - k), keyfn))
            .otherwise(empty)
        ).alias("pos", "gh"),
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > max_count)
        .select("gh")
    )
    dpos = (
        grams.join(dup, "gh")
        .groupBy("id")
        .agg(F.collect_list("pos").alias("dpos"))
    )
    empty_ivl = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")

    def merge_step(acc, p):
        last = F.element_at(acc, -1)
        grown = F.concat(
            F.slice(acc, F.lit(1), F.size(acc) - 1),
            F.array(F.struct(
                last["s"].alias("s"),
                F.greatest(last["e"], p + k).alias("e"))),
        )
        appended = F.concat(
            acc, F.array(F.struct(p.alias("s"), (p + k).alias("e"))))
        return F.when(
            (F.size(acc) > 0) & (last["e"] >= p), grown
        ).otherwise(appended)

    joined = toks.join(dpos, "id", "left").select(
        "id", "t",
        F.aggregate(
            F.array_sort(
                F.coalesce(F.col("dpos"), F.array().cast("array<int>"))),
            empty_ivl, merge_step,
        ).alias("ivl"),
    )
    kept = F.filter(
        F.col("t"),
        lambda tok, i: ~F.exists(
            F.col("ivl"), lambda iv: (iv["s"] <= i) & (i < iv["e"])
        ),
    )
    return joined.select(
        "id",
        F.array_join(kept, " ").alias("text_masked"),
        F.size("t").alias("n_tokens"),
        (F.size("t") - F.size(kept)).alias("n_masked"),
    )
