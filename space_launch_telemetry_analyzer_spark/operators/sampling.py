"""Corpus sampling operators for training-data preparation.

Two scale-critical primitives a 100-TB pipeline needs beyond `TABLESAMPLE`:

- `hash_sample`: deterministic, engine-independent Bernoulli sampling keyed
  on a stable id. The same row set is selected on every run, on every
  cluster size, and by the DuckDB oracle — because the hash is md5 of the
  id string, not a framework-private hash. Pure scan-stage filter (pushes
  past the exchange, prunes work before any shuffle).

- `quota_sample`: stratified top-k per group (e.g. per-domain caps so no
  single site dominates a training mix). One shuffle on the strata key +
  window row_number; skewed strata are bounded by k so the window state
  stays small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(id_col: Column, n_buckets: int = 100) -> Column:
    """Stable bucket in [0, n_buckets): first 8 hex chars of md5(id) mod n.
    conv() of 8 hex chars fits in a long; identical formula runs in ANSI
    SQL, which keeps oracle checks and cross-engine reproducibility exact."""
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
    return F.pmod(h.cast("long"), F.lit(n_buckets))


def hash_sample(df: DataFrame, id_col: str, pct: int, n_buckets: int = 100) -> DataFrame:
    """Keep rows whose stable hash bucket < pct (≈ pct/n_buckets of the
    corpus). Deterministic: re-runs, retries, and downstream joins see the
    identical sample — unlike `df.sample()`, whose row set depends on
    partitioning."""
    return df.where(hash_bucket(F.col(id_col), n_buckets) < pct)


def quota_sample(df: DataFrame, strata_cols: list[str], order_col: str,
                 k: int, id_col: str, descending: bool = True) -> DataFrame:
    """Top-k rows per strata (quality-ranked quota per domain/source).
    Deterministic ordering: (order_col, id_col) so ties never flap between
    runs. Adds `strata_rank` (1-based).

    Scale note: Spark plans a rank<=k filter as WindowGroupLimit — a
    per-map-task top-k prune BEFORE the exchange (see the WindowGroupLimit
    below the Exchange in plans/r07/tfidf_topk_after.txt), so
    the shuffle carries at most k rows per strata per map task. If a single
    strata still overwhelms one reducer's sort (billions of rows in one
    domain across millions of map tasks), `quota_sample_two_phase` salts it
    across reducers first."""
    order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(*strata_cols).orderBy(order, F.col(id_col))
    return (
        df.withColumn("strata_rank", F.row_number().over(w))
        .where(F.col("strata_rank") <= k)
    )


def quota_sample_two_phase(df: DataFrame, strata_cols: list[str], order_col: str,
                           k: int, id_col: str, descending: bool = True,
                           n_salts: int = 64) -> DataFrame:
    """`quota_sample` for skewed strata: phase 1 ranks within
    (strata, salt) — a hot strata is split across `n_salts` reducers, each
    sorting 1/n_salts of it — and keeps the per-salt top-k; phase 2 ranks
    the surviving ≤ k·n_salts rows per strata. The global top-k is a subset
    of the union of per-salt top-k's, so the result is IDENTICAL to the
    single-phase operator (asserted in tests), while the biggest single
    sort shrinks by n_salts×."""
    order = (F.col(order_col).desc() if descending else F.col(order_col).asc())
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    w1 = Window.partitionBy(*strata_cols, "_salt").orderBy(order, F.col(id_col))
    pruned = (
        df.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .drop("_salt", "_r1")
    )
    return quota_sample(pruned, strata_cols, order_col, k, id_col, descending)


def mix_sample(df: DataFrame, id_col: str, source_col: str,
               rates: dict[str, float], n_buckets: int = 10000) -> DataFrame:
    """Training-mix builder (r6): deterministic per-source subsampling to
    the given keep RATES in [0, 1] — e.g. {"wiki": 1.0, "web": 0.25}
    keeps every wiki doc and a quarter of the web docs. Row choice is the
    stable md5 bucket of the id (hash_bucket), so the mix is
    partition-invariant, reproducible across engines and re-runs, and
    CONSISTENT with every other hash-sampled artifact of the same ids.
    Sources absent from `rates` drop entirely (a mix spec is a
    whitelist). Rates quantize to 1/n_buckets steps (documented;
    round-half-even via the int round, pinned by the oracle twin using
    the same quantization).

    Scale shape: a scan-stage JVM CASE chain over the (small) source
    list + the md5 bucket filter — no shuffle, no Python. The mix spec
    is config-sized; a million-source spec would want a broadcast join
    variant instead of the literal chain."""
    if not rates:
        raise ValueError("rates must name at least one source")
    for s, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")
    chain = None
    for s, r in sorted(rates.items()):
        cut = int(round(r * n_buckets))
        chain = (F.when(F.col(source_col) == s, F.lit(cut)) if chain is None
                 else chain.when(F.col(source_col) == s, F.lit(cut)))
    cutoff = chain.otherwise(F.lit(0))
    return df.where(hash_bucket(F.col(id_col), n_buckets) < cutoff)


def mix_plan(df: DataFrame, source_col: str, text_col: str,
             weights: dict[str, int]) -> DataFrame:
    """Mix DESIGN for the training-mix builder (the step before
    `mix_sample`): given integer target proportions per source
    (e.g. {"wiki": 2, "web": 1} = 2:1), find the LARGEST total token
    budget the corpus can serve at exactly those proportions, and the
    per-source keep rate that realizes it:

        t          = min over sources of available_tokens_s / w_s
        keep_tokens_s = w_s * t        (the binding source keeps ~all)
        keep_rate_s   = keep_tokens_s / available_tokens_s

    Output: (source, available_tokens, w, keep_tokens, keep_rate), one
    row per source named in `weights` (a mix spec is a whitelist, like
    mix_sample's) — INCLUDING a weighted source with NO corpus rows,
    which reports available_tokens 0 and binds the whole plan to t = 0
    (an unservable mix must say so, not silently drop the missing
    source and claim the rest is fully servable). keep_rate is 0.0 when
    a source has nothing available (never a 0/0). Integer weights keep
    everything exact until two IEEE divisions that both engines perform
    on identical operands — the DuckDB oracle matches bitwise without
    rounding.

    Scale shape: one groupBy(source) token-sum over the corpus (the only
    corpus-sized work — eager-checkpointed because the per-source frame
    feeds both the scalar-min subquery and the final select, and
    ReuseExchange does not unify the two), a broadcast join against the
    config-sized weight table, and a scalar-min broadcast back over the
    per-source frame."""
    if not weights:
        raise ValueError("weights must name at least one source")
    for s, w in weights.items():
        if not (isinstance(w, int) and w > 0):
            raise ValueError(f"weight for {s!r} must be a positive int, got {w}")
    spark = df.sparkSession
    from .text_analysis import token_count

    wdf = spark.createDataFrame(
        sorted(weights.items()), f"{source_col} string, w bigint")
    # whitelist BEFORE aggregating: the source filter pushes down to the
    # scan (don't token-count sources the mix won't keep) and caps the
    # aggregate at len(weights) rows, so the outer join broadcasts
    agg = (
        df.where(F.col(source_col).isin(list(weights)))
        .groupBy(source_col)
        .agg(F.sum(token_count(F.col(text_col))).alias("available_tokens"))
    )
    avail = (
        wdf.join(F.broadcast(agg), source_col, "left")
        .select(source_col, "w",
                F.coalesce("available_tokens", F.lit(0))
                .cast("bigint").alias("available_tokens"))
        .localCheckpoint(eager=True)   # <= len(weights) rows
    )
    t = avail.agg(F.min(
        F.col("available_tokens").cast("double") / F.col("w").cast("double")
    ).alias("t"))
    keep_tokens = F.col("w").cast("double") * F.col("t")
    return (
        avail.crossJoin(F.broadcast(t))
        .select(
            source_col,
            "available_tokens",
            "w",
            keep_tokens.alias("keep_tokens"),
            F.when(F.col("available_tokens") > 0,
                   keep_tokens / F.col("available_tokens").cast("double"))
            .otherwise(F.lit(0.0)).alias("keep_rate"),
        )
    )
