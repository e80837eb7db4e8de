"""Dedup operator semantics on constructed duplicates/near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from space_launch_telemetry_analyzer_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while telemetry streams "
    "from the booster during ascent and the analyzer extracts fields"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE + " extra token"),  # near dup of 1
        (4, "completely different content about database query optimizers and join ordering strategies in distributed engines"),
        (5, "another unrelated document mentioning partition pruning and adaptive execution with runtime statistics feedback loops"),
        (6, BASE.replace("quick", "rapid")),  # near dup, one token changed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").cache()
    df.count()
    return df


def test_exact_dedup(corpus):
    out = D.exact_dedup(corpus, "text", "doc_id").collect()
    groups = {r["keep_id"]: r["n_dups"] for r in out}
    assert groups[1] == 2  # docs 1+2 collapse
    assert len(out) == 5
    assert sum(r["n_dups"] for r in out) == 6


def test_token_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("a b c d e",), ("a b c d x",)], "text string")
    sh = df.select(D.token_shingles(F.col("text"), 3).alias("sh")).collect()
    assert sh[0]["sh"] == ["a b c", "b c d", "c d e"]
    j = spark.range(1).select(
        D.jaccard(
            F.lit(["a b c", "b c d", "c d e"]).cast("array<string>"),
            F.lit(["a b c", "b c d", "c d x"]).cast("array<string>"),
        ).alias("j")
    ).first()["j"]
    assert j == pytest.approx(2 / 4)


def test_minhash_finds_near_dups(corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup(corpus, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup found
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup found
    for (a, b), j in pairs.items():
        assert not (a in (4, 5)) and not (b == 4), f"false positive {(a, b)}={j}"


def test_minhash_signature_distinct_seeds(spark):
    """Regression: each of the k minhashes must use its own seed (the
    pyspark lambda-arity pitfall produced k identical values)."""
    df = spark.createDataFrame([(BASE,)], "text string")
    sig = df.select(
        D.minhash_signature(D.token_shingles(F.col("text"), 3), 8).alias("sig")
    ).first()["sig"]
    assert len(set(sig)) > 1


def test_simhash_near_dup_distance(corpus):
    sigs = {
        r["doc_id"]: r["sig"]
        for r in corpus.select("doc_id", D.simhash64(F.col("text")).alias("sig")).collect()
    }
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) == 0  # identical text -> identical sig
    assert ham(sigs[1], sigs[6]) <= 10  # one-token change -> small distance
    assert ham(sigs[1], sigs[4]) > 10  # unrelated -> large distance


def test_simhash_candidates(corpus):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             D.simhash_candidates(corpus, "doc_id", "text", max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs


def test_connected_components(spark):
    """Known clusters: {1,2,3,4} via chain, {10,11}, singleton edges absent."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in D.connected_components(pairs).collect()}
    # both execution paths must agree
    dist = {r["id"]: r["component"]
            for r in D.connected_components(pairs, driver_cutoff=0).collect()}
    assert comp == dist
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    """A 200-hop chain (diameter >> rounds): plain min-propagation would need
    200 rounds; pointer jumping must converge in O(log n)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    rows = D.connected_components(pairs, max_iter=12, driver_cutoff=0).collect()
    assert len(rows) == 201
    assert all(r["component"] == 0 for r in rows)


def test_connected_components_plan_depth_bounded(spark):
    """Lineage truncation: the returned frame's plan must not grow by joins
    per round (localCheckpoint every few rounds keeps it O(1)-deep)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    comp = D.connected_components(pairs, max_iter=20, driver_cutoff=0)
    plan = comp._jdf.queryExecution().optimizedPlan().toString()
    # an unbounded loop accumulates ~4 joins/round; a truncated plan is flat
    assert plan.count("Join") <= 10, f"plan kept {plan.count('Join')} joins"


def test_connected_components_strict_raises(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=1, strict=True, driver_cutoff=0)
    # non-strict returns (possibly unconverged) labels with a warning
    out = D.connected_components(pairs, max_iter=1, strict=False, driver_cutoff=0).collect()
    assert len(out) == 51


def test_dedup_survivors(spark, corpus):
    pairs = D.minhash_dedup(corpus, "doc_id", "text", threshold=0.5)
    survivors = {r["doc_id"] for r in D.dedup_survivors(corpus, "doc_id", pairs).collect()}
    # 1,2,3,6 collapse to component 1; 4 and 5 survive as loners
    assert 1 in survivors and 4 in survivors and 5 in survivors
    assert 2 not in survivors and 3 not in survivors
    assert len(survivors) == 3


def test_decontaminate(spark, corpus):
    """Docs sharing shingles with the benchmark score high; disjoint docs 0."""
    bench = spark.createDataFrame([(BASE,)], "text string")
    out = {r["id"]: r for r in
           D.decontaminate(corpus, bench, "doc_id", "text", "text").collect()}
    assert out[1]["contamination"] == 1.0 and out[1]["contaminated"]
    assert out[2]["contamination"] == 1.0  # exact dup of benchmark text
    assert out[3]["contamination"] > 0.8  # near dup
    assert out[4]["contamination"] == 0.0 and not out[4]["contaminated"]
    assert out[1]["n_shingles"] == out[1]["n_matched"]


def test_ngram_jaccard_pairs_with_candidates(spark, corpus):
    cand = spark.createDataFrame([(1, 3), (1, 4)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           D.ngram_jaccard_pairs(corpus, "doc_id", "text", candidates=cand).collect()}
    assert out[(1, 3)] > 0.8
    assert out[(1, 4)] == 0.0


def test_ngram_jaccard_cross_join_guard(spark, corpus):
    with pytest.raises(ValueError, match="cross"):
        D.ngram_jaccard_pairs(corpus, "doc_id", "text")
    # explicit opt-in still works for small inputs
    out = D.ngram_jaccard_pairs(corpus, "doc_id", "text", allow_cross_join=True)
    assert out.where((F.col("id_a") == 1) & (F.col("id_b") == 2)).first()["jaccard"] == 1.0


def test_connected_components_string_ids(spark):
    """Non-long ids (canonical urls) must work on BOTH execution paths."""
    pairs = spark.createDataFrame(
        [("a.com", "b.com"), ("b.com", "c.com"), ("x.org", "y.org")],
        "id_a string, id_b string",
    )
    want = {"a.com": "a.com", "b.com": "a.com", "c.com": "a.com",
            "x.org": "x.org", "y.org": "x.org"}
    for cutoff in (100_000, 0):  # driver union-find / distributed loop
        got = {r["id"]: r["component"]
               for r in D.connected_components(pairs, driver_cutoff=cutoff).collect()}
        assert got == want, f"cutoff={cutoff}"


def test_connected_components_zero_max_iter(spark):
    """max_iter=0 on the distributed path must raise the documented
    non-convergence error, not a NameError."""
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=0, strict=True, driver_cutoff=0)


def test_minhash_short_docs_no_ansi_crash(spark):
    """Docs with fewer than k(=3) tokens must not kill the dedup job under
    ANSI mode (element_at past the array end threw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT). Short docs get one all-token shingle,
    so identical short docs still pair and distinct ones don't."""
    rows = [
        (1, "hi"),                # 1 token
        (2, "hi"),                # exact dup of 1
        (3, "lone"),              # distinct 1-token doc
        (4, "two tokens"),        # 2 tokens
        (5, "two tokens"),        # exact dup of 4
        (6, ""),                  # empty text
        (7, BASE),                # normal-length doc, mixed in
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_candidates(
            df, "doc_id", "text", persist_banded=False
        ).collect()
    }
    assert (1, 2) in cand and (4, 5) in cand
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert verified[(1, 2)] == 1.0 and verified[(4, 5)] == 1.0
    assert (1, 3) not in verified and (3, 1) not in verified


def test_minhash_checkpoint_pairs_releases_banded_cache(spark, corpus):
    """checkpoint_pairs=True materializes the verified pairs and unpersists
    the banded signature cache, so long-lived sessions don't accumulate
    executor storage across dedup passes."""
    def storage_ids():
        return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = storage_ids()
    out = D.minhash_dedup(corpus, "doc_id", "text", threshold=0.5,
                          checkpoint_pairs=True)
    # banded registry drained by the call itself
    assert D._BANDED_CACHES == []
    # pairs survive the release (checkpointed, not recomputed through the cache)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs
    # the only storage added is the (small) localCheckpoint of the pairs —
    # the banded signature cache itself is gone
    added = storage_ids() - before
    assert len(added) <= 1, f"banded cache leaked: {len(added)} new entries"


class _CachedFrame:
    """Stands in for a banded frame in the release registry."""

    def __init__(self, exc: BaseException | None = None):
        self.exc = exc
        self.released = False

    def unpersist(self):
        self.released = True
        if self.exc is not None:
            raise self.exc


def test_release_banded_caches_fails_loud_and_drains(monkeypatch):
    """A stopped session's unpersist raises Py4JJavaError (seen: a
    NullPointerException from BlockManagerMaster.removeRdd) and is
    forgiven; any other error propagates, and the registry is drained
    either way."""
    from types import SimpleNamespace

    from py4j.protocol import Py4JJavaError

    stale = _CachedFrame(Py4JJavaError(
        "An error occurred while calling o1.unpersist",
        SimpleNamespace(_target_id="o1")))
    live = _CachedFrame()
    monkeypatch.setattr(D, "_BANDED_CACHES", [stale, live])
    assert D.release_banded_caches() == 2
    assert stale.released and live.released and D._BANDED_CACHES == []

    broken = _CachedFrame(RuntimeError("block manager on fire"))
    monkeypatch.setattr(D, "_BANDED_CACHES", [_CachedFrame(), broken])
    with pytest.raises(RuntimeError, match="on fire"):
        D.release_banded_caches()
    assert broken.released and D._BANDED_CACHES == []


def test_minhash_and_simhash_exclude_degenerate_docs(spark):
    """NULL / whitespace-only docs all share one constant signature — a
    corpus with millions of them would put them in a single band bucket
    (quadratic join). They are excluded from near-dup candidate generation;
    exact_dedup is the right tool for them."""
    rows = [(1, None), (2, ""), (3, "   "), (4, BASE), (5, BASE + " tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = D.minhash_lsh_candidates(df, "doc_id", "text", persist_banded=False)
    ids = {r.id_a for r in mh.collect()} | {r.id_b for r in mh.collect()}
    assert ids <= {4, 5}
    sh = D.simhash_candidates(df, "doc_id", "text")
    ids2 = {r.id_a for r in sh.collect()} | {r.id_b for r in sh.collect()}
    assert ids2 <= {4, 5}


def test_simhash_huge_doc_bounded(spark):
    """A multi-hundred-thousand-token doc folds in bounded chunks (no
    n_tokens x 64 full matrix) and still matches the unchunked result."""
    import numpy as np

    from space_launch_telemetry_analyzer_spark.operators.dedup import (
        _BIT_RANGE, _simhash_kernel,
    )
    import pandas as pd

    rng = np.random.default_rng(7)
    hs = rng.integers(-(2**62), 2**62, size=300_000).tolist()
    got = int(_simhash_kernel(pd.Series([hs])).iloc[0])
    h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
    ones = ((h[:, None] >> _BIT_RANGE) & 1).sum(axis=0)
    bits = (2 * ones > len(h)).astype(np.uint64)
    want = int((bits << _BIT_RANGE).sum().astype(np.int64))
    assert got == want


# --- paragraph_dedup ----------------------------------------------------------

def _pd_rows(spark, rows, **kw):
    df = spark.createDataFrame(rows, "id long, text string")
    out = D.paragraph_dedup(df, "id", "text", **kw).collect()
    return {r["id"]: (r["text"], r["n_paragraphs"], r["n_kept"]) for r in out}


def test_paragraph_dedup_keeps_first_occurrence(spark):
    got = _pd_rows(spark, [
        (1, "alpha\n\nSHARED\n\nbeta"),
        (2, "gamma\n\nSHARED"),
        (3, "SHARED\n\ndelta"),
    ])
    # SHARED survives only at its globally-first (id, pos) = (1, 1)
    assert got[1] == ("alpha\n\nSHARED\n\nbeta", 3, 3)
    assert got[2] == ("gamma", 2, 1)
    assert got[3] == ("delta", 2, 1)


def test_paragraph_dedup_drop_all_copies(spark):
    got = _pd_rows(spark, [
        (1, "SHARED\n\nuniq"),
        (2, "SHARED"),
    ], keep_first=False)
    assert got[1] == ("uniq", 2, 1)
    assert got[2] == ("", 1, 0)  # empty string, not NULL


def test_paragraph_dedup_max_count(spark):
    got = _pd_rows(spark, [
        (1, "twice\n\nthrice"),
        (2, "twice\n\nthrice"),
        (3, "thrice"),
    ], max_count=2, keep_first=False)
    # 'twice' appears 2x (<= max_count) so it survives everywhere;
    # 'thrice' appears 3x and is dropped from every doc
    assert got[1] == ("twice", 2, 1)
    assert got[2] == ("twice", 2, 1)
    assert got[3] == ("", 1, 0)


def test_paragraph_dedup_order_and_custom_sep(spark):
    got = _pd_rows(spark, [(1, "c|a|b"), (2, "z|a")], sep="|")
    # output rebuilds in original position order, not sorted-text order
    assert got[1] == ("c|a|b", 3, 3)
    assert got[2] == ("z", 2, 1)


def test_paragraph_dedup_empty_and_trailing_separator(spark):
    got = _pd_rows(spark, [(1, "x\n\n"), (2, "\n\nx")])
    # trailing/leading separators yield empty-string paragraphs that dedup
    # across docs like any other paragraph; doc 1 holds the first occurrence
    # of BOTH 'x' (pos 0) and '' (pos 1), so doc 2 keeps nothing
    assert got[1] == ("x\n\n", 2, 2)
    assert got[2] == ("", 2, 0)


# --- dup_ngram_mask -----------------------------------------------------------

def _mask_rows(spark, rows, **kw):
    df = spark.createDataFrame(rows, "id long, text string")
    out = D.dup_ngram_mask(df, "id", "text", **kw).collect()
    return {r["id"]: (r["text_masked"], r["n_tokens"], r["n_masked"]) for r in out}


def test_dup_ngram_mask_shared_kgram_masked_everywhere(spark):
    got = _mask_rows(spark, [
        (1, "a b c d e unique tail one"),
        (2, "x y z a b c d e other stuff"),
    ], k=5)
    # the shared 5-gram 'a b c d e' masks all five tokens in BOTH docs
    assert got[1] == ("unique tail one", 8, 5)
    assert got[2] == ("x y z other stuff", 10, 5)


def test_dup_ngram_mask_overlapping_occurrences_merge(spark):
    # 'a b c a b c a b c' with k=3: gram 'a b c' repeats inside one doc
    # (positions 0,3,6) and overlapping duplicated grams ('b c a', 'c a b')
    # also repeat -> the whole doc masks
    got = _mask_rows(spark, [(1, "a b c a b c a b c"), (2, "w x y z q")], k=3)
    assert got[1] == ("", 9, 9)
    assert got[2] == ("w x y z q", 5, 0)


def test_dup_ngram_mask_short_and_empty_docs_untouched(spark):
    got = _mask_rows(spark, [(1, "one two"), (2, ""), (3, None)], k=5)
    assert got[1] == ("one two", 2, 0)
    # empty/null text tokenizes to a single empty token; too short to gram
    assert got[2] == ("", 1, 0)
    assert got[3] == ("", 1, 0)


def test_dup_ngram_mask_max_count_threshold(spark):
    rows = [(i, "the same five token phrase plus doc%d" % i) for i in (1, 2, 3)]
    # 5-gram 'the same five token phrase' occurs 3x
    assert _mask_rows(spark, rows, k=5, max_count=3)[1][2] == 0
    assert _mask_rows(spark, rows, k=5, max_count=2)[1][2] >= 5


def test_dup_ngram_mask_case_sensitive(spark):
    got = _mask_rows(spark, [
        (1, "The Quick Brown Fox Jumps tail a"),
        (2, "the quick brown fox jumps tail b"),
    ], k=5)
    # case differs -> different grams -> nothing masked
    assert got[1][2] == 0 and got[2][2] == 0


def test_dup_ngram_mask_exact_and_hashed_agree(spark):
    rows = [(i, f"a b c d e f tail{i} x y z") for i in range(1, 5)]
    df = spark.createDataFrame(rows, "id long, text string")
    a = sorted(tuple(r) for r in
               D.dup_ngram_mask(df, "id", "text", k=5, exact=True).collect())
    b = sorted(tuple(r) for r in
               D.dup_ngram_mask(df, "id", "text", k=5, exact=False).collect())
    assert a == b


def test_decontaminate_bloom_matches_exact_when_sized(spark):
    """With the oracle-grade sizing (2^26 bits / k=10) the bloom variant
    must equal the exact broadcast-set variant bitwise — zero false
    positives land on a corpus this size."""
    from space_launch_telemetry_analyzer_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i % 7} "
              f"iota kappa word{i}") for i in range(200)],
        "doc_id long, text string")
    bench = docs.where(F.col("doc_id") % 9 == 0).select("text")
    exact = sorted(map(repr, decontaminate(
        docs, bench, "doc_id", "text", "text").collect()))
    bloomy = sorted(map(repr, decontaminate_bloom(
        docs, bench, "doc_id", "text", "text",
        m_bits=1 << 26, hashes=10).collect()))
    assert exact == bloomy


def test_decontaminate_bloom_error_is_one_sided(spark):
    """An undersized bloom may only INFLATE match counts (false positives),
    never deflate them (no false negatives) — the conservative direction
    for decontamination."""
    from space_launch_telemetry_analyzer_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = spark.createDataFrame(
        [(i, f"one two three four five six seven eight doc{i % 5} "
              f"nine ten word{i}") for i in range(300)],
        "doc_id long, text string")
    bench = docs.where(F.col("doc_id") % 9 == 0).select("text")
    exact = {r["id"]: r["n_matched"] for r in decontaminate(
        docs, bench, "doc_id", "text", "text").collect()}
    # 2^10 bits for thousands of shingles -> false positives guaranteed
    tiny = {r["id"]: r["n_matched"] for r in decontaminate_bloom(
        docs, bench, "doc_id", "text", "text",
        m_bits=1 << 10, hashes=3).collect()}
    assert all(tiny[i] >= exact[i] for i in exact)
    assert any(tiny[i] > exact[i] for i in exact)
