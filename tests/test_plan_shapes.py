"""Plan-shape guards for the r6-born queries (R6_QUERIES below).

The repo's discipline: once a query's physical plan has the shape it was
designed for, pin the load-bearing facts so a refactor that silently
regresses the plan (a per-row Python UDF sneaking in, a broadcast turning
into a shuffle, a scan-stage filter growing an Exchange) fails a test
instead of a bench round. These assert the INITIAL executed plan (pre-AQE),
so they are stable across data sizes and runtimes.

Facts pinned per query (why):
- ALL of them: no ``BatchEvalPython`` — the input_hint's "no per-row
  Python" rule; every Python kernel must be Arrow-batched.
- ``mix_sample``: zero ``Exchange`` — it is a scan-stage CASE-chain filter
  by design (operators/sampling.py mix_sample docstring); any shuffle here
  is a regression.
- ``bpe_token_count`` / ``bpe_chunk_documents`` / ``decontaminate_bloom``:
  exactly one ``ArrowEvalPython`` — one vectorized kernel pass over the
  scan, not stacked Python stages.
- ``decontaminate_bloom``: no join operator at all — the whole point of
  the bloom variant is that the benchmark side collapses into a broadcast
  bitmap probed in the Arrow batch; shingle-vs-shingle joins must not
  reappear.
- ``lm_bigram_score`` / ``quality_clf_filter`` / ``subtitle_lang_route`` /
  ``pack_sequences_bpe``: model/route/boundary joins stay ``Broadcast``
  (the model tables are config-sized); no SortMergeJoin.
- ``semdedup``: within-cluster scoring is ONE grouped Arrow pass keyed on
  centroid_id (``FlatMapGroupsInArrow``), so each vector crosses to Python
  once — no pair self-join (``SortMergeJoin``/``CartesianProduct``) and no
  per-pair Arrow UDF (``ArrowEvalPython``). The one
  ``BroadcastNestedLoopJoin`` is ivf_assign's keyless join against the
  broadcast centroids.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

R6_QUERIES = [
    "bpe_token_count",
    "pack_sequences_bpe",
    "decontaminate_bloom",
    "lm_bigram_score",
    "semdedup",
    "subtitle_lang_route",
    "bpe_chunk_documents",
    "quality_clf_filter",
    "mix_sample",
    "markdown_pages",
    "dsir_select",
    "quality_signals",
    "gopher_repetition",
    "html_tables",
    "split_sentences",
]


def _plan(spark, sf_dir, name: str) -> str:
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", R6_QUERIES)
def test_no_per_row_python(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, f"{name}: per-row Python UDF"


def test_mix_sample_is_scan_stage_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mix_sample")
    assert "Exchange" not in plan
    assert "Join" not in plan


@pytest.mark.parametrize(
    "name", ["bpe_token_count", "bpe_chunk_documents", "decontaminate_bloom"])
def test_single_arrow_kernel_pass(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert plan.count("ArrowEvalPython") == 1, f"{name}: stacked Python stages"


def test_decontaminate_bloom_has_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "decontaminate_bloom")
    assert "Join" not in plan, "bloom variant re-grew a shingle join"


@pytest.mark.parametrize(
    "name",
    ["lm_bigram_score", "quality_clf_filter", "subtitle_lang_route",
     "pack_sequences_bpe"])
def test_model_joins_stay_broadcast(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: broadcast join vanished"
    assert "SortMergeJoin" not in plan, f"{name}: config-sized join shuffles"


def test_markdown_pages_is_one_arrow_pass_no_shuffle(spark, sf_dir):
    """The converter is a single mapInArrow over a JVM-built fixture: no
    join, exactly one Arrow Python stage (MapInArrow), and the ONLY
    permitted exchange is spread()'s round-robin scan widener BELOW the
    kernel (r7: the single-row-group fixture scans otherwise run the whole
    converter on one task; at production split counts spread() no-ops and
    the plan is exchange-free again). Raw html still never shuffles ABOVE
    the kernel and nothing hash-partitions."""
    plan = _plan(spark, sf_dir, "markdown_pages")
    assert "Join" not in plan
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "hashpartitioning" not in plan
    # any exchange must be the round-robin widener, and at most one
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan
        # it sits BELOW the kernel: the Arrow stage consumes the exchange,
        # never feeds one (converted rows don't shuffle)
        assert plan.index("MapInArrow") < plan.index("Exchange RoundRobin")


def test_dsir_select_broadcasts_model_and_heaps_topk(spark, sf_dir):
    """The delta table is broadcast (never a corpus shuffle for the
    model), selection is TakeOrderedAndProject (per-partition heaps),
    and the whole path is JVM expressions."""
    plan = _plan(spark, sf_dir, "dsir_select")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def _only_widener_exchange(plan: str) -> None:
    """Shared r7 invariant for scan-stage operators: the ONLY permitted
    exchange is spread()'s round-robin scan widener directly over the
    file scan (the single-row-group fixtures otherwise run the whole
    kernel on one task; at production split counts spread() no-ops and
    the plan is exchange-free again). Nothing hash-partitions — the
    operator itself still causes no shuffle."""
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan


def test_quality_signals_is_scan_stage_only(spark, sf_dir):
    """The whole point of the one-pass bundle: every signal computes in
    a single scan-stage Project — no shuffle of its own, no join, no
    Python (spread's round-robin widener below is the one exception)."""
    plan = _plan(spark, sf_dir, "quality_signals")
    _only_widener_exchange(plan)
    assert "Join" not in plan
    assert "Python" not in plan


def test_split_sentences_is_scan_stage_generate(spark, sf_dir):
    """Protection/boundary/split are JVM expressions; the explode is a
    Generate on the scan — no shuffle of its own, no join, no Python
    (spread's round-robin widener below is the one exception)."""
    plan = _plan(spark, sf_dir, "split_sentences")
    _only_widener_exchange(plan)
    assert "Join" not in plan
    assert "Python" not in plan
    assert "Generate" in plan


def test_semdedup_self_join_is_keyed_and_checkpointed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semdedup")
    # one grouped pass scores every cluster; vectors are not paired up in
    # the JVM and shipped per pair
    assert plan.count("FlatMapGroupsInArrow") == 1
    # ivf_assign's keyless join against the broadcast centroids, and no other
    assert plan.count("BroadcastNestedLoopJoin") == 1
    for node in ("SortMergeJoin", "CartesianProduct", "ArrowEvalPython",
                 "BatchEvalPython"):
        assert node not in plan, node
