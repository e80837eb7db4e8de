r"""Page-level DOM extraction: the engine's core vectorized kernel.

Re-expresses the reference's per-frame extraction dispatch
(`ocr/extract_data.py:138-210`): ROI crop (`slice_roi`, extract_data.py:18-27)
becomes block selection over a flattened DOM block array; the EasyOCR read
with allowlist (`ocr/ocr.py:81-194`) becomes a Boilerpipe/Readability-style
boilerplate strip (text-density + link-density block classification); the
field parsers are exact ports (functions/parse.py).

Execution model (Spark-first):
- ONE `mapInArrow` pass over Arrow batches of pages — the only Python hot
  path in the engine. Everything downstream (validation, derived metrics,
  aggregation) is JVM-side DataFrame expressions.
- Per-row failures become an `error` column, never a task failure — the
  reference's row-level error channel (frame_processing.py:41-50,
  batch_processing.py:86-90): failure is data, not control flow.
- Rule config arrives via a Spark broadcast (≅ the reference's ProcessPool
  initializer re-materializing the ROI config per worker process,
  batch_processing.py:139-149).

Determinism contract (byte-identical extracted text per url — BASELINE.json):
- the block model, thresholds, whitespace and entity policy below are FROZEN
  and exercised by golden fixtures (tests/test_extract.py);
- no dict-iteration-order or hash-seed dependence anywhere: blocks are in
  document order, engine sections in config order.

Block model (frozen):
- a *block* opens at each block-level tag (BLOCK_TAGS) and holds the text of
  its inline content; nested block-level tags open child blocks (parent_idx
  links them, giving the flattened-but-navigable DOM array);
- <a> text counts toward both n_chars and n_link_chars of the enclosing
  block (link density = link chars / chars);
- <script>/<style>/comments are dropped; entities unescaped; block text is
  stripped of leading/trailing whitespace only (no internal collapsing);
  <br> contributes a single '\n'.

Classification (frozen, Boilerpipe-family):
  base:     is_content = tag not in NON_CONTENT_TAGS
                         and n_words >= MIN_CONTENT_WORDS (5)
                         and link_density <= MAX_LINK_DENSITY (1/3)
  smoothing (the Boilerpipe neighbor rule): a non-empty block that failed
  only the word-count test is PROMOTED when both its nearest non-empty
  neighbors were base-classified content — this keeps sandwiched headings
  and short sentences inside an article while leaving isolated chrome out.
  One pass over base labels (no cascade), document order, deterministic.
extracted_text = '\n'.join(text of content blocks, document order).
"""

from __future__ import annotations

import html as _html
import re
import time as _time
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.parse import extract_single_value, extract_time, convert_measurement
from ..rules import DEFAULT_TIME_REGEX, RuleConfig, parse_selector

# ---------------------------------------------------------------------------
# frozen constants
# ---------------------------------------------------------------------------
MIN_CONTENT_WORDS = 5
MAX_LINK_DENSITY = 1.0 / 3.0

BLOCK_TAGS = frozenset(
    "p div li ul ol nav footer header aside main article section span title "
    "h1 h2 h3 h4 h5 h6 td th tr table blockquote pre form button figure figcaption".split()
)
NON_CONTENT_TAGS = frozenset("nav header footer aside title script style form button".split())
SKIP_CONTENT_TAGS = frozenset(("script", "style"))
VOID_TAGS = frozenset("br hr img meta link input area base col embed source track wbr".split())

# one pass captures kind/name/attrs directly: group 1 = comment/doctype,
# 2 = closing slash, 3 = tag name, 4 = attrs INCLUDING any trailing
# self-closing '/' (the caller strips it — see parse_blocks). The attrs
# body is the unrolled-loop form normal*(quoted normal*)* — normal and
# quoted can't match the same character, so it never backtracks; vs the
# previous lazy per-char alternation ((?:[^>"']|"..."|'...')*?) this cut
# whole-pattern finditer time ~28% (r4 A/B, differential-tested token-
# identical on edge cases + 4k random-soup strings).
_TAG_RE = re.compile(
    r"<(?:(!--.*?--|![^>]*)|(/?)([a-zA-Z][a-zA-Z0-9]*)"
    r"([^>\"']*(?:(?:\"[^\"]*\"|'[^']*')[^>\"']*)*))>",
    re.DOTALL,
)
_CLASS_RE = re.compile(r"""\bclass\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE)
_WS_RE = re.compile(r"\s+")

# raw tag name -> (lowered tag, dispatch kind). One bounded dict probe per
# tag replaces a str.lower() plus up to four frozenset probes (r5 A/B:
# with the split lexer below, 1.23x single-core over the r4 loop,
# token-identical on golden + edge + 4k random-soup cases). Kinds:
# 0 = void/inline/other (no-op), 1 = script/style (skip contents),
# 2 = <a>, 3 = <br>, 4 = block tag.
_TAG_INFO: dict = {}


def _tag_kind(tag: str) -> int:
    if tag in SKIP_CONTENT_TAGS:
        return 1
    if tag == "a":
        return 2
    if tag == "br":
        return 3
    if tag not in VOID_TAGS and tag in BLOCK_TAGS:
        return 4
    return 0


class Block:
    """One entry of the flattened DOM block array (schema.BLOCK_SCHEMA).
    __slots__ class, not a dataclass: this is allocated ~60x per page in the
    hot path and slot access measurably beats dict-backed attributes."""

    __slots__ = ("block_idx", "tag", "css_class", "depth", "parent_idx",
                 "pieces", "n_link_chars", "text", "n_chars", "n_words",
                 "link_density", "is_content")

    def __init__(self, block_idx: int, tag: str, css_class: str, depth: int,
                 parent_idx: int):
        self.block_idx = block_idx
        self.tag = tag
        self.css_class = css_class
        self.depth = depth
        self.parent_idx = parent_idx
        self.pieces: list = []
        self.n_link_chars = 0
        self.text = ""
        self.n_chars = 0
        self.n_words = 0
        self.link_density = 0.0
        self.is_content = False

    def finalize(self) -> None:
        # empty fast path: pure-wrapper blocks (div soup) own no text
        # nodes and every __init__ default is already the finalized value
        pieces = self.pieces
        if not pieces:
            return
        # single-piece fast path: most text blocks hold one text node, and
        # str.join on a 1-list still walks the sequence machinery
        raw = pieces[0] if len(pieces) == 1 else "".join(pieces)
        self.text = raw.strip()
        self.n_chars = len(self.text)
        # CAPPED word count (saturates at 7): classification consumes only
        # the >=5 and >=1 thresholds, so splitting past 6 words is pure
        # allocation waste on long paragraphs (hot path: ~60 blocks/page).
        # NB this field deliberately deviates from BLOCK_SCHEMA's true
        # n_words — anything emitting blocks per that schema must recount.
        self.n_words = len(self.text.split(None, 6))
        self.link_density = (
            min(1.0, self.n_link_chars / self.n_chars) if self.n_chars else 0.0
        )
        self.is_content = (
            self.tag not in NON_CONTENT_TAGS
            and self.n_words >= MIN_CONTENT_WORDS
            and self.link_density <= MAX_LINK_DENSITY
        )


def parse_blocks(html_text: str) -> list[Block]:
    """Flatten an HTML string into the block array (document order).

    A deterministic regex lexer (no external parser deps): ONE
    _TAG_RE.split pass yields [text, g1, g2, name, attrs, text, ...] —
    the text chunks and all four capture groups arrive as a flat list,
    killing the per-match C calls (span + group tuple fetch + substring
    slice) the r4 finditer loop paid at ~160 tags/page. A small
    open-element stack tracks the innermost open block and <a> nesting;
    tag dispatch is one bounded dict probe to (tag, kind) via _TAG_INFO.
    r5 A/B vs the r4 loop: 1.23x single-core, token-identical on golden +
    edge + 4k random-soup differential cases.
    """
    blocks: list[Block] = []
    # virtual root block catches stray top-level text
    root = Block(block_idx=0, tag="", css_class="", depth=0, parent_idx=-1)
    blocks.append(root)
    open_stack = [root]  # innermost open block LAST (objects, not indices)
    cur = root           # == open_stack[-1], maintained at push/pop sites
    a_depth = 0
    skip_tag: str | None = None  # inside <script>/<style>
    unescape = _html.unescape
    cls_search = _CLASS_RE.search
    tag_info = _TAG_INFO

    parts = _TAG_RE.split(html_text)
    txt = parts[0]
    if txt:  # leading text (a_depth is necessarily 0 here)
        cur.pieces.append(unescape(txt))
    n = len(parts)
    i = 1
    while i < n:
        if parts[i] is None:  # not a comment/doctype (group 1 empty)
            closing = parts[i + 1]  # "/" (truthy) or "" per the regex
            name = parts[i + 2]
            attrs = parts[i + 3]
            info = tag_info.get(name)
            if info is None:
                tag = name.lower()
                info = (tag, _tag_kind(tag))
                # bounded so adversarial name soup can't grow it forever
                if len(tag_info) < 4096:
                    tag_info[name] = info
            tag, kind = info
            # a trailing '/' in the attrs capture is the self-closing
            # marker (token-identical to a separate (/?) group)
            if attrs and attrs[-1] == "/":
                self_closing = True
                attrs = attrs[:-1]
            else:
                self_closing = False

            if skip_tag is not None:
                if closing and tag == skip_tag:
                    skip_tag = None
            elif kind == 0:
                pass  # void/inline/unknown: no block effect
            elif kind == 4:
                # a block boundary ends any unclosed <a>: carrying anchor
                # state across blocks (one missing </a> in a nav —
                # ubiquitous malformed HTML) would count the REST OF THE
                # PAGE as link chars and classify every later block
                # non-content (silent total content loss)
                a_depth = 0
                if not closing:
                    # substring gate: the IGNORECASE regex search on
                    # class-less attrs (the common case) costs ~4x the
                    # `in` probe; .lower() keeps Class=/CLASS= exact
                    if attrs and ("class" in attrs or "class" in attrs.lower()):
                        cm = cls_search(attrs)
                        css = (cm.group(2) or cm.group(3) or cm.group(4)) if cm else ""
                    else:
                        css = ""
                    blk = Block(
                        block_idx=len(blocks),
                        tag=tag,
                        css_class=css or "",
                        depth=len(open_stack),
                        parent_idx=cur.block_idx,
                    )
                    blocks.append(blk)
                    if self_closing:
                        blk.finalize()
                    else:
                        open_stack.append(blk)
                        cur = blk
                else:
                    # close innermost matching open block (tolerate
                    # misnesting)
                    for si in range(len(open_stack) - 1, 0, -1):
                        if open_stack[si].tag == tag:
                            for sj in range(len(open_stack) - 1, si - 1, -1):
                                open_stack[sj].finalize()
                            del open_stack[si:]
                            cur = open_stack[-1]
                            break
            elif kind == 2:
                # HTML5: an <a> start tag implicitly closes any open <a>
                # (they cannot nest), so open == depth 1, not +1
                a_depth = 0 if closing else 1
            elif kind == 3:
                # <br> == emit_text("\n"): unescape is identity and
                # "\n".strip() is empty, so the inline form is the append
                cur.pieces.append("\n")
            else:  # kind == 1: script/style swallow their contents
                if not closing and not self_closing:
                    skip_tag = tag
        txt = parts[i + 4]
        if txt and skip_tag is None:
            # inlined emit_text (hot: every text node)
            t = unescape(txt)
            cur.pieces.append(t)
            if a_depth:
                cur.n_link_chars += len(t.strip())
        i += 5
    while open_stack:
        open_stack.pop().finalize()

    # neighbor smoothing over base labels (single pass, no cascade)
    nonempty = [b for b in blocks if b.n_chars > 0]
    base = [b.is_content for b in nonempty]
    for i, b in enumerate(nonempty):
        if (
            not base[i]
            and 0 < i < len(nonempty) - 1
            and base[i - 1]
            and base[i + 1]
            and b.tag not in NON_CONTENT_TAGS
            and b.link_density <= MAX_LINK_DENSITY
            and b.n_words >= 1
        ):
            b.is_content = True
    return blocks


def extracted_text_of(blocks: list[Block]) -> str:
    return "\n".join(b.text for b in blocks if b.is_content)


# ---------------------------------------------------------------------------
# field-span extraction over the block array (the per-ROI dispatch,
# extract_data.py:156-193, re-expressed as selector matches)
# ---------------------------------------------------------------------------


# the reference's OCR allowlist for data ROIs (ocr/ocr.py:115): characters
# outside '0123456789.,' never reach the number parser. WX applies the same
# char-class restriction before span parsing (SURVEY.md §2.2 P4).
_DATA_ALLOWLIST = frozenset("0123456789.,")


def apply_data_allowlist(text: str) -> str:
    return "".join(c for c in text if c in _DATA_ALLOWLIST)


def _match_selectors(blocks: list[Block], wanted: set) -> dict:
    """One scan -> first matching block per wanted (tag, class-token) key,
    early-exiting once every key is resolved. Covers every selector form
    ExtractionRule.matches accepts: bare tag ('span'), tag.class
    ('span.speed'), class-only ('.speed' — empty tag matches any tag), and
    empty ('' — first block). Only the config's own keys are tracked, so the
    per-block work is a handful of set probes instead of dict inserts for
    every (tag, class) combination on the page."""
    found: dict = {}
    remaining = set(wanted)
    if not remaining:
        return found
    for b in blocks[1:]:
        tag = b.tag
        keys = [(tag, ""), ("", "")]
        css = b.css_class
        if css:
            for token in css.split():
                keys.append((tag, token))
                keys.append(("", token))
        for k in keys:
            if k in remaining:
                found[k] = b
                remaining.discard(k)
        if not remaining:
            break
    return found


def _children(blocks: list[Block], parent: Block) -> list[Block]:
    return [b for b in blocks if b.parent_idx == parent.block_idx]


ZERO_TIME = {"sign": "+", "hours": 0, "minutes": 0, "seconds": 0}


def extract_fields(blocks: list[Block], cfg: RuleConfig, row_idx: int | None,
                   zero_time_met: bool = False) -> dict:
    """Apply all *active* rules (ROI.is_active analog, roi_manager.py:45-53)
    to one page's block array. Returns the nested field dict of
    schema.EXTRACTION_SCHEMA. Fuel is extracted at most once even if several
    fuel rules are active (the fuel_extracted guard, extract_data.py:155)."""
    out: dict = {
        "speed": None,
        "altitude": None,
        "time": None,
        "fuel_lox": None,
        "fuel_ch4": None,
        "engines": None,
        "spans": [],
    }
    fuel_extracted = False
    active = [(rule, parse_selector(rule.selector)) for rule in cfg.get_active_rules(row_idx)]
    index = _match_selectors(blocks, {key for _, key in active})
    for rule, key in active:
        blk = index.get(key)
        if blk is None:
            continue
        if rule.id in ("speed", "altitude"):
            value = extract_single_value(apply_data_allowlist(blk.text))
            if value is not None and rule.measurement_unit:
                value = convert_measurement(value, rule.id, rule.measurement_unit)
            # primary series populates the flat column; every hit is a span
            is_primary = (not cfg.series) or rule.series == cfg.series[0]
            if is_primary and out[rule.id] is None:
                out[rule.id] = value
            out["spans"].append(
                {
                    "rule_id": rule.id,
                    "series": rule.series,
                    "block_idx": blk.block_idx,
                    "raw": blk.text,
                    "value": value,
                }
            )
        elif rule.id == "time":
            if zero_time_met:
                # P12 zero-time short-circuit (extract_data.py:112-115): once
                # T-0 was seen earlier in this batch, emit +00:00:00 without
                # parsing (the reference's per-batch OCR skip)
                if out["time"] is None:
                    out["time"] = dict(ZERO_TIME)
                continue
            regex = rule.measurement_unit or DEFAULT_TIME_REGEX
            t = extract_time(blk.text, regex)
            if out["time"] is None:
                out["time"] = t
            out["spans"].append(
                {
                    "rule_id": "time",
                    "series": rule.series,
                    "block_idx": blk.block_idx,
                    "raw": blk.text,
                    "value": None,
                }
            )
        elif rule.id == "engines":
            lis = [b for b in _children(blocks, blk) if b.tag == "li"]
            bools = [("on" in (b.css_class or "").split()) for b in lis]
            sections: dict[str, list[bool]] = {}
            off = 0
            for section, n in rule.points.items():  # config order — frozen
                sections[section] = bools[off : off + n]
                off += n
            out["engines"] = sections
        elif rule.id == "fuel" and not fuel_extracted:
            fuel_extracted = True
            for child in _children(blocks, blk):
                classes = (child.css_class or "").split()
                if "lox" in classes and out["fuel_lox"] is None:
                    out["fuel_lox"] = extract_single_value(apply_data_allowlist(child.text))
                elif "ch4" in classes and out["fuel_ch4"] is None:
                    out["fuel_ch4"] = extract_single_value(apply_data_allowlist(child.text))
    return out


def extract_page(html_bytes, cfg: RuleConfig, row_idx: int | None,
                 zero_time_met: bool = False) -> dict:
    """One page -> one result dict (never raises; error -> data)."""
    try:
        if html_bytes is None:
            return {"extracted_text": None, "n_blocks": 0, "n_content_blocks": 0,
                    "error": "null html", "spans": [], "speed": None, "altitude": None,
                    "time": None, "fuel_lox": None, "fuel_ch4": None, "engines": None}
        html_text = (
            html_bytes.decode("utf-8", errors="replace")
            if isinstance(html_bytes, (bytes, bytearray, memoryview))
            else str(html_bytes)
        )
        blocks = parse_blocks(html_text)
        fields = extract_fields(blocks, cfg, row_idx, zero_time_met)
        fields["extracted_text"] = extracted_text_of(blocks)
        fields["n_blocks"] = len(blocks) - 1  # exclude virtual root
        fields["n_content_blocks"] = sum(1 for b in blocks if b.is_content)
        fields["error"] = None
        return fields
    except Exception as e:  # row-level error channel (frame_processing.py:41-50)
        return {"extracted_text": None, "n_blocks": 0, "n_content_blocks": 0,
                "error": f"{type(e).__name__}: {e}", "spans": [], "speed": None,
                "altitude": None, "time": None, "fuel_lox": None, "fuel_ch4": None,
                "engines": None}


# ---------------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------------

EXTRACT_OUTPUT_DDL = (
    "url string, warc_ts timestamp, bucket int, partition_id int, "
    "extracted_text string, n_blocks int, n_content_blocks int, "
    "speed double, altitude double, "
    "time struct<sign:string, hours:int, minutes:int, seconds:int>, "
    "fuel_lox double, fuel_ch4 double, "
    "engines map<string, array<boolean>>, "
    "spans array<struct<rule_id:string, series:string, block_idx:int, raw:string, value:double>>, "
    "error string, input_bytes long, proc_seconds double"
)


def url_bucket(url: Column, n_buckets: int) -> Column:
    """The url-hash bucket, pmod(xxhash64(url), n_buckets) as int: uniform
    regardless of host skew. extract_pages stamps it on every result and
    plans.pipeline.with_bucket lays pages out by it."""
    return F.pmod(F.xxhash64(url), F.lit(n_buckets)).cast("int")


def extract_pages(
    pages: DataFrame,
    cfg: RuleConfig | None = None,
    row_idx_col: str | None = "row_idx",
    n_buckets: int = 256,
    zero_time_shortcircuit: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html[, row_idx]) -> extraction results.

    The physical plan this builds (SURVEY.md §4 sketch): column-pruned scan
    -> bucket computation (xxhash64(url) — JVM-side) -> ONE
    `mapInArrow` -> results. Callers wanting skew-safe layout repartition
    via plans.pipeline.bucketed_repartition before this operator.
    """
    spark = pages.sparkSession
    cfg = cfg or __import__(
        "space_launch_telemetry_analyzer_spark.rules", fromlist=["default_config"]
    ).default_config()
    bc = spark.sparkContext.broadcast(cfg)

    has_idx = row_idx_col is not None and row_idx_col in pages.columns
    cols = [
        F.col("url"),
        (F.col("warc_ts") if "warc_ts" in pages.columns else F.lit(None).cast("timestamp")).alias("warc_ts"),
        F.col("html"),
        url_bucket(F.col("url"), n_buckets).alias("bucket"),
    ]
    if has_idx:
        cols.append(F.col(row_idx_col).cast("long").alias("__row_idx"))
    narrow = pages.select(*cols)

    # Arrow-native kernel (mapInArrow): typed pyarrow arrays are built
    # directly, skipping the pandas object-column round trip — the nested
    # output columns (time struct, spans list<struct>, engines map) are
    # ~2-3x cheaper to serialize this way at high core counts.
    import pyarrow as pa

    time_t = pa.struct([("sign", pa.string()), ("hours", pa.int32()),
                        ("minutes", pa.int32()), ("seconds", pa.int32())])
    span_t = pa.list_(pa.struct([
        ("rule_id", pa.string()), ("series", pa.string()), ("block_idx", pa.int32()),
        ("raw", pa.string()), ("value", pa.float64()),
    ]))
    engines_t = pa.map_(pa.string(), pa.list_(pa.bool_()))

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        cfg_local = bc.value  # lazy per-executor init (≅ ocr.py:15-79 singleton)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            htmls = rb.column(rb.schema.get_field_index("html")).to_pylist()
            if has_idx:
                idxs = rb.column(rb.schema.get_field_index("__row_idx")).to_pylist()
            else:
                idxs = [None] * n
            t0 = _time.perf_counter()
            if zero_time_shortcircuit:
                # ST2/P12: `zero_time_met` scoped per Arrow batch, mirroring
                # the reference's per-process-batch flag (batch_processing.py
                # :71-72,124 — each worker batch starts False). Batch-order
                # dependent by design; the deterministic series-scoped form
                # is operators.windows.after_anchor_flag.
                met = False
                results = []
                for h, ix in zip(htmls, idxs):
                    r = extract_page(h, cfg_local, int(ix) if ix is not None else None, met)
                    results.append(r)
                    t = r["time"]
                    if t and t.get("hours") == 0 and t.get("minutes") == 0 and t.get("seconds") == 0:
                        met = True
            else:
                results = [
                    extract_page(h, cfg_local, int(ix) if ix is not None else None)
                    for h, ix in zip(htmls, idxs)
                ]
            per_row = (_time.perf_counter() - t0) / n

            # nested outputs are built from FLATTENED primitive arrays +
            # offsets (ListArray/StructArray/MapArray.from_arrays) — 3-5x
            # cheaper than per-element dict conversion at high core counts
            t_sign, t_h, t_m, t_s, t_valid = [], [], [], [], []
            for r in results:
                tm = r["time"]
                if tm is None:
                    t_valid.append(False)
                    t_sign.append(None); t_h.append(None); t_m.append(None); t_s.append(None)
                else:
                    t_valid.append(True)
                    t_sign.append(tm["sign"]); t_h.append(tm["hours"])
                    t_m.append(tm["minutes"]); t_s.append(tm["seconds"])
            time_arr = pa.StructArray.from_arrays(
                [pa.array(t_sign, pa.string()), pa.array(t_h, pa.int32()),
                 pa.array(t_m, pa.int32()), pa.array(t_s, pa.int32())],
                fields=list(time_t),
                mask=pa.array([not v for v in t_valid], pa.bool_()),
            )

            sp_off = [0]
            sp_rule, sp_series, sp_blk, sp_raw, sp_val = [], [], [], [], []
            for r in results:
                for s in r["spans"]:
                    sp_rule.append(s["rule_id"]); sp_series.append(s["series"])
                    sp_blk.append(s["block_idx"]); sp_raw.append(s["raw"])
                    sp_val.append(s["value"])
                sp_off.append(len(sp_rule))
            span_struct = pa.StructArray.from_arrays(
                [pa.array(sp_rule, pa.string()), pa.array(sp_series, pa.string()),
                 pa.array(sp_blk, pa.int32()), pa.array(sp_raw, pa.string()),
                 pa.array(sp_val, pa.float64())],
                fields=list(span_t.value_type),
            )
            spans_arr = pa.ListArray.from_arrays(pa.array(sp_off, pa.int32()), span_struct)

            eng_off = [0]
            eng_keys: list = []
            eng_item_off = [0]
            eng_bools: list = []
            eng_mask = []
            for r in results:
                eng = r["engines"]
                eng_mask.append(eng is None)
                if eng:
                    for k, bools in eng.items():  # config order — frozen
                        eng_keys.append(k)
                        eng_bools.extend(bools)
                        eng_item_off.append(len(eng_bools))
                eng_off.append(len(eng_keys))
            items = pa.ListArray.from_arrays(
                pa.array(eng_item_off, pa.int32()), pa.array(eng_bools, pa.bool_())
            )
            engines_arr = pa.MapArray.from_arrays(
                pa.array(
                    [None if m else o for o, m in zip(eng_off[:-1], eng_mask)] + [eng_off[-1]],
                    pa.int32(),
                ),
                pa.array(eng_keys, pa.string()),
                items,
            )

            arrays = [
                rb.column(rb.schema.get_field_index("url")),
                rb.column(rb.schema.get_field_index("warc_ts")),
                rb.column(rb.schema.get_field_index("bucket")),
                pa.array([pid] * n, pa.int32()),
                pa.array([r["extracted_text"] for r in results], pa.string()),
                pa.array([r["n_blocks"] for r in results], pa.int32()),
                pa.array([r["n_content_blocks"] for r in results], pa.int32()),
                pa.array([r["speed"] for r in results], pa.float64()),
                pa.array([r["altitude"] for r in results], pa.float64()),
                time_arr,
                pa.array([r["fuel_lox"] for r in results], pa.float64()),
                pa.array([r["fuel_ch4"] for r in results], pa.float64()),
                engines_arr,
                spans_arr,
                pa.array([r["error"] for r in results], pa.string()),
                pa.array([len(h) if h is not None else 0 for h in htmls], pa.int64()),
                pa.array([per_row] * n, pa.float64()),
            ]
            names = ["url", "warc_ts", "bucket", "partition_id", "extracted_text",
                     "n_blocks", "n_content_blocks", "speed", "altitude", "time",
                     "fuel_lox", "fuel_ch4", "engines", "spans", "error",
                     "input_bytes", "proc_seconds"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return narrow.mapInArrow(kernel, schema=EXTRACT_OUTPUT_DDL)
