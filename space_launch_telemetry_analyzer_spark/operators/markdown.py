r"""HTML -> Markdown conversion: the structured-text sink of the
extraction path.

Where `operators.extract` re-expresses the reference's OCR read as a
boilerplate STRIP (keep content text, drop chrome — extract_data.py:138-210),
this operator is the companion CONVERTER a training-data pipeline wants when
the document structure itself is training signal: headings, lists, links,
emphasis, and code fences are preserved as CommonMark instead of flattened
to newline-joined block text. Same lexer (extract._TAG_RE), same
determinism contract (byte-identical markdown per url, golden-pinned).

Frozen conversion spec (exercised by tests/test_markdown.py):

Block elements
- h1..h6        -> '#'*n + ' ' + inline
- p             -> inline paragraph
- ul > li       -> '- ' + inline, one line per item; nested lists indent
                   2 spaces per level, emitted inside the same list block;
                   loose items (<li><p>..</p></li>) merge p/heading
                   children into the item line, other block children
                   render as indented continuation lines
- ol > li       -> '1. ', '2. ', ... (real numbering, per-list counter)
- blockquote    -> children converted, then every line prefixed '> '
- pre           -> fenced code block (```), contents VERBATIM (no entity
                   re-escape, no whitespace collapsing)
- hr            -> '---'
- other block-level tags (div/section/article/main/td/...) are transparent
  grouping: they flush any accumulated inline text as a paragraph
- blocks joined by ONE blank line ('\n\n')

Inline elements
- a[href]       -> [inner](href)      (empty href -> [inner]())
- img[src,alt]  -> ![alt](src)
- strong|b      -> **inner**
- em|i          -> *inner*
- code          -> `inner`  (outside <pre>; inside <pre> tags are literal
                   text already consumed by the lexer, contents kept)
- br            -> hard line break '\n'
- other inline/unknown tags are transparent

Text policy
- entities unescaped ONCE (html.unescape), matching the extract kernel;
- whitespace runs in inline text collapse to a single space and block
  edges are trimmed — EXCEPT inside <pre>, which is verbatim;
- no markdown-metacharacter escaping (frozen: converted corpora keep the
  source bytes; escaping policy belongs to the consumer).

Dropped: <script>/<style>/<head>/<title> contents, comments, doctypes.

Spark surface: `to_markdown_pages` — ONE Arrow mapInArrow pass
(url, html) -> (url, markdown, error); per-row failures land in the error
column (row-level error channel, frame_processing.py:41-50), never a task
failure.
"""

from __future__ import annotations

import html as _html
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import _TAG_RE
from .rows import html_text, map_rows

__all__ = ["html_to_markdown", "to_markdown_pages", "MARKDOWN_OUTPUT_DDL"]

_WS_RE = re.compile(r"\s+")

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
# tags whose contents are dropped entirely (lexer skip, like script/style in
# the extract kernel; head/title added: a converter drops document metadata)
_SKIP_TAGS = frozenset(("script", "style", "head", "title"))
# tags allowed inside <head>: any OTHER opening tag implies </head>
# (HTML5 permits omitting it — review-caught: an unclosed <head>
# swallowed the whole document)
_HEAD_INNER = frozenset(
    "title style script meta link base noscript template".split()
)
_VOID_TAGS = frozenset(
    "br hr img meta link input area base col embed source track wbr".split()
)
# block-level tags with no specific markdown form: transparent paragraph
# boundaries (the extract kernel's BLOCK_TAGS minus the handled ones)
_GROUP_TAGS = frozenset(
    "html body div nav footer header aside main article section table "
    "thead tbody tr td th figure figcaption form button".split()
)  # span is deliberately absent: inline-transparent, not a block boundary

_ATTR_RE = {
    # (?<![\w-]) so data-href / data-src never match as href / src
    # (review-caught: '-' is a \b word boundary)
    name: re.compile(
        r"(?<![\w-])" + name + r"""\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
        re.IGNORECASE,
    )
    for name in ("href", "src", "alt")
}


def _attr(attrs: str, name: str) -> str:
    if not attrs or name not in attrs and name not in attrs.lower():
        return ""
    m = _ATTR_RE[name].search(attrs)
    if not m:
        return ""
    return _html.unescape(m.group(2) or m.group(3) or m.group(4) or "")


class _Node:
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: str):
        self.tag = tag
        self.attrs = attrs
        self.children: list = []  # _Node | str (text runs)


def _parse_tree(html_text: str) -> _Node:
    """Lex with the extract kernel's _TAG_RE and build a tolerant DOM tree:
    unknown closes are ignored, misnested closes close the innermost
    matching ancestor, EOF closes everything. Comments/doctypes dropped;
    _SKIP_TAGS swallow their contents."""
    root = _Node("", "")
    stack = [root]
    skip_tag: str | None = None
    parts = _TAG_RE.split(html_text)
    txt = parts[0]
    if txt:
        root.children.append(txt)
    n = len(parts)
    i = 1
    while i < n:
        if parts[i] is None:  # a real tag (group 1 = comment/doctype empty)
            closing = parts[i + 1]
            tag = parts[i + 2].lower()
            attrs = parts[i + 3] or ""
            # a trailing '/' is a self-closing marker only when it can't
            # belong to an unquoted attribute value (HTML5: after
            # whitespace or a quoted value; review-caught: href=/docs/
            # lost its children and its trailing slash)
            if attrs and attrs[-1] == "/" and (
                    len(attrs) == 1 or attrs[-2] in " \t\n\r\"'"):
                self_closing = True
                attrs = attrs[:-1]
            else:
                self_closing = False
            if (skip_tag == "head" and not closing
                    and tag not in _HEAD_INNER):
                skip_tag = None  # HTML5 implied </head>
            if skip_tag is not None:
                if closing and tag == skip_tag:
                    skip_tag = None
            elif tag in _SKIP_TAGS:
                if not closing and not self_closing:
                    skip_tag = tag
            elif closing:
                for si in range(len(stack) - 1, 0, -1):
                    if stack[si].tag == tag:
                        del stack[si:]
                        break
            else:
                # HTML5 li/p auto-close a same-tag open parent
                if tag in ("li", "p") and stack[-1].tag == tag:
                    stack.pop()
                # HTML5 table-element auto-close: a new <tr> closes any
                # open cell/row; a new <td>/<th> closes an open cell
                elif tag == "tr":
                    while len(stack) > 1 and stack[-1].tag in ("td", "th", "tr"):
                        stack.pop()
                elif tag in ("td", "th"):
                    while len(stack) > 1 and stack[-1].tag in ("td", "th"):
                        stack.pop()
                node = _Node(tag, attrs)
                stack[-1].children.append(node)
                if not self_closing and tag not in _VOID_TAGS:
                    stack.append(node)
        txt = parts[i + 4]
        if txt and skip_tag is None:
            stack[-1].children.append(txt)
        i += 5
    return root


def _verbatim_text(node: _Node) -> str:
    """Raw text of a subtree (for <pre>): entities unescaped, tags inside
    (e.g. <code>) transparent, <br> -> newline, whitespace untouched."""
    out: list = []
    for ch in node.children:
        if isinstance(ch, str):
            out.append(_html.unescape(ch))
        elif ch.tag == "br":
            out.append("\n")
        else:
            out.append(_verbatim_text(ch))
    return "".join(out)


def _render_inline(children: list) -> str:
    """Inline rendering with whitespace collapsed to single spaces. Hard
    breaks (<br>) survive as '\n' (protected through the collapse via a
    sentinel that no unescaped text can contain: \x00)."""
    out: list = []
    for ch in children:
        if isinstance(ch, str):
            out.append(_html.unescape(ch))
            continue
        tag = ch.tag
        if tag == "br":
            out.append("\x00")
        elif tag == "img":
            out.append(
                "![%s](%s)" % (_attr(ch.attrs, "alt"), _attr(ch.attrs, "src"))
            )
        elif tag == "a":
            inner = _render_inline(ch.children).strip()
            out.append("[%s](%s)" % (inner, _attr(ch.attrs, "href")))
        elif tag in ("strong", "b"):
            inner = _render_inline(ch.children).strip()
            out.append("**%s**" % inner if inner else "")
        elif tag in ("em", "i"):
            inner = _render_inline(ch.children).strip()
            out.append("*%s*" % inner if inner else "")
        elif tag == "code":
            inner = _render_inline(ch.children).strip()
            out.append("`%s`" % inner if inner else "")
        else:  # transparent inline/unknown (span, u, small, ...)
            out.append(_render_inline(ch.children))
    collapsed = _WS_RE.sub(" ", "".join(out))
    return collapsed.replace("\x00", "\n")


def _is_blockish(node) -> bool:
    return not isinstance(node, str) and (
        node.tag in _HEADINGS
        or node.tag
        in ("p", "ul", "ol", "li", "blockquote", "pre", "hr")
        or node.tag in _GROUP_TAGS
    )


def _render_list(node: _Node, ordered: bool, depth: int, lines: list) -> None:
    counter = 0
    for ch in node.children:
        if isinstance(ch, str) or ch.tag != "li":
            # stray non-li children inside a list: nested lists recurse at
            # the same depth (common malformed pattern), other junk dropped
            if not isinstance(ch, str) and ch.tag in ("ul", "ol"):
                _render_list(ch, ch.tag == "ol", depth + 1, lines)
            continue
        counter += 1
        # loose-list support (review-caught: <li><p>text</p></li> lost
        # its text): p/heading children merge into the item line; other
        # block children (pre/blockquote/groups) render as indented
        # continuation lines; nested lists recurse.
        line_parts: list = []
        inline_run: list = []
        tail_blocks: list = []
        nested: list = []
        for k in ch.children:
            if not _is_blockish(k):
                inline_run.append(k)
            elif k.tag in ("ul", "ol"):
                nested.append(k)
            elif k.tag == "p" or k.tag in _HEADINGS:
                t = _render_inline(inline_run).strip()
                if t:
                    line_parts.append(t)
                inline_run = []
                t = _render_inline(
                    [c for c in k.children if not _is_blockish(c)]).strip()
                if t:
                    line_parts.append(t)
            else:
                _render_blocks(_wrap(k), tail_blocks)
        t = _render_inline(inline_run).strip()
        if t:
            line_parts.append(t)
        text = " ".join(line_parts)
        marker = ("%d. " % counter) if ordered else "- "
        lines.append("  " * depth + marker + text)
        indent = "  " * (depth + 1)
        for blk in tail_blocks:
            lines.extend(indent + ln for ln in blk.split("\n"))
        for sub in nested:
            _render_list(sub, sub.tag == "ol", depth + 1, lines)


def _render_blocks(node: _Node, blocks: list) -> None:
    """Walk children of a grouping node: inline runs accumulate into an
    implicit paragraph flushed at each block boundary; block elements emit
    their markdown form."""
    inline_run: list = []

    def flush() -> None:
        if inline_run:
            text = _render_inline(inline_run).strip()
            if text:
                blocks.append(text)
            inline_run.clear()

    for ch in node.children:
        if not _is_blockish(ch):
            inline_run.append(ch)
            continue
        flush()
        tag = ch.tag
        if tag in _HEADINGS:
            text = _render_inline(ch.children).strip()
            blocks.append("#" * _HEADINGS[tag] + " " + text)
        elif tag == "p":
            text = _render_inline(
                [k for k in ch.children if not _is_blockish(k)]
            ).strip()
            if text:
                blocks.append(text)
            for sub in ch.children:  # block children of a malformed <p>
                if _is_blockish(sub):
                    _render_blocks(_wrap(sub), blocks)
        elif tag in ("ul", "ol"):
            lines: list = []
            _render_list(ch, tag == "ol", 0, lines)
            if lines:
                blocks.append("\n".join(lines))
        elif tag == "blockquote":
            inner: list = []
            _render_blocks(ch, inner)
            if inner:
                quoted = "\n\n".join(inner)
                blocks.append(
                    "\n".join("> " + ln if ln else ">" for ln in quoted.split("\n"))
                )
        elif tag == "pre":
            body = _verbatim_text(ch)
            # frozen fence policy: strip ONE leading and trailing newline
            # (the conventional <pre>\n...\n</pre> authoring form)
            if body.startswith("\n"):
                body = body[1:]
            if body.endswith("\n"):
                body = body[:-1]
            blocks.append("```\n" + body + "\n```")
        elif tag == "hr":
            blocks.append("---")
        elif tag == "li":  # stray li outside a list: render as a bullet
            blocks.append("- " + _render_inline(ch.children).strip())
        else:  # grouping tag: recurse transparently
            _render_blocks(ch, blocks)
    flush()


def _wrap(node: _Node) -> _Node:
    w = _Node("", "")
    w.children = [node]
    return w


def html_to_markdown(html_text: str) -> str:
    """Convert one HTML string to CommonMark per the frozen spec above."""
    tree = _parse_tree(html_text)
    blocks: list = []
    _render_blocks(tree, blocks)
    return "\n\n".join(blocks)


# ---------------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------------

MARKDOWN_OUTPUT_DDL = "url string, markdown string, error string"


def to_markdown_pages(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html) -> (url, markdown, error).

    ONE Arrow mapInArrow pass (the conversion is pure Python string work —
    the same hot-path budget as the extract kernel); everything upstream
    stays a column-pruned JVM scan. Per-row failures are data, not task
    failures."""
    narrow = pages.select("url", F.col(html_col).alias("html"))
    return map_rows(narrow, _markdown_row, MARKDOWN_OUTPUT_DDL)


def _markdown_row(h) -> list:
    if h is None:
        return [{"error": "null html"}]
    return [{"markdown": html_to_markdown(html_text(h))}]
