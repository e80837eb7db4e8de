r"""HTML table extraction: <table> structure -> relational rows.

The extract kernel strips tables as boilerplate-adjacent chrome and the
markdown converter treats table tags as transparent grouping
(operators/markdown.py _GROUP_TAGS) — but a training-data pipeline often
wants tables AS DATA (tabular pretraining corpora, table-QA sets,
structured fact extraction). This operator walks the same tolerant DOM
the converter builds (markdown._parse_tree — one lexer for the whole
HTML path) and emits one output row per table row:

    (url, table_idx, row_idx, is_header, cells, error)

- tables are numbered in document order (DFS);
- rows are every <tr> in the table subtree (thead/tbody/tfoot are
  transparent), in document order;
- cells are the <td>/<th> children of the row, inline-rendered with the
  converter's whitespace-collapsed text policy (entities unescaped once,
  tags like <b>/<a> reduced to their text);
- is_header marks rows whose cells are ALL <th> (and at least one);
- nested tables: the inner table is its OWN table_idx (DFS order), and
  its text does not leak into the outer cell (frozen);
- malformed rows (td outside tr, tr outside table) follow the tolerant
  DOM: the lexer's auto-recovery places them; rows with zero cells are
  dropped.

Spark surface: ONE Arrow mapInArrow pass; per-row failures land in the
error column, never a task failure. A page with no tables emits zero
rows (use a left join against the source to find table-free pages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import html as _html

from .markdown import _WS_RE, _Node, _attr, _parse_tree
from .rows import html_text, map_rows

__all__ = ["extract_html_tables", "html_tables", "TABLES_OUTPUT_DDL"]

TABLES_OUTPUT_DDL = ("url string, table_idx int, row_idx int, "
                     "is_header boolean, cells array<string>, error string")


def _collect_tables(node: _Node, out: list) -> None:
    """DFS over the DOM collecting table nodes in document order
    (a nested table is appended after its ancestor — DFS preorder)."""
    for ch in node.children:
        if isinstance(ch, str):
            continue
        if ch.tag == "table":
            out.append(ch)
        _collect_tables(ch, out)


def _collect_rows(node: _Node, rows: list) -> None:
    """Every <tr> in the subtree, skipping nested tables (they are their
    own table_idx)."""
    for ch in node.children:
        if isinstance(ch, str) or ch.tag == "table":
            continue
        if ch.tag == "tr":
            rows.append(ch)
        else:
            _collect_rows(ch, rows)


def _cell_text(children: list, parts: list) -> None:
    """Plain-text cell rendering: markup reduced to its text (a/b/em/
    code transparent, img -> alt, br -> space), entities unescaped once,
    nested tables excluded; whitespace collapsed by the caller."""
    for ch in children:
        if isinstance(ch, str):
            parts.append(_html.unescape(ch))
        elif ch.tag == "table":
            continue
        elif ch.tag == "br":
            parts.append(" ")
        elif ch.tag == "img":
            parts.append(_attr(ch.attrs, "alt"))
        else:
            _cell_text(ch.children, parts)


def _row_cells(tr: _Node) -> tuple[list, bool]:
    cells: list = []
    tags: list = []
    for ch in tr.children:
        if isinstance(ch, str) or ch.tag not in ("td", "th"):
            continue
        parts: list = []
        _cell_text(ch.children, parts)
        cells.append(_WS_RE.sub(" ", "".join(parts)).strip())
        tags.append(ch.tag)
    is_header = bool(tags) and all(t == "th" for t in tags)
    return cells, is_header


def html_tables(html_text: str) -> list:
    """[(table_idx, row_idx, is_header, cells), ...] for one document."""
    tables: list = []
    _collect_tables(_parse_tree(html_text), tables)
    out: list = []
    for t_idx, t in enumerate(tables):
        rows: list = []
        _collect_rows(t, rows)
        r_idx = 0
        for tr in rows:
            cells, is_header = _row_cells(tr)
            if not cells:
                continue
            out.append((t_idx, r_idx, is_header, cells))
            r_idx += 1
    return out


def extract_html_tables(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, html) -> one row per table row (see module docstring)."""
    narrow = pages.select("url", F.col(html_col).alias("html"))
    return map_rows(narrow, _table_rows, TABLES_OUTPUT_DDL)


def _table_rows(h) -> list:
    if h is None:
        return [{"error": "null html"}]
    return [{"table_idx": t_idx, "row_idx": r_idx, "is_header": is_h,
             "cells": cells}
            for t_idx, r_idx, is_h, cells in html_tables(html_text(h))]
