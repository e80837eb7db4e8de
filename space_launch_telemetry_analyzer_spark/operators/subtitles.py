"""WebVTT / SRT subtitle extraction: video text tracks -> timed cue rows.

The reference pulls TEXT out of VIDEO by OCR-ing frames
(/root/reference/processing/ocr.py); on the web the same information
usually ships as a subtitle/caption track — WebVTT (the HTML5 <track>
format) or SubRip SRT — and a crawl pipeline wants those cues as clean,
timed text rows (video transcripts are prime training data). Pure-python
parsers with the usual row-level error channel:

- WebVTT (W3C): `WEBVTT` header line (optional trailing metadata), blank-
  line-separated cue blocks, optional cue identifier line, a timing line
  `[HH:]MM:SS.mmm --> [HH:]MM:SS.mmm` with optional cue settings after
  the end stamp, payload lines joined by newline, `NOTE`/`STYLE`/`REGION`
  blocks skipped, inline markup tags (<v Speaker>, <i>, <c.cls>, ...)
  stripped.
- SRT: numbered blocks with `HH:MM:SS,mmm --> HH:MM:SS,mmm` timing
  (comma decimal separator); the index line is tolerated missing.

Timestamp arithmetic reuses the engine's time-parse semantics (the P6
hh:mm:ss operator family, functions/parse.py): milliseconds as exact
integers, hours optional in VTT. Malformed cue blocks are SKIPPED and
counted, a malformed FILE (no header for vtt) raises ValueError into the
operator's error channel.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rows import map_rows

_TS = re.compile(
    r"(?:(\d{1,4}):)?(\d{1,2}):(\d{2})[.,](\d{3})"
)
_TIMING = re.compile(
    r"^\s*((?:\d{1,4}:)?\d{1,2}:\d{2}[.,]\d{3})\s*-->\s*"
    r"((?:\d{1,4}:)?\d{1,2}:\d{2}[.,]\d{3})(?:\s+(?:\S.*))?$"
)
_TAG = re.compile(r"</?[^>\n]*>")


def _ts_ms(stamp: str) -> int:
    m = _TS.fullmatch(stamp.strip())
    if not m:
        raise ValueError(f"bad subtitle timestamp {stamp!r}")
    hh = int(m.group(1) or 0)
    return ((hh * 60 + int(m.group(2))) * 60 + int(m.group(3))) * 1000 \
        + int(m.group(4))


def format_ts(ms: int, sep: str = ".") -> str:
    """The inverse of _ts_ms: HH:MM:SS.mmm (WebVTT) or, with sep=",",
    HH:MM:SS,mmm (SubRip)."""
    h, rem = divmod(ms, 3600000)
    m, rem = divmod(rem, 60000)
    s, ms3 = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{ms3:03d}"


def parse_webvtt(text: str) -> dict:
    """WebVTT document -> {"cues": [(index, start_ms, end_ms, text)],
    "n_bad": skipped malformed blocks}. Raises ValueError when the WEBVTT
    header is missing (not a VTT file at all)."""
    norm = text.lstrip("﻿")
    if not norm.startswith("WEBVTT"):
        raise ValueError("not WebVTT: missing WEBVTT header")
    blocks = re.split(r"\r?\n\r?\n+", norm.replace("\r\n", "\n"))
    cues = []
    n_bad = 0
    for block in blocks[1:]:  # block 0 is the header (+ metadata)
        lines = [ln for ln in block.split("\n") if ln.strip() != ""]
        if not lines:
            continue
        if lines[0].startswith(("NOTE", "STYLE", "REGION")):
            continue
        ti = 0 if _TIMING.match(lines[0]) else (
            1 if len(lines) > 1 and _TIMING.match(lines[1]) else None)
        if ti is None:
            n_bad += 1
            continue
        m = _TIMING.match(lines[ti])
        try:
            start, end = _ts_ms(m.group(1)), _ts_ms(m.group(2))
        except ValueError:
            n_bad += 1
            continue
        payload = "\n".join(_TAG.sub("", ln).strip()
                            for ln in lines[ti + 1:]).strip()
        cues.append((len(cues), start, end, payload))
    return {"cues": cues, "n_bad": n_bad}


def parse_srt(text: str) -> dict:
    """SubRip document -> same shape as parse_webvtt. The numeric index
    line is tolerated missing; cue order defines the emitted index."""
    blocks = re.split(r"\r?\n\r?\n+", text.lstrip("﻿").replace("\r\n", "\n"))
    cues = []
    n_bad = 0
    saw_any = False
    for block in blocks:
        lines = [ln for ln in block.split("\n") if ln.strip() != ""]
        if not lines:
            continue
        saw_any = True
        ti = 0 if _TIMING.match(lines[0]) else (
            1 if len(lines) > 1 and _TIMING.match(lines[1]) else None)
        if ti is None:
            n_bad += 1
            continue
        m = _TIMING.match(lines[ti])
        try:
            start, end = _ts_ms(m.group(1)), _ts_ms(m.group(2))
        except ValueError:
            n_bad += 1
            continue
        payload = "\n".join(_TAG.sub("", ln).strip()
                            for ln in lines[ti + 1:]).strip()
        cues.append((len(cues), start, end, payload))
    if not saw_any:
        raise ValueError("empty SRT document")
    return {"cues": cues, "n_bad": n_bad}


SUBTITLE_CUES_DDL = (
    "media_id long, cue_index int, start_ms long, end_ms long, "
    "text string, n_cues int, n_bad int, error string"
)


def subtitle_cues(df: DataFrame, id_col: str, text_col: str,
                  fmt: str = "auto") -> DataFrame:
    """Distributed cue extraction: one (id, subtitle document) row -> one
    row per cue (timed transcript lines), the crawl-side twin of the
    reference's per-frame OCR text stream. `fmt`: 'vtt', 'srt', or 'auto'
    (WEBVTT header decides). Column-prunes before the Python stage;
    per-row parse failures land in `error`; a document with zero valid
    cues still emits one row (cue_index NULL) so ids never vanish."""
    if fmt not in ("auto", "vtt", "srt"):
        raise ValueError("fmt must be auto|vtt|srt")
    narrow = df.select(
        F.col(id_col).alias("media_id"), F.col(text_col).alias("doc"))
    return map_rows(narrow, lambda doc: _cue_rows(doc, fmt), SUBTITLE_CUES_DDL)


def _cue_rows(doc: str | None, fmt: str) -> list:
    if doc is None:
        raise ValueError("null document")
    if fmt == "auto":
        fmt = "vtt" if doc.lstrip("\ufeff").startswith("WEBVTT") else "srt"
    d = parse_webvtt(doc) if fmt == "vtt" else parse_srt(doc)
    cues = d["cues"]
    if not cues:
        return [{"n_cues": 0, "n_bad": d["n_bad"]}]
    return [{"cue_index": ci, "start_ms": s, "end_ms": e, "text": t,
             "n_cues": len(cues), "n_bad": d["n_bad"]}
            for ci, s, e, t in cues]


# --- multi-track language routing (r6) ----------------------------------------

def route_subtitle_tracks(tracks: DataFrame, id_col: str, track_col: str,
                          doc_col: str, preferences: list[str],
                          lang_col: str | None = None) -> DataFrame:
    """A web video commonly ships SEVERAL subtitle tracks (one per
    language — HLS/DASH manifests, <track srclang=...>, YouTube exports);
    a transcript pipeline wants exactly one per video. Pick the best
    track per media by language preference, then extract its cues.

    Language per track: `lang_col` when the crawl recorded it (manifest /
    srclang), else sniffed from the WebVTT header metadata block
    (`Language: xx` — the YouTube-export convention) with a JVM regexp
    over the document head, so the sniff costs no Python. Choice: first
    language in `preferences` present for the media wins; no match (or a
    tie) falls back to the lowest track id — fully deterministic. Only
    the CHOSEN documents enter the Python cue parser.

    Returns one row per cue of the chosen track: (media_id, track_id,
    lang, cue_index, start_ms, end_ms, text, n_cues, n_bad, error);
    zero-cue and unparsable chosen tracks keep their one row via
    subtitle_cues' error-channel contract.

    Scale shape: one (media_id)-keyed window for the choice (uniform
    key), one broadcast-free join of cue rows back to per-media track
    metadata (chosen is ONE row per media). The reference analog is the
    per-camera-feed selection ahead of the OCR stream."""
    if not preferences:
        raise ValueError("preferences must name at least one language")
    # sniff scope = the WebVTT HEADER BLOCK only (everything before the
    # first blank line of a document that starts with WEBVTT, after BOM
    # strip / CRLF fold) — scanning the whole document would let a CUE
    # PAYLOAD line that happens to read "Language: xx" masquerade as the
    # track language (review-caught), and a fixed byte prefix could clip
    # a code mid-value.
    norm = F.regexp_replace(
        F.regexp_replace(F.col(doc_col), "^﻿", ""), "\r\n", "\n")
    header = F.when(F.substring(norm, 1, 6) == "WEBVTT",
                    F.substring_index(norm, "\n\n", 1))
    sniffed = F.nullif(
        F.regexp_extract(header,
                         r"(?m)^Language:[ \t]*([A-Za-z0-9-]+)[ \t]*$", 1),
        F.lit(""))
    t = tracks.select(
        F.col(id_col).alias("media_id"),
        F.col(track_col).alias("track_id"),
        F.col(doc_col).alias("doc"),
        (F.col(lang_col) if lang_col else sniffed).alias("lang"),
    )
    rank = F.array_position(
        F.array(*[F.lit(p) for p in preferences]), F.col("lang"))
    ranked = t.withColumn(
        "__rank", F.when(rank > 0, rank).otherwise(F.lit(1 << 30)))
    w = Window.partitionBy("media_id").orderBy("__rank", "track_id")
    # chosen feeds TWO consumers (the cue parser and the metadata join);
    # checkpoint so the tracks scan + sniff + window run once, and both
    # consumers see the SAME winner (one tiny row per media)
    chosen = (
        ranked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("media_id", "track_id", "lang", "doc")
        .localCheckpoint(eager=False)
    )
    cues = subtitle_cues(chosen, "media_id", "doc")
    return (
        cues.join(chosen.select("media_id", "track_id", "lang"), "media_id")
        .select("media_id", "track_id", "lang", "cue_index", "start_ms",
                "end_ms", "text", "n_cues", "n_bad", "error")
    )
