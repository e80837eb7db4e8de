"""WARC ingestion: Common-Crawl archive files -> PAGES_SCHEMA rows.

The real-input analog of the reference's media download boundary (S6,
download/downloader.py:10-120): where the reference fetches a video and
hands frames to the kernel, a web corpus arrives as WARC archives (ISO
28500 — the format Common Crawl publishes) and hands pages to the kernel.
`load_pages` covers parquet/JSONL exports; this module reads the archives
themselves, pure-Python (the format is line-oriented headers + counted
content blocks; gzip is stdlib — no external parser needed in-sandbox).

Scale shape: one task per WARC file via Spark's binaryFile source — the
standard unit (a crawl is tens of thousands of ~1 GB files, so file-level
parallelism saturates any cluster; a single file parses sequentially by
design because gzip members chain). Memory is bounded: records STREAM out
of an incremental reader (the gzip stream is never fully materialized —
GzipFile decompresses on demand) and rows leave the kernel in fixed-size
pandas chunks, so peak per-task memory is the compressed file (binaryFile
hands it as one bytes value; note binaryFile also caps files at 2 GB) plus
one records chunk — not compressed + decompressed + all rows at once.
Malformed records go to the ERROR CHANNEL (per-record error rows), never
task failures — same contract as the extraction kernel.
"""

from __future__ import annotations

import gzip
import io
import re
from typing import BinaryIO, Iterator

from pyspark.sql import DataFrame, SparkSession

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"
_MAX_HEADER = 64 * 1024  # a sane bound; real WARC headers are < 1 KB


def _open_stream(raw: bytes) -> BinaryIO:
    """File-like view of a WARC byte string; gzip (possibly concatenated
    members — GzipFile reads them all, incrementally) or plain."""
    buf = io.BytesIO(raw)
    if raw[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=buf)  # type: ignore[return-value]
    return buf


def _read_until_header_end(f: BinaryIO) -> bytes | None:
    """Read up to and including CRLFCRLF; None on clean EOF before any data.
    Leading inter-record CRLFs are skipped."""
    chunks = bytearray()
    while True:
        line = f.readline()
        if not line:
            return bytes(chunks) if chunks else None
        if not chunks and line in (_CRLF, b"\n"):
            continue  # inter-record blank lines
        chunks += line
        if chunks.endswith(_HDR_END):
            return bytes(chunks)
        if len(chunks) > _MAX_HEADER:
            return bytes(chunks)  # caller flags it as malformed


def iter_warc_records_stream(f: BinaryIO) -> Iterator[dict]:
    """Parse a WARC stream incrementally into records.

    Yields dicts: {"headers": {name_lower: value}, "content": bytes,
    "error": str | None}. A malformed header block or short content yields
    one error record and parsing stops (the remaining stream can't be
    framed without a valid Content-Length)."""
    while True:
        hdr = _read_until_header_end(f)
        if hdr is None:
            return
        if not hdr.endswith(_HDR_END):
            yield {"headers": {}, "content": b"",
                   "error": "unterminated or oversized header block"}
            return
        lines = hdr[: -len(_HDR_END)].split(_CRLF)
        if not lines or not lines[0].startswith(b"WARC/"):
            yield {"headers": {}, "content": b"",
                   "error": "missing WARC/ version line"}
            return
        headers: dict[str, str] = {}
        for line in lines[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1")
                )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            yield {"headers": headers, "content": b"",
                   "error": "bad/missing Content-Length"}
            return
        content = f.read(length)
        if len(content) < length:
            yield {"headers": headers, "content": b"",
                   "error": f"truncated record: wanted {length} bytes, got {len(content)}"}
            return
        yield {"headers": headers, "content": content, "error": None}


def iter_warc_records(raw: bytes) -> Iterator[dict]:
    """Bytes-level convenience wrapper over iter_warc_records_stream
    (accepts plain records; gzip handled by warc_pages/_open_stream)."""
    return iter_warc_records_stream(io.BytesIO(raw))


def http_body_of(content: bytes) -> bytes:
    """Payload of an application/http response record: strip the HTTP status
    line + headers. A record with no header/body split is returned whole
    (some writers store bare payloads)."""
    split = content.find(_HDR_END)
    if split >= 0 and content[:5] in (b"HTTP/",):
        return content[split + len(_HDR_END):]
    return content


_HTTP_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?([A-Za-z0-9_\-]+)""", re.IGNORECASE
)


def http_charset_of(content: bytes) -> str | None:
    """Charset label from the HTTP `Content-Type: ...; charset=X` header of
    an application/http response record, lowercased; None when the record
    has no HTTP envelope or the header names none. WHATWG ranks this ABOVE
    in-document `<meta charset>` (operators.charset honors that order)."""
    split = content.find(_HDR_END)
    if split < 0 or content[:5] != b"HTTP/":
        return None
    for line in content[:split].split(_CRLF)[1:]:
        k, sep, v = line.partition(b":")
        if sep and k.strip().lower() == b"content-type":
            m = _HTTP_CHARSET_RE.search(v)
            if m:
                return m.group(1).decode("ascii", "ignore").lower()
    return None


def warc_pages(raw: bytes) -> Iterator[dict]:
    """response-type records of one WARC file (plain or gzipped) -> page
    dicts (url, warc_ts iso string, html bytes, http_charset, error).
    Streams — the decompressed archive is never held whole."""
    for rec in iter_warc_records_stream(_open_stream(raw)):
        if rec["error"] is not None:
            yield {"url": None, "warc_ts": None, "html": None,
                   "http_charset": None, "error": rec["error"]}
            continue
        h = rec["headers"]
        if h.get("warc-type") != "response":
            continue  # request/metadata/warcinfo records carry no page
        url = h.get("warc-target-uri")
        if not url:
            yield {"url": None, "warc_ts": None, "html": None,
                   "http_charset": None,
                   "error": "response record without WARC-Target-URI"}
            continue
        yield {"url": url, "warc_ts": h.get("warc-date"),
               "html": http_body_of(rec["content"]),
               "http_charset": http_charset_of(rec["content"]), "error": None}


def load_warc(
    spark: SparkSession, path: str, rows_per_chunk: int = 2000
) -> DataFrame:
    """WARC file(s) -> DataFrame(url, warc_ts timestamp, html binary,
    http_charset, source_file, error). One task per file (binaryFile
    source); records stream through a single mapInPandas stage in
    `rows_per_chunk`-row chunks, bounding peak memory per task. Filter
    `error IS NULL` before extraction; error rows carry the parse
    diagnostic and file. `http_charset` is the HTTP Content-Type header's
    charset label (ranked above `<meta charset>` by WHATWG — pass it to
    operators.charset.decode_html via header_charset_col)."""
    import pandas as pd

    from pyspark.sql import functions as F

    def parse(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        def flush(rows):
            return pd.DataFrame(rows, columns=[
                "url", "warc_ts", "html", "http_charset", "source_file",
                "error"])

        for pdf in pdfs:
            for path_, content in zip(pdf["path"], pdf["content"]):
                rows: list = []
                try:
                    for p in warc_pages(bytes(content)):
                        rows.append((p["url"], p["warc_ts"], p["html"],
                                     p["http_charset"], path_, p["error"]))
                        if len(rows) >= rows_per_chunk:
                            yield flush(rows)
                            rows = []
                except Exception as e:  # error channel, never task failure
                    rows.append((None, None, None, None, path_,
                                 f"{type(e).__name__}: {e}"))
                if rows:
                    yield flush(rows)

    raw = spark.read.format("binaryFile").load(path).select("path", "content")
    parsed = raw.mapInPandas(
        parse,
        schema="url string, warc_ts string, html binary, "
               "http_charset string, source_file string, error string",
    )
    return parsed.withColumn("warc_ts", F.to_timestamp("warc_ts"))


def write_warc(
    df: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    gzip_records: bool = True,
    cdx: bool = False,
) -> None:
    """pages -> WARC archive files, one file per partition (the crawl
    layout: a corpus is many ~independent archive files). Response records
    carry an HTTP envelope and per-record gzip members (the Common Crawl
    convention), so the output round-trips through `load_warc` and is
    readable by any standard WARC consumer. WARC-Date is rendered in UTC
    regardless of the session timezone; WARC-Record-IDs are proper urn:uuid
    values, unique per record (uuid5 over url|date|partition|ordinal — so
    re-fetches of one url get distinct ids, deterministically).

    Distributed end to end: each task STREAMS its partition's records to a
    temp file as they are produced (peak task memory = one record, not the
    partition) and renames it into place — no driver collect, no shuffle,
    no truncated archives on task failure. The temp name carries the task
    ATTEMPT id, so speculative/retried attempts of one partition never
    clobber each other's in-progress file; the atomic rename makes
    last-finisher-wins safe (both attempts serialize identical content).
    Pre-existing part files in the target directory are removed first so a
    re-run with fewer partitions cannot leave a silent mix of old and new
    archives. NOTE: `path` must be a filesystem shared between driver and
    executors (local mode, NFS, or a fuse mount) — this writer opens plain
    files; for object stores, write parquet via ResultStore instead.

    With `cdx=True` each archive gets a sibling part-NNNNN.cdx index file
    (the Common Crawl random-access convention): one space-delimited line
    per record — `urlkey timestamp14 url sha1hex offset length filename` —
    where urlkey is the JVM-computed SURT key, offset/length are the BYTE
    span of the record's gzip member (or the raw record when
    `gzip_records=False`), and sha1hex digests the HTTP payload. Lines are
    sorted by urlkey WITHIN each file (binary-search-ready per shard, the
    cluster.idx layout; range-partition by surt upstream for a global
    order). Index lines accumulate in memory — they are ~100 bytes/record
    while records stream, so peak task memory stays bounded by the index,
    not the archive. Per-record gzip members are what make the (offset,
    length) span independently decompressible; `load_cdx` + `cdx_fetch`
    consume it back."""
    import os
    import uuid as _uuid

    from pyspark.sql import functions as F

    from ..operators.text_analysis import surt_key

    os.makedirs(path, exist_ok=True)
    for stale in os.listdir(path):
        if stale.startswith("part-") and (".warc" in stale or ".cdx" in stale):
            os.remove(os.path.join(path, stale))

    # render the WARC-Date wall clock in UTC independent of session tz:
    # to_utc_timestamp shifts the instant by the session offset so that
    # date_format (which renders in session tz) prints the UTC wall time
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    narrow = df.select(
        F.col(url_col).alias("url"),
        F.date_format(
            F.to_utc_timestamp(F.col(ts_col), session_tz),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("ts"),
        F.col(html_col).cast("binary").alias("html"),
        *([surt_key(F.col(url_col)).alias("urlkey")] if cdx else []),
    )

    def write_partition(it):
        import hashlib as _hashlib

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        suffix = ".warc.gz" if gzip_records else ".warc"
        fname = f"part-{pid:05d}{suffix}"
        target = os.path.join(path, fname)
        tmp = f"{target}.inprogress-{ctx.taskAttemptId()}"
        cdx_target = os.path.join(path, f"part-{pid:05d}.cdx")
        cdx_tmp = f"{cdx_target}.inprogress-{ctx.taskAttemptId()}"
        f = None
        offset = 0
        cdx_lines: list = []
        try:
            for i, row in enumerate(it):
                payload = row.html or b""
                body = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + payload
                )
                rec_id = _uuid.uuid5(
                    _uuid.NAMESPACE_URL,
                    f"{row.url or ''}|{row.ts or ''}|{pid}|{i}",
                )
                headers = (
                    b"WARC/1.0\r\n"
                    b"WARC-Type: response\r\n"
                    b"WARC-Record-ID: <urn:uuid:" + str(rec_id).encode() + b">\r\n"
                    b"WARC-Target-URI: " + (row.url or "").encode() + b"\r\n"
                    b"WARC-Date: " + (row.ts or "").encode() + b"\r\n"
                    b"Content-Type: application/http; msgtype=response\r\n"
                    b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
                )
                record = headers + body + b"\r\n\r\n"
                if f is None:  # empty partitions write no file
                    f = open(tmp, "wb")
                data = gzip.compress(record) if gzip_records else record
                f.write(data)
                if cdx:
                    if row.url and (" " in row.url or "\n" in row.url):
                        # the 7-field index is space-delimited; fail fast at
                        # write time instead of corrupting load_cdx's split
                        raise ValueError(
                            f"cdx=True requires space-free urls (canonicalize "
                            f"upstream): {row.url!r}"
                        )
                    ts14 = re.sub(r"[^0-9]", "", row.ts or "")
                    cdx_lines.append(
                        f"{row.urlkey} {ts14} {row.url} "
                        f"{_hashlib.sha1(payload).hexdigest()} "
                        f"{offset} {len(data)} {fname}\n"
                    )
                offset += len(data)
            if f is not None:
                f.close()
                f = None
                os.replace(tmp, target)  # archive first: an index must
                if cdx:                  # never reference a missing file
                    cdx_lines.sort()
                    with open(cdx_tmp, "w") as cf:
                        cf.writelines(cdx_lines)
                    os.replace(cdx_tmp, cdx_target)
        finally:
            if f is not None:
                f.close()
            # failed mid-write: drop whatever partial temps remain (after a
            # clean finish both were atomically renamed away — no-op then)
            for partial in (tmp, cdx_tmp):
                if os.path.exists(partial):
                    os.remove(partial)
        return iter(())

    # mapPartitions is the sanctioned last resort here: the unit of work IS
    # the partition->file mapping (SURVEY custom-operator ladder (c))
    narrow.rdd.mapPartitions(write_partition).count()


CDX_SCHEMA = (
    "urlkey string, ts14 string, url string, sha1 string, "
    "offset long, length long, filename string"
)


def load_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX index files -> DataFrame. One row per archived record:
    (urlkey, ts14, url, sha1, offset, length, filename) — the 7-field
    space-delimited layout write_warc(cdx=True) emits (urls are
    space-free by construction in WARC-Target-URI). Pure JVM split;
    filename is re-anchored to `path` so downstream fetches need no
    driver-side directory knowledge."""
    import os

    from pyspark.sql import functions as F

    lines = spark.read.text(os.path.join(path, "*.cdx"))
    p = F.split(F.col("value"), " ")
    return lines.select(
        p[0].alias("urlkey"), p[1].alias("ts14"), p[2].alias("url"),
        p[3].alias("sha1"),
        p[4].cast("long").alias("offset"), p[5].cast("long").alias("length"),
        F.concat(F.lit(os.path.join(path, "")), p[6]).alias("filename"),
    )


def cdx_fetch(cdx: DataFrame) -> DataFrame:
    """Random-access record fetch driven by a CDX index — the consumer
    side of the Common Crawl layout: seek(offset), read(length),
    per-member gunzip, parse ONE record, verify. Adds (fetched_url,
    payload_sha1, n_bytes, ok, error) to the index columns; ok means the
    span decoded to exactly one well-formed record whose WARC-Target-URI
    and payload digest match the index line. Runs as mapInPandas over
    index rows — each task touches only its rows' byte spans, never whole
    archives, which is precisely why CDX exists at 100 TB: a point lookup
    costs one seek + one record, not an archive scan. Archive files must
    be reachable from executors (same contract as write_warc)."""
    import hashlib as _hashlib

    from pyspark.sql import functions as F  # noqa: F401

    _cols = ["urlkey", "ts14", "url", "sha1", "offset", "length", "filename"]

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            # mapInPandas matches the declared schema POSITIONALLY: pin the
            # index-column order so a reordered/extended input cannot
            # silently swap string columns (missing columns KeyError loudly)
            pdf = pdf[_cols]
            fetched, sha, nb, ok, err = [], [], [], [], []
            for row in pdf.itertuples(index=False):
                try:
                    with open(row.filename, "rb") as f:
                        f.seek(int(row.offset))
                        data = f.read(int(row.length))
                    if len(data) != int(row.length):
                        raise ValueError("short read")
                    if row.filename.endswith(".gz"):
                        data = gzip.decompress(data)
                    recs = list(iter_warc_records(data))
                    if len(recs) != 1 or recs[0].get("error"):
                        raise ValueError(
                            f"span held {len(recs)} records: "
                            f"{recs[0].get('error') if recs else 'empty'}"
                        )
                    payload = http_body_of(recs[0]["content"])
                    digest = _hashlib.sha1(payload).hexdigest()
                    u = recs[0]["headers"].get("warc-target-uri", "")
                    fetched.append(u)
                    sha.append(digest)
                    nb.append(len(payload))
                    ok.append(u == row.url and digest == row.sha1)
                    err.append(None)
                except Exception as e:  # noqa: BLE001 - row-level channel
                    fetched.append(None); sha.append(None); nb.append(None)
                    ok.append(False)
                    err.append(f"{type(e).__name__}: {e}")
            out = pdf.copy()
            out["fetched_url"] = fetched
            out["payload_sha1"] = sha
            out["n_bytes"] = nb
            out["ok"] = ok
            out["error"] = err
            yield out

    return cdx.mapInPandas(
        kernel,
        CDX_SCHEMA + ", fetched_url string, payload_sha1 string, "
        "n_bytes long, ok boolean, error string",
    )


def write_wet(
    df: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    gzip_records: bool = True,
) -> None:
    """Extracted-text sidecar in the Common Crawl WET convention: one
    WARC `conversion` record per page, payload = the UTF-8 extracted text
    (no HTTP envelope — WET records carry bare text), per-record gzip
    members, one file per partition (part-NNNNN.warc.wet[.gz]). Same
    distributed streaming/atomic-rename/attempt-safety contract as
    write_warc. Reads back through load_wet. Use a SEPARATE directory
    from write_warc: its stale-file sweep matches any part-*.warc* name
    and would remove sidecars sharing the directory (CC keeps
    warc/ and wet/ apart too)."""
    _write_sidecar_records(df, path, url_col, ts_col, text_col,
                           gzip_records, kind="wet",
                           rec_type=b"conversion",
                           content_type=b"text/plain")


def write_wat(
    df: DataFrame,
    path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    json_col: str = "meta_json",
    gzip_records: bool = True,
) -> None:
    """Per-page metadata sidecar in the Common Crawl WAT convention: one
    WARC `metadata` record per page, payload = a JSON document (CC nests
    envelope metadata there; this writer takes the caller's JSON string —
    typically `F.to_json(F.struct(...))` over page_metadata output).
    Files are part-NNNNN.warc.wat[.gz]; same contract and separate-
    directory caveat as write_wet. Reads back through load_wat."""
    _write_sidecar_records(df, path, url_col, ts_col, json_col,
                           gzip_records, kind="wat",
                           rec_type=b"metadata",
                           content_type=b"application/json")


def _write_sidecar_records(df, path, url_col, ts_col, payload_col,
                           gzip_records, kind, rec_type, content_type):
    """Shared WET/WAT writer body: simple envelope-less records, streamed
    per partition with atomic renames (see write_warc for the contract)."""
    import os
    import uuid as _uuid

    from pyspark.sql import functions as F

    os.makedirs(path, exist_ok=True)
    for stale in os.listdir(path):
        if stale.startswith("part-") and f".warc.{kind}" in stale:
            os.remove(os.path.join(path, stale))

    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    narrow = df.select(
        F.col(url_col).alias("url"),
        F.date_format(
            F.to_utc_timestamp(F.col(ts_col), session_tz),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("ts"),
        F.col(payload_col).cast("string").alias("payload"),
    )

    def write_partition(it):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        suffix = f".warc.{kind}.gz" if gzip_records else f".warc.{kind}"
        target = os.path.join(path, f"part-{pid:05d}{suffix}")
        tmp = f"{target}.inprogress-{ctx.taskAttemptId()}"
        f = None
        try:
            for i, row in enumerate(it):
                body = (row.payload or "").encode("utf-8")
                rec_id = _uuid.uuid5(
                    _uuid.NAMESPACE_URL,
                    f"{kind}|{row.url or ''}|{row.ts or ''}|{pid}|{i}",
                )
                headers = (
                    b"WARC/1.0\r\n"
                    b"WARC-Type: " + rec_type + b"\r\n"
                    b"WARC-Record-ID: <urn:uuid:" + str(rec_id).encode() + b">\r\n"
                    b"WARC-Target-URI: " + (row.url or "").encode() + b"\r\n"
                    b"WARC-Date: " + (row.ts or "").encode() + b"\r\n"
                    b"Content-Type: " + content_type + b"\r\n"
                    b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
                )
                record = headers + body + b"\r\n\r\n"
                if f is None:
                    f = open(tmp, "wb")
                f.write(gzip.compress(record) if gzip_records else record)
            if f is not None:
                f.close()
                f = None
                os.replace(tmp, target)
        finally:
            if f is not None:
                f.close()
            if os.path.exists(tmp):
                os.remove(tmp)
        return iter(())

    narrow.rdd.mapPartitions(write_partition).count()


def load_wet(
    spark: SparkSession, path: str, rows_per_chunk: int = 2000
) -> DataFrame:
    """WET file(s) -> DataFrame(url, warc_ts timestamp, text string,
    source_file, error). The conversion-record twin of load_warc: one
    task per file, records stream in bounded chunks, malformed records go
    to the error channel. Non-conversion records are skipped, so a mixed
    archive reads fine."""
    return _load_typed_records(spark, path, rows_per_chunk, "conversion", "text")


def load_wat(
    spark: SparkSession, path: str, rows_per_chunk: int = 2000
) -> DataFrame:
    """WAT file(s) -> DataFrame(url, warc_ts timestamp, meta_json string,
    source_file, error). The metadata-record twin of load_wet; other
    record types are skipped, so mixed archives read fine. Parse the JSON
    downstream with F.get_json_object / F.from_json."""
    return _load_typed_records(spark, path, rows_per_chunk, "metadata", "meta_json")


def _load_typed_records(spark: SparkSession, path: str, rows_per_chunk: int,
                        warc_type: str, body_col: str) -> DataFrame:
    """The records of one WARC-Type from WARC file(s): (url, warc_ts,
    <body_col> as UTF-8 text, source_file, error), streamed per file in
    chunks of rows_per_chunk; a file that fails to read is one error row."""
    import pandas as pd

    from pyspark.sql import functions as F

    files = spark.read.format("binaryFile").load(path)
    narrow = files.select(
        F.col("path").alias("source_file"), F.col("content"))
    columns = ["url", "warc_ts", body_col, "source_file", "error"]

    def parse(pdfs):
        for pdf in pdfs:
            rows = []
            for src, raw in zip(pdf["source_file"], pdf["content"]):
                try:
                    for rec in iter_warc_records_stream(
                            _open_stream(bytes(raw))):
                        if rec["error"] is not None:
                            rows.append((None, None, None, src,
                                         rec["error"]))
                            continue
                        h = rec["headers"]
                        if h.get("warc-type") != warc_type:
                            continue
                        url = h.get("warc-target-uri")
                        if not url:
                            rows.append((None, None, None, src,
                                         f"{warc_type} record without "
                                         "WARC-Target-URI"))
                            continue
                        rows.append((
                            url, h.get("warc-date"),
                            rec["content"].decode("utf-8", "replace"),
                            src, None))
                        if len(rows) >= rows_per_chunk:
                            yield pd.DataFrame(rows, columns=columns)
                            rows = []
                except Exception as e:  # noqa: BLE001 - file-level channel
                    rows.append((None, None, None, src,
                                 f"{type(e).__name__}: {e}"))
            if rows:
                yield pd.DataFrame(rows, columns=columns)

    out = narrow.mapInPandas(
        parse, ", ".join(f"{c} string" for c in columns))
    return out.withColumn("warc_ts", F.to_timestamp("warc_ts"))
