"""The row-level error channel shared by the per-row Python operators.

A failed input row is data, not a task failure: it stays one output row
that carries the exception text in `error`, so no id ever vanishes and
one bad blob never kills a job. Every operator that runs a pure-Python
function over one (key, value) column pair goes through `map_rows`, so
that contract, the Arrow batch assembly and the per-row exception
handling live here once, apart from each operator's normal-case code.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import DataFrame


def map_rows(narrow: DataFrame, fn: Callable[[Any], Iterable[dict]],
             ddl: str) -> DataFrame:
    """narrow(key, value) -> one output row per dict that `fn(value)` yields.

    - `narrow` has exactly two columns; the key is copied into the first
      output column of every row its value produced.
    - `fn` returns an iterable of dicts keyed by the other output columns;
      a column a dict leaves out is NULL and a key outside the DDL is
      not read, so a decoder's own dict can pass through as it is. `fn`
      may set `error` itself.
    - When `fn` raises, the row becomes exactly one output row: the key,
      NULL elsewhere, and `error` = "<ExceptionType>: <message>".
    - `ddl` is the output schema; it must end in `error string`. The Arrow
      schema is derived from it once, here on the driver, and the whole
      operator is one mapInArrow pass.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StringType, StructType

    if len(narrow.columns) != 2:
        raise ValueError(f"map_rows wants a (key, value) frame, got {narrow.columns}")
    struct = StructType.fromDDL(ddl)
    last = struct.fields[-1]
    if last.name != "error" or last.dataType != StringType():
        raise ValueError(f"output DDL must end in 'error string': {ddl!r}")
    schema = to_arrow_schema(struct)
    key_t = schema.field(0).type
    fields = list(schema)[1:]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            take: list = []
            rows: list = []
            for i, value in enumerate(rb.column(1).to_pylist()):
                try:
                    out = list(fn(value))
                except Exception as e:  # noqa: BLE001 - the row-level channel
                    out = [{"error": f"{type(e).__name__}: {e}"}]
                take.extend([i] * len(out))
                rows.extend(out)
            if not rows:
                continue
            keys = rb.column(0).take(pa.array(take, pa.int64())).cast(key_t)
            yield pa.RecordBatch.from_arrays(
                [keys] + [pa.array([r.get(f.name) for r in rows], f.type)
                          for f in fields],
                schema=schema)

    return narrow.mapInArrow(kernel, ddl)


def html_text(h: Any) -> str:
    """An html cell as text: binary decodes as UTF-8 with U+FFFD for bad
    bytes, a string passes through."""
    if isinstance(h, (bytes, bytearray, memoryview)):
        return bytes(h).decode("utf-8", errors="replace")
    return str(h)
