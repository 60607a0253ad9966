"""xmlpipe2 pipeline: doc-id generation, document assembly, docset sinks.

Reference behavior being reproduced (SURVEY §1.4, §3.3, §4.3):

* ``with_doc_id`` ≙ ``getId`` (``Query.java:194-219``): fast path for a
  single integral key column (id = value); otherwise the sdbm hash over the
  space-joined rendered key values, where integral key columns are consumed
  as ``hashBase`` *while hashBase == 0* — a per-row subtlety: an integral
  key whose value is 0 makes the NEXT integral key the hashBase too
  (``Query.java:210``).
* ``xml_documents`` ≙ ``processRow``/``writeValue`` (``Query.java:182-229``):
  per row, ``\\n<sphinx:document id="...">`` + one element per column in
  metadata order; string fields go through the ``<mem>`` transform, blobs
  become CDATA, everything else is the render kernel + StAX text escaping.
* Sinks ≙ the docset envelope (``Query.java:144-169``): prolog exactly
  ``<?xml version="1.0" encoding="utf-8"?>`` with no trailing newline, no
  xmlns declaration, one ``\\n`` before each document and before
  ``</sphinx:docset>``.

Everything except the hash UDF is SQL text, one parse per plan step: the
render, ``<mem>`` and escaping kernels return SQL, ``with_doc_id`` parses
the hashBase and key string with ``F.expr`` and ``xml_documents`` the
document with one ``selectExpr``. Each Column-API call is a py4j round
trip; lineitem's document plan took 1,777 of them, SQL text takes 23.
"""

from __future__ import annotations

import sys
from typing import IO, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cql_xmlpipe_spark.functions.dockey import sdbm_key_udf
from cql_xmlpipe_spark.functions.render import render_value
from cql_xmlpipe_spark.functions.xmlfuncs import mem_transform, xml_escape_text

PROLOG = '<?xml version="1.0" encoding="utf-8"?>'
DOCSET_OPEN = "<sphinx:docset>"
DOCSET_CLOSE = "\n</sphinx:docset>"

_INTEGRAL = (T.IntegerType, T.LongType, T.ShortType, T.ByteType)


def _is_integral(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INTEGRAL)


def _ident(name: str) -> str:
    """A column name as a backquoted SQL identifier (dots, quotes and
    backslashes are literal inside backquotes)."""
    return "`" + name.replace("`", "``") + "`"


def _lit(text: str) -> str:
    """A SQL string literal (the parser un-escapes backslashes)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n") + "'"


def with_doc_id(
    df: DataFrame, key_cols: Sequence[str], id_col: str = "id", mode: str = "parity"
) -> DataFrame:
    """Synthesize the int64 document id from the named key columns.

    Fast path (single integral key, ``Query.java:201-204``): id = value.
    Hash path (``Query.java:206-218``): scanning keys in order, each
    integral column is consumed as hashBase while the running hashBase is
    still 0; every other key renders via the type kernel and joins with a
    single space; the joined string feeds the sdbm hash.
    """
    key_cols = [k for k in key_cols if k]  # blank entries skipped (Query.java:115)
    if not key_cols:
        raise ValueError("at least one key column is required")
    schema = {f.name: f.dataType for f in df.schema.fields}
    for k in key_cols:
        if k not in schema:
            raise KeyError(f"key column {k!r} not in DataFrame")
    # a silent withColumn overwrite of an existing column would replace
    # real data with the synthesized id; only id = own-key fast path may
    # legitimately land on an existing name (id := that key's value)
    if id_col in schema and key_cols != [id_col]:
        raise ValueError(
            f"id_col {id_col!r} already exists in the DataFrame; pass a "
            "different id_col (xml_documents does this automatically)"
        )

    if len(key_cols) == 1 and _is_integral(schema[key_cols[0]]):
        # reference renders Integer.toString(value); bigint would throw in
        # the 2.1 driver (defect) — we emit the long value (divergence).
        return df.withColumn(id_col, F.expr(f"coalesce(CAST({_ident(key_cols[0])} AS BIGINT), 0)"))

    integral_keys = [k for k in key_cols if _is_integral(schema[k])]

    def _base_known_zero(upto: int) -> str:
        """True iff every integral key before position `upto` is 0/null —
        i.e. the running hashBase is still 0 when we reach this column."""
        cond = "true"
        for k in integral_keys[:upto]:
            cond = f"({cond} AND (coalesce({_ident(k)}, 0) = 0))"
        return cond

    # hashBase = first non-zero integral key value (nulls read as 0, the
    # driver's typed-getter behavior), else 0.
    base = "CAST(0 AS BIGINT)"
    for i, k in enumerate(integral_keys):
        v = f"coalesce(CAST({_ident(k)} AS BIGINT), 0)"
        base = f"CASE WHEN ({_base_known_zero(i)} AND ({v} != 0)) THEN {v} ELSE {base} END"

    # Concatenated key string: non-integral keys always; an integral key
    # only when some earlier integral key already set hashBase.
    parts = []
    int_pos = 0
    for k in key_cols:
        rendered = render_value(_ident(k), schema[k], mode)
        if _is_integral(schema[k]):
            parts.append(f"CASE WHEN {_base_known_zero(int_pos)} THEN NULL ELSE {rendered} END")
            int_pos += 1
        else:
            parts.append(rendered)
    key_str = f"concat_ws(' ', {', '.join(parts)})"

    return df.withColumn(id_col, sdbm_key_udf(F.expr(base), F.expr(key_str)))


def _field_fragment(name: str, dtype: T.DataType, mode: str) -> str:
    """``<name>rendered</name>`` for one column (writeValue dispatch,
    Query.java:221-229): text -> mem transform; blob -> CDATA; else
    escaped render-kernel output. Elements are never self-closed."""
    col = _ident(name)
    if isinstance(dtype, T.StringType):
        body = mem_transform(col)
    elif isinstance(dtype, T.BinaryType):
        body = f"concat('<![CDATA[', {render_value(col, dtype, mode)}, ']]>')"
    else:
        body = xml_escape_text(render_value(col, dtype, mode))
    return f"concat({_lit(f'<{name}>')}, {body}, {_lit(f'</{name}>')})"


def xml_documents(
    df: DataFrame,
    key_cols: Sequence[str],
    field_cols: Sequence[str] | None = None,
    mode: str = "parity",
    id_col: str = "id",
) -> DataFrame:
    """Assemble ``(id, xml)`` — one xmlpipe2 ``<sphinx:document>`` per row.

    The xml fragment starts with the reference's leading ``\\n``
    (``Query.java:183``) so the sink is pure concatenation.

    The generated id is computed into a collision-proof internal column:
    if the input already has a column named ``id_col`` (with different key
    columns), its ORIGINAL value must still render as that element's body —
    the reference emits the source column value (``Query.java:221-229``),
    with the synthesized id appearing only in the document attribute.
    """
    internal = "_xmlpipe_doc_id"
    while internal in df.columns:
        internal += "_"
    with_id = with_doc_id(df, key_cols, id_col=internal, mode=mode)
    schema = {f.name: f.dataType for f in df.schema.fields}
    fields = list(field_cols) if field_cols is not None else [f.name for f in df.schema.fields]
    xml = ", ".join([
        _lit('\n<sphinx:document id="'),
        f"CAST({_ident(internal)} AS STRING)",
        _lit('">'),
        *(_field_fragment(name, schema[name], mode) for name in fields),
        _lit("</sphinx:document>"),
    ])
    return with_id.selectExpr(f"{_ident(internal)} AS {_ident(id_col)}", f"concat({xml}) AS xml")


def write_docset_stream(docs: DataFrame, out: IO[str] | None = None) -> int:
    """Parity sink: stream the docset to one writer (stdout by default).

    ``toLocalIterator`` keeps driver memory constant (one partition at a
    time) and mirrors the reference's single-stream pipelining
    (``Query.java:146-169``). Returns the row count.
    """
    out = out or sys.stdout
    out.write(PROLOG)
    out.write(DOCSET_OPEN)
    n = 0
    for row in docs.toLocalIterator():
        out.write(row["xml"])
        n += 1
    out.write(DOCSET_CLOSE)
    out.flush()
    return n


def write_docset_scale(docs: DataFrame, out_dir: str) -> None:
    """Scale sink: per-partition XML fragment files + envelope parts.

    At 100 TB a single driver stream is the bottleneck; this writes the
    document stream as partitioned text (order-divergent, documented) that
    downstream consumers concatenate between `_PROLOG` and `_CLOSE` parts.

    Framing: each xml value carries the reference's leading ``\\n`` and
    the text sink appends one more per row — so the leading byte is
    stripped here, `_PROLOG` ends with the newline that precedes the
    first document, and the sink's trailing newline after the last
    document is exactly the one the reference puts before
    ``</sphinx:docset>``. Concatenation reproduces the single-stream
    byte framing (modulo document order).
    """
    docs.select(F.expr("substring(xml, 2)")).write.mode("overwrite").text(out_dir)
    # envelope written driver-side; consumers cat _PROLOG + part-* + _CLOSE
    import os

    with open(os.path.join(out_dir, "_PROLOG"), "w", encoding="utf-8") as fh:
        fh.write(PROLOG + DOCSET_OPEN + "\n")
    with open(os.path.join(out_dir, "_CLOSE"), "w", encoding="utf-8") as fh:
        fh.write(DOCSET_CLOSE.lstrip("\n"))
