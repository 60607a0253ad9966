"""Streaming xmlpipe2 sink: the batch kernel reused via ``foreachBatch``.

SURVEY §1.2 decision note: the render/assembly kernel is pure Spark SQL
expressions (built from SQL text), so the exact same ``xml_documents``
plan serves batch export and streaming export — ``foreachBatch`` hands
each micro-batch to the batch writer. Output is one directory of XML
fragment files per batch (scale-mode layout); the docset envelope is
written once by the consumer (`_PROLOG` / `_CLOSE` parts, see
operators/xmlpipe.py).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from cql_xmlpipe_spark.operators.xmlpipe import DOCSET_CLOSE, DOCSET_OPEN, PROLOG, xml_documents


def write_xmlpipe_stream(
    events: DataFrame,
    key_cols: Sequence[str],
    out_dir: str,
    checkpoint_dir: str | None = None,
    mode: str = "parity",
    available_now: bool = False,
) -> StreamingQuery:
    """Stream rows through the xmlpipe2 kernel into ``out_dir``.

    Each micro-batch appends its documents as text part-files under
    ``out_dir/batch=<id>/``; exactly-once via the checkpoint + batch-id
    directory naming (a replayed batch overwrites its own directory).
    """
    os.makedirs(out_dir, exist_ok=True)
    # same framing as write_docset_scale: prolog carries the newline that
    # precedes the first document; per-line trailing newlines supply the
    # separators and the one before the close tag
    with open(os.path.join(out_dir, "_PROLOG"), "w", encoding="utf-8") as fh:
        fh.write(PROLOG + DOCSET_OPEN + "\n")
    with open(os.path.join(out_dir, "_CLOSE"), "w", encoding="utf-8") as fh:
        fh.write(DOCSET_CLOSE.lstrip("\n"))

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        docs = xml_documents(batch_df, key_cols, mode=mode)
        docs.select(F.expr("substring(xml, 2)")).write.mode("overwrite").text(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    writer = (
        events.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir or os.path.join(out_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
