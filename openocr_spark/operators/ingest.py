"""Ingestion: turn a flat text corpus (doc_id, text) into the engine's
canonical interleaved documents table (doc_id, spans) — the shape of
BASELINE.json input_hint — deterministically, so the driver's TPC-H-ish
`documents` parquet doubles as extraction-pipeline input.

Chunking: text is split into 8-token text spans; after each chunk a
media span is deterministically inserted when md5(doc_id#i) lands in a
1-in-5 residue class (≈0.2 media fraction, FIXTURES.md F-A knob). The
media_ref seeds the synthetic payload generator, so the full
detect+recognize path runs with zero external data.

Runs as one row-kernel pass over Arrow batches (ingestion is one linear
scan at any scale; the generator is executor-side, nothing crosses the
driver).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from openocr_spark import schemas
from openocr_spark.rowmap import map_rows


def _spans_for_text(doc_id: str, text: str) -> list[dict]:
    toks = text.split(" ")
    spans: list[dict] = []
    offset = 0
    media_i = 0
    for i in range(0, len(toks), 8):
        chunk = " ".join(toks[i : i + 8])
        spans.append({"kind": "text", "text": chunk, "media_ref": None, "offset": offset})
        offset += len(chunk) + 1
        h = int(hashlib.md5(f"{doc_id}#{i}".encode()).hexdigest()[:8], 16)
        if h % 5 == 0:
            spans.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": f"media://{doc_id}/{media_i}",
                    "offset": offset,
                }
            )
            media_i += 1
            offset += 1
    return spans


def interleave(flat_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, text, ...) → canonical (doc_id, spans) interleaved table."""
    spark = flat_docs.sparkSession
    # ingest parallelism should not be dictated by the source file layout
    # (a single parquet file would otherwise serialize the whole pass)
    cols = flat_docs.select(id_col, text_col).repartition(
        spark.sparkContext.defaultParallelism
    )

    def gen(row):
        d, t = str(row[id_col]), row[text_col]
        yield {"doc_id": d, "spans": _spans_for_text(d, t if isinstance(t, str) else "")}

    return map_rows(cols, gen, schemas.DOCUMENTS)
