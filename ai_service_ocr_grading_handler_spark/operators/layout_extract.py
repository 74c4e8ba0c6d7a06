"""Layout-aware extraction operator: paginated binary docs -> reading-order
text + labeled blocks, Arrow-batched (the PDF twin of operators/extract.py).

Corpus synthesis (`layout_df_from_documents`): each `documents` row becomes
a >= 2-page, two-column "scanned paper" — full-width heading, body chunks
flowing down the left column then the right, a running head on every page,
and page numbers — packed into the core.layout binary container. The golden
reading-order text is `'Section {doc_id}' + blank line + golden_text(text)`
(SQL-expressible), so the DuckDB oracle value-checks column reassembly AND
furniture removal end-to-end.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ai_service_ocr_grading_handler_spark.core.layout import extract_layout, pack_layout
from ai_service_ocr_grading_handler_spark.core.partitioning import widen_if_narrow
from ai_service_ocr_grading_handler_spark.corpus import golden_text

CHUNKS_PER_PAGE = 8  # 4 rows x 2 columns
_COL_X = [(50.0, 290.0), (310.0, 550.0)]
_ROW_Y0, _ROW_H = 120.0, 85.0

LAYOUT_DDL = "doc_id bigint, pdf binary"
LAYOUT_RESULT_DDL = (
    "doc_id bigint, text string, n_pages int, n_boxes int, "
    "n_headings int, n_furniture int, content_chars bigint"
)


def synth_layout_doc(doc_id: int, text: str) -> bytes:
    """Deterministic paginated layout for one document."""
    chunks = golden_text(text).split("\n\n")
    chunks = [c for c in chunks if c]
    n_pages = max(2, math.ceil(len(chunks) / CHUNKS_PER_PAGE))
    pages: list[list[tuple[float, float, float, float, float, str]]] = []
    for p in range(n_pages):
        boxes: list[tuple[float, float, float, float, float, str]] = [
            # running head (recurs on every page -> furniture)
            (50.0, 20.0, 550.0, 35.0, 8.0, "Journal of Spark Extraction"),
            # page number (digit-normalized recurrence -> furniture)
            (270.0, 760.0, 330.0, 775.0, 8.0, f"Page {p + 1}"),
        ]
        if p == 0:
            # full-width heading above the two-column body (XY-cut test)
            boxes.append((50.0, 60.0, 550.0, 100.0, 18.0, f"Section {doc_id}"))
        page_chunks = chunks[p * CHUNKS_PER_PAGE : (p + 1) * CHUNKS_PER_PAGE]
        for i, chunk in enumerate(page_chunks):
            col, row = divmod(i, CHUNKS_PER_PAGE // 2)
            # column-major: left column fills top-down first, then right
            x0, x1 = _COL_X[col]
            y0 = _ROW_Y0 + row * _ROW_H
            boxes.append((x0, y0, x1, y0 + _ROW_H, 10.0, chunk))
        pages.append(boxes)
    return pack_layout(pages)


def layout_df_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = widen_if_narrow(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pdf": [
                        synth_layout_doc(int(i), t)
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return docs.mapInPandas(gen, schema=LAYOUT_DDL)


def extract_layout_docs(layout: DataFrame) -> DataFrame:
    """(doc_id, pdf binary) -> reading-order text + block stats; one Arrow
    hop, blob dropped on output."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["pdf"]):
                r = extract_layout(blob)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "text": r.text,
                        "n_pages": r.n_pages,
                        "n_boxes": r.n_boxes,
                        "n_headings": sum(1 for b in r.blocks if b.label == "heading"),
                        "n_furniture": sum(
                            1 for b in r.blocks if b.label == "furniture"
                        ),
                        "content_chars": len(r.text),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "text",
                    "n_pages",
                    "n_boxes",
                    "n_headings",
                    "n_furniture",
                    "content_chars",
                ],
            )

    return layout.mapInPandas(kernel, schema=LAYOUT_RESULT_DDL)
