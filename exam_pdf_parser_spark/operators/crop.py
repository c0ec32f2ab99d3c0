"""Per-question crop sink (S11: src/cropper/cropper.py:32-91).

The reference renders a clipped pixmap per question region and writes
``q{n:02d}{_pN}.png`` files.  Here every crop is a REAL, viewer-openable
PNG (pure-stdlib zlib encoder, ``core/png.py``): the page's blocks are
rasterized deterministically onto a white canvas — per-type shades for
text/image/table rectangles clipped to the padded region bbox.  The
sink schema, naming scheme, pad/clamp arithmetic (F16,
src/cropper/cropper.py:64-71), partitioned write AND the pixel encoding
are all real; only the SOURCE raster is synthetic (the sandbox has no
PDF renderer, so layout geometry is the honest pixel source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from ..core.png import PAD, crop_document, pad_clamp
from .extract import map_rows

__all__ = ["PAD", "pad_clamp", "crop_regions", "CROP_SCHEMA"]

CROP_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("question_number", IntegerType(), False),
    StructField("page_idx", IntegerType(), False),
    StructField("file_name", StringType(), False),
    StructField("x0", DoubleType(), False),
    StructField("y0", DoubleType(), False),
    StructField("x1", DoubleType(), False),
    StructField("y1", DoubleType(), False),
    StructField("png", BinaryType(), False),
])


def crop_regions(documents: DataFrame) -> DataFrame:
    """documents(url, html) → one crop row per (question, page)
    (``core.png.crop_document``).  A document whose decode, detect or
    render raises is dropped whole."""

    def row(_state, url, html):
        return [(url, *c) for c in crop_document(bytes(html))]

    return map_rows(documents.select("url", "html"), CROP_SCHEMA, row)
