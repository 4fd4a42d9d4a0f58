"""Figure image render: PDF image XObjects as a Spark asset side-channel.

``render_figures`` is the operator; the pixel work is stdlib-only in
core (``core/pdf_extract.render_figure_images`` for the XObject walk,
``core/png_codec.py`` for the PNG re-encode). Image documents themselves
(PNG/JPEG/GIF inputs) are probed for figure metadata by
``core/image_extract.py``, which also owns the one pixel-dimension bomb
guard.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

from ..worker import guard_zip_imports

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

FIGURE_IMAGE_SCHEMA = (
    "url string, figure_id string, page_number int, image_format string, "
    "width long, height long, image binary"
)


def render_figures(pages: "DataFrame") -> "DataFrame":
    """M11 figure image render as a Spark operator (reference
    asset_storage_service.py:643-658 exports figure images per asset).

    One output row per /Subtype /Image XObject of each PDF document, in
    page order, with the payload RENDERED stdlib-only where the encoding
    allows (JPEG pass-through, Flate/raw gray/rgb rasters re-encoded as
    real PNGs — core/pdf_extract.render_figure_images); other encodings
    emit metadata-only rows (image NULL). Non-PDF documents and
    documents that fail to parse contribute no rows — this is an asset
    side-channel; the extraction pipeline's failure taxonomy is the
    record of WHY a document yielded nothing. Arrow-batched mapInPandas,
    one pass over the corpus, no shuffle."""
    from ..core.dispatch import url_hash
    from ..core.pdf_extract import render_figure_images
    from ..core.taxonomy import ExtractionError

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard_zip_imports()
        for batch in batches:
            rows = []
            for url, blob in zip(
                batch["url"].to_numpy(), batch["html"].to_numpy()
            ):
                data = bytes(blob or b"")
                if not data.startswith(b"%PDF-"):
                    continue
                try:
                    figs = render_figure_images(data, url_hash(url))
                except ExtractionError:
                    continue
                for f in figs:
                    rows.append({"url": url, **f})
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "figure_id", "page_number", "image_format",
                    "width", "height", "image",
                ],
            )

    return pages.select("url", "html").mapInPandas(
        batch_fn, schema=FIGURE_IMAGE_SCHEMA
    )
