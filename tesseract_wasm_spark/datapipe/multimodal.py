"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are treated as opaque ``binary`` columns with typed
metadata extracted/attached by Arrow-batched UDFs. The container has no
imaging/audio libraries, so foreign formats are recognized by magic bytes
and reported as not decodable; the Spark-side plumbing (schemas, batching,
partitioning, UDF signatures) is real and tested against the DRF payloads
our own corpus uses.

At 100 TB: payload columns dominate bytes; every operator here prunes to
(key, payload) before the UDF and emits compact metadata, so downstream
queries never re-read the blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from tesseract_wasm_spark import drf

MEDIA_META_DDL = (
    "url string, format string, width int, height int, channels int, "
    "n_bytes long, decode_error string"
)


def media_metadata(pages: DataFrame) -> DataFrame:
    """Probe each binary payload: container format + dimensions + size.
    DRF decodes for real; JPEG/PNG/WEBP are recognized by magic bytes but
    their pixel decode is stubbed (no codecs in this environment)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                raw = bytes(payload)
                rec = {
                    "url": url, "format": "unknown", "width": None, "height": None,
                    "channels": None, "n_bytes": len(raw), "decode_error": None,
                }
                if raw[:4] == drf.MAGIC:
                    rec["format"] = "drf"
                    try:
                        img = drf.decode(raw)
                        rec["height"], rec["width"], rec["channels"] = img.shape
                    except ValueError as exc:
                        rec["decode_error"] = str(exc)
                elif raw[:3] == b"\xff\xd8\xff":
                    rec["format"] = "jpeg"
                    rec["decode_error"] = "decoder not available: jpeg"
                elif raw[:8] == b"\x89PNG\r\n\x1a\n":
                    rec["format"] = "png"
                    rec["decode_error"] = "decoder not available: png"
                elif raw[:5] == b"%PDF-":
                    rec["format"] = "pdf"  # text payload: pdftext path
                elif raw[:1] == b"<" or raw[:9].lower() == b"<!doctype":
                    rec["format"] = "html"  # text payload: webtext path, not an image
                out.append(rec)
            yield pd.DataFrame(out, columns=[
                "url", "format", "width", "height", "channels", "n_bytes", "decode_error",
            ])

    return pages.select("url", "html").mapInPandas(run, schema=MEDIA_META_DDL)


THUMBNAIL_DDL = "url string, thumb binary, thumb_w int, thumb_h int"


def thumbnails(pages: DataFrame, *, max_side: int = 64) -> DataFrame:
    """Feature-extraction example over the binary column: decode DRF, box
    down-sample with pure-numpy striding, re-encode as DRF thumbnails."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                try:
                    img = drf.decode(bytes(payload))
                except ValueError:
                    continue
                h, w = img.shape[:2]
                step = max(1, -(-max(h, w) // max_side))
                thumb = img[::step, ::step]
                out.append(
                    {"url": url, "thumb": drf.encode(np.ascontiguousarray(thumb)),
                     "thumb_w": thumb.shape[1], "thumb_h": thumb.shape[0]}
                )
            yield pd.DataFrame(out, columns=["url", "thumb", "thumb_w", "thumb_h"])

    return pages.select("url", "html").mapInPandas(run, schema=THUMBNAIL_DDL)
