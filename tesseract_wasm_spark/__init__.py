"""tesseract_wasm_spark — a from-scratch, PySpark-native OCR/text-extraction engine.

Re-expresses the query and data-processing capabilities of
``robertknight/tesseract-wasm`` (reference at /root/reference, read-only) as an
idiomatic Spark pipeline: DataFrame/SQL relational shell + vectorized
Arrow/pandas UDFs for the per-page raster work (Otsu binarization, connected
component page segmentation, line/word clustering, glyph sequence recognition,
orientation detection, hOCR rendering).

The reference API surface being reproduced (see SURVEY.md §2):
  - OCREngine.loadModel/loadImage/getText/getTextBoxes/getBoundingBoxes/
    getOrientation/getHOCR/getVariable/setVariable/clearImage
    (reference: src/ocr-engine.ts:91-338, src/lib.cpp:125-341)
  - OCRClient async mirror (reference: src/ocr-client.ts:53-263)

Design notes:
  - Input table shape is fixed by the driver contract: Common-Crawl-style pages
    ``(url string, warc_ts timestamp, html binary, text string, lang string)``.
  - All per-page compute happens inside ``mapInPandas`` iterators (Arrow
    batches, numpy vectorized) — no per-row Python in the hot path.
  - Everything downstream of the extraction UDF is plain DataFrame algebra so
    Catalyst gets pushdown/pruning for free.
"""

__version__ = "0.1.0"

from tesseract_wasm_spark.session import get_spark, install_zip_cache_check  # noqa: F401

install_zip_cache_check()
