"""Regenerate the committed golden-parquet oracles under tests/golden/oracle/.

The OCR-surface driver entries (queries.py ocr_*) and the hash-defined
datapipe entries (dedup_simhash, sim_srp_pairs) are
not SQL-expressible from the raw tables, so their DuckDB oracles read these
committed snapshots (and, where the entry is a derivation, re-derive it in
SQL — see queries.py for which side does real work).

Run AFTER any change to the engine, fixtures, or the hashing/bucketing
algorithms, then re-run tools/check_parity.py /root/testdata/sf0.01:

    python tools/make_goldens.py

Every golden is a single parquet file written by pyarrow from the Spark
result (``DataFrame.toArrow``: the Spark schema, nullability included),
its rows sorted by the golden's key columns, so two runs write the same
bytes.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "golden", "oracle",
)
SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness-gate scale factor


def write_golden(df, name: str, keys: tuple[str, ...] = ("url",)) -> None:
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    dst = os.path.join(GOLDEN_DIR, f"{name}.parquet")
    pq.write_table(df.orderBy(*keys).toArrow(), dst)
    print(f"wrote {dst}")


def main() -> None:
    from tesseract_wasm_spark.session import get_spark
    from tesseract_wasm_spark import queries as Q

    spark = get_spark(cores=8)

    # --- OCR surface (sf-independent: runs on the deterministic fixtures)
    # (ocr_media_metadata needs NO golden: its oracle derives every column
    #  from fixture_pages + ocr_page_meta — queries._sql_media_metadata)
    for name, keys in (("ocr_text", ("url",)), ("ocr_words", ("url", "word_id")),
                       ("ocr_errors", ("url",))):
        fn = Q.REGISTRY[name][0]
        write_golden(fn(spark, SF_DIR), name, keys)

    # raw fixture INPUTS (payload blobs + ground-truth text): the
    # extract_mixed oracle re-derives extraction from these in SQL — an
    # input snapshot, not an output echo
    from tesseract_wasm_spark.fixtures import fixtures_df
    write_golden(
        fixtures_df(spark, n_corpus_pages=16).select("url", "html", "text"),
        "fixture_pages",
    )
    # degraded corpus GROUND TRUTH (url + clean text only — no engine output):
    # the ocr_text_degraded oracle compares the live recovery against it
    from tesseract_wasm_spark.fixtures import degraded_df
    write_golden(degraded_df(spark).select("url", "text"), "degraded_pages")
    # (no goldens needed for: ocr_lines — oracle re-derives the rollup from
    #  the ocr_words golden; ocr_layout — re-derived from ocr_words (the
    #  layout-only boxes ARE the word rects, reference ocr-engine.ts:236-239);
    #  ocr_hocr — re-RENDERED in DuckDB from ocr_words + ocr_page_meta;
    #  ocr_orientation — decision tree re-run in SQL over the scores below;
    #  ocr_text_lstm — equals the template-path ocr_text golden byte-for-byte)

    # page-meta + raw orientation axis scores: the inputs those re-derivation
    # oracles consume (width/height for the page div, skew for the baseline
    # slope, up/left scores for the orientation tree)
    import pandas as pd
    from tesseract_wasm_spark.engine.page import process_page
    from tesseract_wasm_spark.fixtures import fixture_rows

    metas = []
    for r in fixture_rows(16):
        res = process_page(bytes(r["html"]), lang=r["lang"])
        if res.error is None:
            metas.append({
                "url": r["url"], "width": res.width, "height": res.height,
                "skew_degrees": res.skew_degrees,
                "up_conf": res.up_conf, "left_conf": res.left_conf,
            })
    write_golden(
        spark.createDataFrame(
            pd.DataFrame(metas),
            schema="url string, width int, height int, skew_degrees double, "
                   "up_conf double, left_conf double",
        ),
        "ocr_page_meta",
    )

    # --- datapipe snapshots at the driver's gate SF
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    from tesseract_wasm_spark.datapipe.dedup import simhash_signatures
    write_golden(simhash_signatures(docs), "simhash_signatures_sf001", ("doc_id",))

    from tesseract_wasm_spark.datapipe.similarity import srp_signatures
    # parameters MUST mirror the driver entry queries.sim_srp_pairs: n_bits=10 seed=9
    write_golden(srp_signatures(emb, n_bits=10, seed=9), "srp_buckets_sf001", ("vec_id",))

    # (ann_ivf needs no goldens: deterministic centroids are the 16
    #  lowest-vec_id vectors, so the oracle derives cells/probes/scores
    #  entirely from the embeddings table)

    # (text_rolling_fp needs no golden: the oracle re-derives the polynomial
    #  hash itself with a list_reduce Horner fold in SQL)

    spark.stop()
    print("done")


if __name__ == "__main__":
    main()
