"""Scale semantics: checkpoint-resume, lineage, and the batch job entry.

North-rule requirements (BASELINE.json): explicit skew handling (see
pipeline.rebalance_pages), per-partition lineage + metrics tables, and
checkpoint-based resume so any partition can be replayed idempotently.

Resume model (SURVEY.md §4 O11): the results table is keyed by url; a run
anti-joins the input against already-written (url_bucket, url) keys and
processes only the remainder. Replaying a partition is therefore idempotent —
its urls are already present and anti-joined away. Both jobs (OCR and mixed
extraction) run through one private ``_resume``; they differ only in their
transform, their summary aggregate and OCR's metrics table. With an Iceberg
catalog the appends are ACID; on plain parquet the same layout applies with
last-writer-wins semantics per run_id. Tables in an older layout (hive
``url_bucket=K/`` directories, or no url_bucket column) are refused with a
one-line rewrite.

Layout: url_bucket is a sorted column, not a directory. Each run appends one
parquet file per map task, rows sorted by (url_bucket, url), so a run writes
as many files as it has tasks whatever the bucket fan-out. Replaying or
compacting one bucket is a ``url_bucket = k`` filter the parquet reader
pushes down to row-group statistics.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from tesseract_wasm_spark.pipeline import extract_any, metrics_df, ocr_pages


#: url-hash bucket fan-out for the results table layout. Every result row
#: carries url_bucket = pmod(xxhash64(url), URL_BUCKETS) as a column that
#: plain-parquet writes sort each file by, so at 10^12 rows (a) the resume
#: anti-join keys on (url_bucket, url) — with an Iceberg bucket-partitioned
#: table the join becomes a storage-partitioned join and the completed side is
#: never shuffled; (b) any single bucket is independently replayable/
#: compactable through a pushed-down ``url_bucket = k`` filter that row-group
#: min/max statistics prune.
URL_BUCKETS = 256


def url_bucket_col():
    return F.pmod(F.xxhash64("url"), F.lit(URL_BUCKETS)).cast("int")


def iceberg_results_ddl(table: str, df: DataFrame, *,
                        bucket_on: str = "url") -> str:
    """The CREATE TABLE statement an Iceberg deployment runs ONCE before the
    first append — the partition-spec twin of the parquet layout: parquet
    sorts each file by the materialized ``url_bucket`` column
    (pmod(xxhash64)) and replays a bucket through a ``url_bucket = k``
    filter, Iceberg declares ``bucket(URL_BUCKETS, url)`` natively so the
    catalog owns the transform (Iceberg buckets with murmur3 rather than
    xxhash64 — the VALUES differ but the contract is the same: a fixed
    URL_BUCKETS-way url-hash fan-out, storage-partitioned resume joins,
    per-bucket replay/compaction). The ``url_bucket`` column itself is
    parquet-layout-only and excluded from the Iceberg schema."""
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != "url_bucket"
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({URL_BUCKETS}, {bucket_on}))"
    )


def ensure_iceberg_table(spark: SparkSession, table: str, df: DataFrame, *,
                         bucket_on: str = "url") -> str:
    """Create the bucket-partitioned Iceberg results table if absent and
    return the DDL used (contract-tested; executes only under a real Iceberg
    catalog)."""
    ddl = iceberg_results_ddl(table, df, bucket_on=bucket_on)
    spark.sql(ddl)
    return ddl


def write_table(df: DataFrame, path: str, *, fmt: str | None = None,
                cluster_by: tuple[str, ...] = ()) -> None:
    """Iceberg-compatible writer abstraction (SURVEY.md §7): appends go to an
    Iceberg table when a catalog is configured (ACID appends — the real
    100 TB deployment), else to plain parquet with the same layout. ``fmt``
    overrides autodetection ("iceberg" | "parquet"). ``cluster_by`` sorts
    the rows within each parquet file by those columns (one file per task,
    no directories); an Iceberg deployment declares the bucket in its
    partition spec at table creation, so the append drops the materialized
    ``url_bucket`` column and needs no per-write clause."""
    spark = df.sparkSession
    if fmt is None:
        has_iceberg = any(
            "iceberg" in spark.conf.get(k, "").lower()
            for k in ("spark.sql.catalog.spark_catalog", "spark.sql.extensions")
        )
        fmt = "iceberg" if has_iceberg else "parquet"
    if fmt == "iceberg":
        if "url_bucket" in cluster_by and "url_bucket" in df.columns:
            # the Iceberg spec (bucket(URL_BUCKETS, url), see
            # iceberg_results_ddl) owns the fan-out; the materialized column
            # exists only for the parquet layout
            df = df.drop("url_bucket")
        df.writeTo(path).append()
    else:
        if cluster_by:
            df = df.sortWithinPartitions(*cluster_by)
        df.write.mode("append").parquet(path)


def completed_urls(spark: SparkSession, results_path: str, mode: str = "full") -> DataFrame | None:
    """The (url_bucket, url) keys already extracted *in the same mode* — a
    layout-only run must not mark urls complete for full extraction (and
    vice versa).

    Only a genuinely-absent results table means "first run": the path's
    Hadoop FileSystem is asked whether it exists, and any failure to read a
    path that does exist (permissions blip, corrupt footer, eventual
    consistency, an empty or non-parquet directory) raises — silently
    treating it as first-run would disable resume and re-append duplicates
    for the whole input, which at 10^12 rows is a very expensive way to
    learn the directory was briefly unlistable. Asking costs a few ms and
    raises nothing on a first run.

    Two older layouts are refused with ValueError before the run writes
    anything, each naming its one-line rewrite: ``url_bucket=K/`` directories
    (flat files appended beside them would make every later read fail with
    Spark's "conflicting directory structures"), and a table written before
    the url_bucket column existed (files with and without it in one
    directory would give the table two schemas)."""
    path = spark._jvm.org.apache.hadoop.fs.Path(results_path)
    if not path.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()).exists(path):
        return None  # first run: nothing written yet
    df = spark.read.parquet(results_path)
    if any(f.rsplit("/", 2)[-2].startswith("url_bucket=") for f in df.inputFiles()):
        raise ValueError(
            f"{results_path} uses the old url_bucket=K/ directory layout; "
            "rewrite it once into the flat layout with "
            "spark.read.parquet(old).write.parquet(new) and resume into new"
        )
    if "url_bucket" not in df.columns:
        raise ValueError(
            f"{results_path} has no url_bucket column (written before the "
            "bucketed layout); rewrite it once with "
            'spark.read.parquet(old).withColumn("url_bucket", '
            "scale.url_bucket_col()).write.parquet(new) and resume into new"
        )
    if "mode" in df.columns:
        df = df.filter(F.col("mode") == mode)
    return df.select("url_bucket", "url")


def _resume(spark: SparkSession, pages: DataFrame, path: str, mode: str,
            transform, summarize, metrics_path: str | None = None) -> dict:
    """The checkpoint-resume run both jobs share: anti-join ``pages`` against
    the urls already in ``path`` for ``mode``, ``transform`` the rest,
    ``summarize`` the persisted result into the summary's counts (one
    aggregate job; ``pages`` among them), append it bucket-sorted with
    ``run_id``/``mode``, and append its per-partition metrics to
    ``metrics_path`` when given. The result is unpersisted on every exit,
    a failed write included."""
    run_id = uuid.uuid4().hex
    done = completed_urls(spark, path, mode)
    todo = pages
    if done is not None:
        # anti-join on (url_bucket, url): with a bucket-partitioned Iceberg
        # table both sides arrive bucket-aligned (storage-partitioned join)
        todo = (
            pages.withColumn("url_bucket", url_bucket_col())
            .join(done, ["url_bucket", "url"], "left_anti")
            .drop("url_bucket")
        )
    res = transform(todo).persist()
    try:
        counts = summarize(res)
        if counts["pages"] == 0:
            return {"run_id": run_id, "pages": 0, "resumed": done is not None}
        out = (res.withColumn("run_id", F.lit(run_id))
               .withColumn("mode", F.lit(mode))
               .withColumn("url_bucket", url_bucket_col()))
        write_table(out, path, cluster_by=("url_bucket", "url"))
        if metrics_path is not None:
            write_table(metrics_df(res).withColumn("run_id", F.lit(run_id)),
                        metrics_path)
    finally:
        res.unpersist()
    return {"run_id": run_id, **counts, "resumed": done is not None}


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    with_text: bool = True,
    recognizer: str = "template",
    num_partitions: int | None = None,
    model_blob: bytes | None = None,
) -> dict:
    """Process all pages not yet present in ``{out_dir}/results``; append
    results + per-partition metrics. Returns a small run summary dict.
    ``model_blob``: optional TWSM2 trained-weight blob shipped to workers
    (see pipeline.ocr_pages)."""

    def summarize(res: DataFrame) -> dict:
        n, errors = res.agg(F.count("*"), F.count("error")).first()
        return {"pages": n, "errors": errors}

    return _resume(
        spark, pages, f"{out_dir}/results", "full" if with_text else "layout",
        lambda todo: ocr_pages(todo, with_text=with_text, recognizer=recognizer,
                               model_blob=model_blob,
                               num_partitions=num_partitions),
        summarize, metrics_path=f"{out_dir}/metrics",
    )


def run_extract_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    recognizer: str = "template",
    num_partitions: int | None = None,
    model_blob: bytes | None = None,
) -> dict:
    """The MIXED-payload main-content pipeline (pipeline.extract_any: DRF ->
    OCR, PDF -> pdftext, HTML -> webtext) under the same checkpoint-resume
    contract: results keyed by url at ``{out_dir}/extracted``, anti-join on
    completed urls, idempotent partition replay. Per-kind counts land in the
    summary. No metrics table is written: ``extract_any``'s output carries
    no lineage columns (its DRF and PDF rows are decoded in one
    ``mapInPandas`` pass, its HTML and image rows by expressions), so
    per-partition lineage for the OCR branch comes from run_with_resume."""

    def summarize(res: DataFrame) -> dict:
        per_kind = res.groupBy("kind").agg(F.count("*"), F.count("error")).collect()
        kinds = {kind: rows for kind, rows, _ in per_kind}
        return {"pages": sum(kinds.values()),
                "errors": sum(errs for _, _, errs in per_kind), "kinds": kinds}

    return _resume(
        spark, pages, f"{out_dir}/extracted", "extract",
        lambda todo: extract_any(todo, recognizer=recognizer,
                                 num_partitions=num_partitions,
                                 model_blob=model_blob),
        summarize,
    )
