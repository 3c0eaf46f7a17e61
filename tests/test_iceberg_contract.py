"""Contract tests for the Iceberg branch of the table writer (scale.py).

No Iceberg runtime jar ships in this sandbox, so the ACID-append branch
cannot execute for real; these tests pin the CONTRACT instead: catalog
autodetection routes appends through DataFrame.writeTo(...).append() (the
Iceberg v2 API) and never through the parquet path, and the explicit
``fmt`` override works both ways. The parquet branch's resume semantics are
exercised end-to-end in test_spark_pipeline/test_webtext; on a real cluster
the same layout lands in an Iceberg table with ACID appends."""

from __future__ import annotations

from tesseract_wasm_spark import scale


class _Writer:
    def __init__(self, calls):
        self._calls = calls

    def append(self):
        self._calls.append("append")


class _FakeDF:
    """Quacks like a DataFrame for write_table: sparkSession + writeTo/write."""

    def __init__(self, spark, calls):
        self.sparkSession = spark
        self._calls = calls

    def writeTo(self, path):
        self._calls.append(("writeTo", path))
        return _Writer(self._calls)

    @property
    def write(self):
        raise AssertionError("parquet branch must not be taken for Iceberg")


def test_write_table_autodetects_iceberg_catalog(spark):
    calls: list = []
    spark.conf.set(
        "spark.sql.catalog.spark_catalog",
        "org.apache.iceberg.spark.SparkSessionCatalog",
    )
    try:
        scale.write_table(_FakeDF(spark, calls), "crawl.db.results")
    finally:
        spark.conf.unset("spark.sql.catalog.spark_catalog")
    assert calls == [("writeTo", "crawl.db.results"), "append"]


def test_write_table_explicit_fmt_override(spark):
    # fmt="iceberg" takes the writeTo path with NO catalog conf at all
    calls: list = []
    scale.write_table(_FakeDF(spark, calls), "crawl.db.results", fmt="iceberg")
    assert calls == [("writeTo", "crawl.db.results"), "append"]


def test_write_table_defaults_to_parquet(spark, tmp_path):
    # without a catalog, a real DataFrame append lands as parquet
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    path = str(tmp_path / "t")
    scale.write_table(df, path)
    scale.write_table(df, path)  # append mode: second write adds rows
    assert spark.read.parquet(path).count() == 2


class _FakePartitionedDF(_FakeDF):
    """Adds the columns/drop surface the bucket-partition branch touches."""

    def __init__(self, spark, calls, columns):
        super().__init__(spark, calls)
        self.columns = list(columns)

    def drop(self, *cols):
        self._calls.append(("drop", cols))
        return _FakePartitionedDF(
            self.sparkSession, self._calls,
            [c for c in self.columns if c not in cols],
        )


class _FakeSql:
    """Quacks like a SparkSession for ensure_iceberg_table."""

    def __init__(self):
        self.statements: list[str] = []

    def sql(self, stmt):
        self.statements.append(stmt)


def test_iceberg_partition_spec_matches_parquet_layout(spark):
    """The bucket-partition contract (round-4 item 6): the Iceberg DDL
    declares bucket(URL_BUCKETS, url) — the same URL_BUCKETS-way url-hash
    fan-out the parquet layout materializes as the url_bucket column — and
    the layout-only url_bucket column is excluded from the Iceberg schema."""
    df = spark.createDataFrame(
        [("u", "t", 0)], "url string, text_out string, url_bucket int"
    )
    ddl = scale.iceberg_results_ddl("crawl.db.results", df)
    assert f"PARTITIONED BY (bucket({scale.URL_BUCKETS}, url))" in ddl
    assert "USING iceberg" in ddl and "url string" in ddl
    assert "url_bucket" not in ddl  # parquet-layout-only column
    fake = _FakeSql()
    assert scale.ensure_iceberg_table(fake, "crawl.db.results", df) == ddl
    assert fake.statements == [ddl]


def test_write_table_iceberg_drops_layout_bucket_column(spark):
    """Appending the bucketed frame through the Iceberg branch must drop the
    materialized url_bucket column (the table spec owns the fan-out) and
    still go through writeTo().append() — never the parquet writer."""
    calls: list = []
    df = _FakePartitionedDF(spark, calls, ["url", "text_out", "url_bucket"])
    scale.write_table(df, "crawl.db.results", fmt="iceberg",
                      cluster_by=("url_bucket",))
    assert calls == [("drop", ("url_bucket",)),
                     ("writeTo", "crawl.db.results"), "append"]
    # a frame without the layout column appends untouched
    calls2: list = []
    df2 = _FakePartitionedDF(spark, calls2, ["url", "text_out"])
    scale.write_table(df2, "crawl.db.results", fmt="iceberg",
                      cluster_by=("url_bucket",))
    assert calls2 == [("writeTo", "crawl.db.results"), "append"]
