"""Sources (SURVEY.md §2.1).

Reference parity:
  - OLE DB / ADO.NET source (PRO/Глава 05:30-37)  -> ``read_jdbc``
  - Flat File source w/ error rows (PRO/Глава 13:76-83) -> ``read_csv``
    / ``read_csv_tolerant`` (PERMISSIVE + corrupt-record quarantine)
  - Raw File source (schema-embedded staging, PRO/Глава 05:33) -> parquet
  - Lake formats CSV/Parquet/ORC/JSON (DM/DataLake.md:22-23) -> native

All readers return plain DataFrames so Catalyst keeps pushdown/pruning:
filters land in parquet `PushedFilters`, projections in `ReadSchema`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bi_etl_and_integration_spark.operators.common import cached

#: the fixture star schema + stream/text/vector tables (TESTDATA.md)
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

_CORRUPT_COL = "_corrupt_record"

#: fixture columns stored as parquet TIMESTAMP(NANOS); with
#: ``spark.sql.legacy.parquet.nanosAsLong`` they arrive as epoch-nanos
#: longs and are normalized to timestamp_ntz here (TESTDATA events.ts)
_NANO_TS_COLS = {"ts"}


def _normalize_nanos(df: DataFrame) -> DataFrame:
    for field in df.schema.fields:
        if field.name in _NANO_TS_COLS and field.dataType == T.LongType():
            df = df.withColumn(
                field.name,
                F.timestamp_micros(
                    F.expr(f"`{field.name}` div 1000")  # exact integer div
                ).cast("timestamp_ntz"))
    return df


class Catalog:
    """Loads the fixture tables of an sf directory and registers temp views.

    Mirrors the reference's explicit-DDL stance (schema known up front,
    SCRIPTS/Скрипт для миграции из PostgreSQL в ClickHouse.md:8-55):
    parquet footers carry the authoritative schema, nothing is inferred.
    """

    def __init__(self, spark: SparkSession, sf_dir: str,
                 register_views: bool = True):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}
        if register_views:
            for t in TABLES:
                path = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    self.table(t).createOrReplaceTempView(t)

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            df = self.spark.read.parquet(
                os.path.join(self.sf_dir, f"{name}.parquet"))
            df = _normalize_nanos(df)
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def sql(self, text: str) -> DataFrame:
        """SQL entry point over the registered views (the ClickHouse
        datamart usage mode, DM/ passim): plain ``spark.sql`` — Catalyst
        treats SQL text and DataFrame calls identically (§3.2).
        Requires ``register_views=True`` (the default)."""
        return self.spark.sql(text)


def read_parquet(spark: SparkSession, path: str,
                 columns: list[str] | None = None,
                 merge_schema: bool = False) -> DataFrame:
    """Raw-file/lake parquet source.  ``merge_schema=True`` unions the
    schemas of all files (schema evolution across partitions: new
    columns read as null for old files) — the schema-on-read posture of
    DM/DataLake.md:34; costs a footer scan per file, so keep it off for
    fixed-schema tables."""
    r = spark.read
    if merge_schema:
        r = r.option("mergeSchema", "true")
    df = r.parquet(path)
    return df.select(*columns) if columns else df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_json(spark: SparkSession, path: str,
              schema: T.StructType | str | None = None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def read_csv(spark: SparkSession, path: str, *,
             schema: T.StructType | str | None = None,
             sep: str = ",", header: bool = True, quote: str = '"',
             encoding: str = "UTF-8", null_value: str = "",
             infer: bool = False) -> DataFrame:
    """Flat File Source.  ``infer=True`` is the explicit "profiling mode"
    the reference treats as hazardous (first-rows type guessing,
    PRO/Глава 13:32-33) — off by default, pass a schema."""
    r = (spark.read.option("sep", sep).option("header", header)
         .option("quote", quote).option("encoding", encoding)
         .option("nullValue", null_value))
    if schema is not None:
        r = r.schema(schema)
    elif infer:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_csv_tolerant(spark: SparkSession, path: str,
                      schema: T.StructType | str, *,
                      sep: str = ",", header: bool = True,
                      null_value: str = "",
                      max_errors: int = 1000,
                      max_error_ratio: float = 0.10,
                      ) -> tuple[DataFrame, DataFrame]:
    """Error-tolerant load (Q36): ClickHouse
    ``input_format_allow_errors_num=1000 / allow_errors_ratio=0.1``
    (SCRIPTS/Перелив данных из PostgreSQL в ClickHouse.md:121-129).

    Returns ``(good, bad)``.  Raises ``ValueError`` if the quarantine
    exceeds BOTH bounds, mirroring the reference's load-abort contract.
    The two counts come from one cached pass, not two reads.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    full = T.StructType(list(schema.fields) +
                        [T.StructField(_CORRUPT_COL, T.StringType(), True)])
    df = (spark.read.schema(full)
          .option("sep", sep).option("header", header)
          .option("nullValue", null_value)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", _CORRUPT_COL)
          .csv(path))
    df = cached(df)
    bad = df.where(F.col(_CORRUPT_COL).isNotNull())
    good = df.where(F.col(_CORRUPT_COL).isNull()).drop(_CORRUPT_COL)
    n_bad = bad.count()
    n_total = df.count()
    if n_bad > max_errors and n_total and n_bad / n_total > max_error_ratio:
        raise ValueError(
            f"error-tolerant load aborted: {n_bad}/{n_total} corrupt rows "
            f"exceed num>{max_errors} and ratio>{max_error_ratio}")
    return good, bad.select(F.col(_CORRUPT_COL).alias("raw_record"))


def read_jdbc(spark: SparkSession, url: str, *, query: str | None = None,
              dbtable: str | None = None, params: dict | None = None,
              partition_column: str | None = None,
              num_partitions: int | None = None,
              lower_bound=None, upper_bound=None,
              fetchsize: int = 10_000, **options) -> DataFrame:
    """OLE DB / ADO.NET / ODBC source (PRO/Глава 05:30-37).

    SSIS ``?`` parameter placeholders (APRESS/004.md:5-13) are bound via
    ``params``: ``query="... WHERE d > :since", params={"since": ...}``.
    Partitioned parallel read mirrors the reference's parallel-extract
    pattern (SCRIPTS/Перелив...md:251, `parallel -j 4`).
    """
    if (query is None) == (dbtable is None):
        raise ValueError("exactly one of query / dbtable required")
    if query is not None and params:
        for k, v in params.items():
            lit = f"'{v}'" if isinstance(v, str) else str(v)
            query = query.replace(f":{k}", lit)
    r = spark.read.format("jdbc").option("url", url).option(
        "fetchsize", str(fetchsize))
    if query is not None:
        r = r.option("query", query)
    else:
        r = r.option("dbtable", dbtable)
    if partition_column is not None:
        r = (r.option("partitionColumn", partition_column)
             .option("numPartitions", str(num_partitions or 4))
             .option("lowerBound", str(lower_bound))
             .option("upperBound", str(upper_bound)))
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()
