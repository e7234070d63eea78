"""Source/sink surface (SURVEY.md §2.1).

The reference reads whole-file JSON dicts, pickles, TSV edge lists, and
text corpora, and writes per-block JSON files (whoiswho/utils.py:25-69,
dataset/data_process.py:60-84). Spark-first replacements:

| reference                  | here                                      |
|----------------------------|-------------------------------------------|
| load_json (whole dict)     | read_json (line/multiline, schema'd)       |
| pickle load/save           | parquet (read_table/write_table)           |
| TSV relation scan + set()  | read_tsv(...).distinct()                   |
| Text8 corpus scan          | read_text_corpus                           |
| per-name JSON sink         | write_partitioned (partitionBy block)      |
| chunked pickle merge       | native partitioned execution (no-op here)  |

At cluster scale these all become Iceberg table scans/appends; the
helpers keep a single seam for that swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_json(spark: SparkSession, path: str, schema: str | None = None,
              multiline: bool = False) -> DataFrame:
    r = spark.read
    if schema:
        r = r.schema(schema)
    return r.option("multiLine", multiline).json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_tsv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """TSV relation scan; the reference dedupes lines via set()
    (relational_features.py:19-27) — callers chain .distinct()."""
    return spark.read.schema(schema).option("sep", "\t").csv(path)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """(value STRING) lines — the Text8Corpus analog
    (semantic_features.py:33-39); tokenize downstream with split()."""
    return spark.read.text(path)


def write_partitioned(df: DataFrame, path: str, partition_col: str,
                      mode: str = "overwrite") -> None:
    """Partitioned parquet write — replaces one-file-per-block JSON
    (data_process.py:60-84); partition pruning replaces filename lookup."""
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed parquet table — the
    co-location primitive for repeated large joins: two tables bucketed
    the same way on the join key join with ZERO shuffle (SortMergeJoin
    reads aligned buckets directly; see test_bucketed_join_is_shuffle_free).

    This is how the pair/profile/cluster tables would be laid out at
    100 TB so every per-key stage (pair gen, cluster attach, incremental
    assign) reuses one physical partitioning instead of re-shuffling per
    query. (Iceberg's bucket-partition transform is the cluster twin;
    no Iceberg jars in this sandbox.)"""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)
