"""CSV ingest: file discovery, latest-k selection, schema-declared scan.

Reference parity (SURVEY.md §2.1, §2.6):
- S1 prefix listing  : dag/vacancy_pipline_gpt_rerty.py:44-62 (boto3 list_objects_v2)
- P1 path predicate  : :82  (endswith('.csv') and len > 10)
- T1 latest-k pickup : :90-92 (sorted(files)[-4:])
- S2 CSV scan        : :102-109 (utf-8, header)

Spark-first re-expression: the listing is the file source's job. For object
stores the same code path takes ``s3a://bucket/prefix/`` URIs — the Hadoop
S3A connector replaces boto3, and a driver-side listing of 4 files is the
only non-distributed step (it is O(files), not O(data)). At 100 TB the
date-partitioned layout + ``pathGlobFilter`` keeps the listing bounded;
exactly-once pickup is the streaming source's checkpoint (streaming/ingest.py).
"""

from __future__ import annotations

from fnmatch import fnmatch

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.schemas import VACANCIES_RAW


def list_csv_files(
    spark: SparkSession,
    base_path: str,
    glob: str = "*.csv",
    min_path_len: int = 10,
) -> list[str]:
    """List files under ``base_path`` matching ``glob`` (S1 + P1).

    Uses the Hadoop FileSystem API so the same code works for file://, hdfs://
    and s3a:// URIs. Returns sorted fully-qualified paths.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    out = []
    for status in fs.listStatus(path):
        p = status.getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if status.isFile() and fnmatch(name, glob) and len(name) > min_path_len:
            out.append(p)
    return sorted(out)


def latest_k_paths(paths: list[str], k: int = 4) -> list[str]:
    """Newest-k by lexicographic filename order (T1; dag/...py:90-92).

    Works because the sink writes timestamped names (yyyyMMdd_HHmmss sorts
    lexicographically = chronologically). ``k`` must be at least 1.
    """
    if k < 1:
        raise ValueError(f"latest-k must be at least 1, got {k}")
    return sorted(paths)[-k:]


def read_vacancies_csv(
    spark: SparkSession,
    paths: list[str] | str,
    schema: T.StructType = VACANCIES_RAW,
    with_provenance: bool = True,
    escape: str = '"',
) -> DataFrame:
    """Schema-declared CSV scan (S2) with per-row file provenance.

    Multi-path read is the implicit union-all (U1; dag/...py:111-115) — one
    distributed scan instead of a per-file pandas loop. ``_input_file`` feeds
    the deterministic keep-first dedup survivor policy (operators/dedup.py).

    ``escape`` defaults to ``'"'`` — the RFC-4180 doubled-quote convention
    pandas ``to_csv`` uses (the reference writes its CSVs with pandas,
    dag/...py:827-830, where backslash is a literal character, not an
    escape). Pass ``"\\\\"`` only for sources that genuinely
    backslash-escape.
    """
    reader = (
        spark.read.schema(schema)
        .option("header", True)
        .option("encoding", "UTF-8")
        .option("quote", '"')
        .option("escape", escape)
        .option("mode", "PERMISSIVE")
    )
    df = reader.csv(paths)
    if with_provenance:
        df = df.withColumn("_input_file", F.input_file_name())
    return df
