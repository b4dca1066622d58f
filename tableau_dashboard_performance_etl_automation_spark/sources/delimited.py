"""Delimited-file bulk load with reject capture — the Spark form of
Vertica ``COPY … FROM LOCAL … DELIMITER … [SKIP 1] REJECTED DATA``
(reference: tabjolt_email.py:33-56, per-file manifest :361-366,
golden reject output rejected.txt).

Semantics preserved:

- per-file delimiter (``\\t`` for TSV, ``,`` for CSV) and optional
  header skip;
- unparseable rows (wrong shape, type-coercion failure on a declared
  column) are *diverted, not fatal*: good rows load, bad rows land in
  a reject sink as their raw text, and ``good + rejected == input``
  (row conservation, SURVEY.md §5);
- CSV quoting per RFC (the reference's golden input has quoted-comma
  fields, modified_workbook.csv:5).

Spark-first design: one PERMISSIVE CSV scan with a corrupt-record
column; the good/rejected split is two filters over the same cached
scan. At 100 TB this is a single distributed pass — the reject write
and the table write are separate jobs but share the shuffle-free scan;
no row ever visits the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from tableau_dashboard_performance_etl_automation_spark.catalog import (
    ensure_engine_confs,
)

_CORRUPT = "_corrupt_record"


@dataclass
class LoadResult:
    """Outcome of one COPY-like load."""

    good: DataFrame
    rejected: DataFrame  # single string column: the raw rejected line

    def counts(self) -> tuple[int, int]:
        return self.good.count(), self.rejected.count()


def load_delimited(
    spark: SparkSession,
    path: str,
    schema: StructType,
    delimiter: str = ",",
    skip_header: bool = False,
    reject_path: str | None = None,
) -> LoadResult:
    """Parse a delimited file against a declared schema, diverting
    malformed rows instead of failing the load.

    A row is rejected when Spark's PERMISSIVE parser flags it (extra
    tokens, quote errors, or a declared-type coercion failure) — the
    same class of rows Vertica's COPY spools to ``rejected.txt``.
    """
    ensure_engine_confs(spark)
    read_schema = StructType(
        list(schema.fields) + [StructField(_CORRUPT, StringType(), True)]
    )
    raw = (
        spark.read.schema(read_schema)
        .option("delimiter", delimiter)
        .option("header", "true" if skip_header else "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .option("enforceSchema", "true")
        .csv(path)
    )
    # One scan feeds both splits; caching avoids re-parsing the file
    # for the reject write. At cluster scale this is executor-local
    # memory/disk, never the driver. A cache entry left by an earlier
    # load of the same path would serve that load's rows even if the
    # file has since changed, so drop it first.
    raw.unpersist()
    raw = raw.cache()
    good = raw.filter(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    rejected = raw.filter(F.col(_CORRUPT).isNotNull()).select(
        F.col(_CORRUPT).alias("rejected_row")
    )
    if reject_path is not None:
        rejected.write.mode("overwrite").text(reject_path)
    return LoadResult(good=good, rejected=rejected)


def load_manifest(
    spark: SparkSession,
    manifest: list[tuple[str, str, StructType, str, bool]],
    reject_path: str | None = None,
    s3_config: dict | None = None,
) -> dict[str, LoadResult]:
    """Load a list of ``(path, view_name, schema, delimiter,
    skip_header)`` entries — the Spark form of the reference's
    ``files_to_load`` loop (tabjolt_email.py:361-372). Each good side
    is registered as a temp view (the ``tabjolt.<table>`` analog).

    With ``s3_config`` (the reference's config.json s3 section), the
    section's credentials are bridged to fs.s3a.* and bare object keys
    in the manifest resolve to ``s3a://bucket/folder/key`` — replacing
    the reference's driver-side boto3 download (tabjolt_email.py:17-31)
    with direct distributed reads. Local/schemed paths are untouched."""
    from tableau_dashboard_performance_etl_automation_spark.sources.s3 import (
        configure_s3a,
        resolve_extract_path,
    )

    if s3_config is not None:
        configure_s3a(spark, s3_config)
    results: dict[str, LoadResult] = {}
    for path, view_name, schema, delimiter, skip_header in manifest:
        res = load_delimited(
            spark,
            resolve_extract_path(path, s3_config),
            schema,
            delimiter=delimiter,
            skip_header=skip_header,
            reject_path=f"{reject_path}/{view_name}" if reject_path else None,
        )
        res.good.createOrReplaceTempView(view_name)
        results[view_name] = res
    return results
