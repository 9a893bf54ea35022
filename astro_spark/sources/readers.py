"""Distributed file readers per format.

Reference format handlers: ``files/types/{csv,json,ndjson,parquet,excel}.py``
— each wraps a pandas ``read_*`` and is driven row-chunk-at-a-time through
the driver.  Spark replaces all of that with executor-parallel readers; the
only driver-side path left is XLS(X) (no distributed reader exists; the
files are small by construction — reference also reads them via pandas).

Scale notes:
- Parquet/CSV/JSON reads are split by ``spark.sql.files.maxPartitionBytes``
  (default 128MB) → a 100 TB input becomes ~800k parallel tasks; no code
  here needs to change.
- Schema inference on huge CSV/JSON inputs samples via ``samplingRatio``;
  the reference's 1000-row cap (``settings.py:71-73``) maps to
  ``infer_sample_rows`` below: we infer on a LIMITed copy, then re-read the
  full input with the locked schema so inference cost is O(sample), not
  O(input).
- Parquet schemas come from the footers, read on the driver
  (``parquet_footers``): Spark's own inference reads the same footer
  but through a one-task job, which dominates a small load.  Inputs
  past ``spark.sql.sources.parallelPartitionDiscovery.threshold`` files
  keep Spark's inference, which lists them with a job anyway.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

from ..file import File, FileType
from ..plans.flatten import flatten_structs

#: reference LOAD_TABLE_AUTODETECT_ROWS_COUNT (settings.py:71-73)
DEFAULT_AUTODETECT_ROWS = 1000


def read_file(
    spark: SparkSession,
    file: File,
    schema=None,
    columns_names_capitalization: str = "original",
    infer_sample_rows: int = DEFAULT_AUTODETECT_ROWS,
    csv_options: dict | None = None,
    merge_schema: bool = False,
    rescue_malformed: bool = False,
) -> DataFrame:
    """Read a file/glob/directory into a DataFrame (lazy plan).

    Mirrors ``BaseDatabase.load_file_to_table``'s read half
    (``databases/base.py:474-542``) minus the per-backend native/pandas
    duality — Spark *is* the parallel native path for every format.

    ``rescue_malformed=True`` (CSV/NDJSON) captures rows that fail the
    schema into a ``_corrupt_record`` string column instead of nulling
    them silently — the quarantine-and-continue semantics a 100 TB
    ingest needs (PERMISSIVE mode keeps the scan distributed; bad rows
    are filtered downstream with ``_corrupt_record IS NOT NULL``).
    """
    from .locations import stage_if_needed

    ftype = file.filetype or FileType.PARQUET
    path = stage_if_needed(file.path)

    if ftype == FileType.PARQUET:
        if schema is None and not merge_schema:
            footers = parquet_footers(spark, path)
            schema = footers.schema if footers else None
        # merge_schema: schema evolution across files (drifted columns
        # union into one schema, absent values read as NULL) — footer
        # reconciliation only, no data rewrite
        reader = spark.read.option("mergeSchema", str(merge_schema).lower())
        df = (reader if schema is None else reader.schema(schema)).parquet(path)
    elif ftype == FileType.ORC:
        if schema is not None:
            df = spark.read.schema(schema).orc(path)
        elif merge_schema:
            df = spark.read.option("mergeSchema", "true").orc(path)
        else:
            df = spark.read.orc(path)
    elif ftype == FileType.CSV:
        opts = {"header": "true", "mode": "PERMISSIVE"}
        if csv_options:
            opts.update(csv_options)
        if rescue_malformed:
            opts["columnNameOfCorruptRecord"] = "_corrupt_record"
        reader = spark.read.options(**opts)
        if schema is None:
            schema = _infer_csv_schema_capped(spark, path, opts, infer_sample_rows)
        if rescue_malformed and "_corrupt_record" not in schema.fieldNames():
            from pyspark.sql.types import StringType, StructField, StructType

            # StructType.add mutates in place — copy so a caller-supplied
            # schema reused for a later read doesn't carry the extra column
            schema = StructType(
                list(schema.fields) + [StructField("_corrupt_record", StringType())]
            )
        df = reader.schema(schema).csv(path)
    elif ftype == FileType.JSON:
        # whole-document JSON (reference files/types/json.py): multiLine
        reader = spark.read.option("multiLine", "true")
        df = reader.schema(schema).json(path) if schema is not None else reader.json(path)
        df = _maybe_flatten(df, file)
    elif ftype == FileType.NDJSON:
        reader = spark.read
        if rescue_malformed:
            from pyspark.sql.types import StringType, StructField, StructType

            if schema is None:
                schema = spark.read.json(path).schema
            if "_corrupt_record" not in schema.fieldNames():
                schema = StructType(
                    list(schema.fields)
                    + [StructField("_corrupt_record", StringType())]
                )
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
        df = reader.schema(schema).json(path) if schema is not None else reader.json(path)
        df = _maybe_flatten(df, file)
    elif ftype in (FileType.XLSX, FileType.XLS):
        df = _read_excel_driver_side(spark, path)
    else:  # pragma: no cover
        raise ValueError(f"unsupported filetype {ftype}")

    if columns_names_capitalization == "lower":
        df = df.toDF(*[c.lower() for c in df.columns])
    elif columns_names_capitalization == "upper":
        df = df.toDF(*[c.upper() for c in df.columns])
    return df


class ParquetFooters(NamedTuple):
    """A flat parquet input whose data files all carry one schema."""

    files: list[str]  # qualified data-file paths, sorted
    sizes: list[int]  # their byte lengths
    schema: StructType  # what ``spark.read.parquet`` infers for them


def parquet_footers(
    spark: SparkSession, paths: str | Sequence[str]
) -> ParquetFooters | None:
    """List a parquet input and read its footers on the driver.

    The schema comes from Spark's own converter
    (``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` built from the session's SQLConf),
    so it is the schema ``spark.read.parquet`` would infer, without the
    inference job.  Returns None — read through Spark's inference —
    when the input is not flat (a subdirectory means partition
    discovery), holds summary files, names a hidden file, has more
    than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` data
    files, or its footers disagree; also on any JVM-side error, so a
    missing or corrupt input raises Spark's usual error from the read.
    """
    try:
        return _read_footers(spark, [paths] if isinstance(paths, str) else list(paths))
    except Py4JError:
        return None


def _hidden(name: str) -> bool:
    """Spark's listing filter (``InMemoryFileIndex.shouldFilterOutPathName``)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _read_footers(spark: SparkSession, paths: list[str]) -> ParquetFooters | None:
    jvm, jss = spark._jvm, spark._jsparkSession
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    HPath = jvm.org.apache.hadoop.fs.Path
    hconf = jss.sessionState().newHadoopConf()
    limit = jss.sessionState().conf().parallelPartitionDiscoveryThreshold()
    files = []
    for p in paths:
        jpath = HPath(p)
        fs = jpath.getFileSystem(hconf)
        matches = fs.globStatus(jpath)
        if not matches:
            return None
        for st in matches:
            if _hidden(st.getPath().getName()):
                return None
            for child in fs.listStatus(st.getPath()) if st.isDirectory() else [st]:
                name = child.getPath().getName()
                if name.startswith(("_metadata", "_common_metadata")):
                    return None
                if _hidden(name):
                    continue
                if child.isDirectory():
                    return None
                files.append((child.getPath().toString(), child.getLen()))
                if len(files) > limit:
                    return None
    if not files:
        return None
    files.sort()
    converter = parquet.ParquetToSparkSchemaConverter(jss.sessionState().conf())
    skip_row_groups = (
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    schema = None
    for f, _size in files:
        jf = HPath(f)
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            hconf, jf, skip_row_groups
        )
        footer = jvm.org.apache.parquet.hadoop.Footer(jf, meta)
        # file sources read every column as nullable
        one = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
        one = one.asNullable().json()
        if schema is not None and one != schema:
            return None
        schema = one
    return ParquetFooters(
        [f for f, _ in files], [n for _, n in files], _parse_datatype_json_string(schema)
    )


def read_parquet(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the footer schema supplied when
    ``parquet_footers`` applies, so building the DataFrame starts no job."""
    footers = parquet_footers(spark, paths)
    reader = spark.read if footers is None else spark.read.schema(footers.schema)
    return reader.parquet(*([paths] if isinstance(paths, str) else paths))


def _infer_csv_schema_capped(
    spark: SparkSession, path: str, opts: dict, sample_rows: int
):
    """Infer a CSV schema from the first ``sample_rows`` rows of the FIRST
    matching file only.

    Reference parity: LOAD_TABLE_AUTODETECT_ROWS_COUNT = 1000 rows of the
    first file (``databases/base.py:283-319``, first-file-only comment at
    438-441).  Scale win: Spark's stock ``inferSchema`` runs a SECOND full
    pass over the input; sampling the head keeps inference O(sample) for
    a 100 TB CSV load.
    """
    from ..operators.files import get_file_list

    files = [
        f
        for f in get_file_list(spark, path)
        if not os.path.basename(f).startswith(("_", "."))
    ]
    first = files[0] if files else path
    head = spark.read.text(first).limit(sample_rows + 1)  # +1 header line
    return (
        spark.read.options(**opts)
        .option("inferSchema", "true")
        .csv(head.rdd.map(lambda r: r.value))
        .schema
    )


def _maybe_flatten(df: DataFrame, file: File) -> DataFrame:
    """Apply json_normalize-style flatten (reference ndjson.py:54-96).

    ``normalize_config={"sep": "_"}``; pass ``normalize_config={"flatten":
    False}`` to keep Spark's native nested structs (strict upgrade over the
    reference).
    """
    cfg = file.normalize_config or {}
    if cfg.get("flatten", True):
        return flatten_structs(df, sep=cfg.get("sep", "_"))
    return df


def _read_excel_driver_side(spark: SparkSession, path: str) -> DataFrame:
    """XLS(X): no distributed reader; driver-side parse then parallelize
    (reference also reads driver-side via pandas.read_excel,
    files/types/excel.py:13-46).  pandas+openpyxl/xlrd when available
    (widest format coverage); otherwise the stdlib OOXML codec
    (sources/xlsx.py) handles .xlsx and the stdlib BIFF8/CFB codec
    (sources/xls.py) handles legacy binary .xls.
    """
    import pandas as pd

    try:
        pdf = pd.read_excel(path)
    except ImportError:  # openpyxl/xlrd missing — stdlib codecs
        if path.lower().endswith(".xls"):
            from .xls import read_xls

            header, rows = read_xls(path)
        else:
            from .xlsx import read_xlsx

            header, rows = read_xlsx(path)
        pdf = pd.DataFrame(rows, columns=header)
    return spark.createDataFrame(pdf)
