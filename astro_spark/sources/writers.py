"""File writers per format, including single-file export parity.

Reference: ``export_to_file`` writes exactly ONE file via a pandas stream
(``files/base.py:117-128``, per-format writers in ``files/types/*.py``).
Spark writes directories of part-files; single-file parity is implemented
as ``coalesce(1)`` + Hadoop-FS rename.  At 100 TB you always want the
directory form (``single_file=False``) — partitioned parallel writes —
so the default here is directory output and single-file is an explicit,
small-data-only option (exactly the trade-off the reference's driver-side
writer silently imposes everywhere).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..exceptions import FileExistsConflictError
from ..file import FileType


def write_dataframe_to_file(
    df: DataFrame,
    path: str,
    filetype: FileType | str,
    if_exists: str = "replace",  # replace | exception (constants.py:88)
    single_file: bool | None = None,
    options: dict | None = None,
    partition_by: list[str] | None = None,
    target_file_mb: int | float | None = None,
) -> None:
    ftype = FileType(str(filetype).lower())
    if single_file is None:
        # extension-looking paths get one file, directory paths get parts
        single_file = bool(os.path.splitext(path)[1])

    if if_exists == "exception" and _path_exists(df.sparkSession, path):
        raise FileExistsConflictError(f"{path} already exists")

    if single_file:
        _write_single_file(df, path, ftype, options or {})
        return

    if target_file_mb is not None:
        # same sizing lever as table writes (operators/load_file.py):
        # Catalyst's byte estimate picks the task count; with
        # partition_by each partition value collapses to one file
        from ..operators.load_file import _repartition_to_target

        df = _repartition_to_target(df, target_file_mb, partition_by)

    writer = df.write.mode("overwrite")
    if options:
        writer = writer.options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if ftype == FileType.PARQUET:
        writer.parquet(path)
    elif ftype == FileType.ORC:
        writer.orc(path)
    elif ftype == FileType.CSV:
        writer.option("header", "true").csv(path)
    elif ftype in (FileType.JSON, FileType.NDJSON):
        writer.json(path)
    else:
        raise ValueError(f"directory export unsupported for {ftype}; use single_file")


def _write_single_file(df: DataFrame, path: str, ftype: FileType, options: dict) -> None:
    """coalesce(1) + rename: exact single-file semantics of the reference.

    Driver-side pandas fallback handles XLSX (and tiny results) the same
    way the reference does everywhere.
    """
    spark = df.sparkSession
    if ftype in (FileType.XLSX, FileType.XLS):
        import pandas as pd

        pdf = df.toPandas()
        try:
            if ftype == FileType.XLS:
                # pandas>=1.2 cannot write .xls at all (xlwt retired) —
                # the stdlib BIFF8 codec is the primary path, not a
                # fallback
                raise ImportError("no pandas .xls engine")
            pdf.to_excel(path, index=False)
        except ImportError:  # engine absent — stdlib codecs
            if ftype == FileType.XLS:
                from .xls import write_xls as _write_excel
            else:
                from .xlsx import write_xlsx as _write_excel

            rows = [
                [
                    None
                    if v is None or (isinstance(v, float) and v != v) or pd.isna(v)
                    else (v if isinstance(v, (str, int, float, bool)) else _plain(v))
                    for v in row
                ]
                for row in pdf.itertuples(index=False)
            ]
            _write_excel(list(pdf.columns), rows, path)
        return

    tmp_dir = path.rstrip("/") + "._astro_tmp"
    writer = df.coalesce(1).write.mode("overwrite")
    if options:
        writer = writer.options(**options)
    if ftype == FileType.PARQUET:
        writer.parquet(tmp_dir)
        ext = ".parquet"
    elif ftype == FileType.ORC:
        writer.orc(tmp_dir)
        ext = ".orc"
    elif ftype == FileType.CSV:
        writer.option("header", "true").csv(tmp_dir)
        ext = ".csv"
    elif ftype in (FileType.JSON, FileType.NDJSON):
        writer.json(tmp_dir)
        ext = ".json"
    else:  # pragma: no cover
        raise ValueError(f"unsupported filetype {ftype}")

    _rename_part_file(spark, tmp_dir, path, ext)


def _plain(v):
    """numpy scalars / timestamps → python natives for the XLSX writer."""
    if hasattr(v, "item"):
        return v.item()
    return str(v)


def _hadoop_fs(spark, path: str):
    """(Hadoop ``Path`` class, ``path`` as a Hadoop Path, its
    FileSystem) — the one gateway helper for Hadoop-FS calls."""
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    jpath = HPath(path)
    return HPath, jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _path_exists(spark, path: str) -> bool:
    _HPath, jpath, fs = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def _rename_part_file(spark, tmp_dir: str, dest: str, ext: str) -> None:
    HPath, jtmp, fs = _hadoop_fs(spark, tmp_dir)
    jdest = HPath(dest)
    part = None
    for status in fs.listStatus(jtmp):
        name = status.getPath().getName()
        if name.startswith("part-"):
            part = status.getPath()
            break
    if part is None:  # pragma: no cover
        raise RuntimeError(f"no part file produced under {tmp_dir}")
    if fs.exists(jdest):
        fs.delete(jdest, True)
    fs.rename(part, jdest)
    fs.delete(jtmp, True)
