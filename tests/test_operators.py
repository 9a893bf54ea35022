"""Operator integration tests against a local SparkSession + testdata.

Collapses the reference's tier-2 backend matrix (SURVEY §5) into one
Spark engine; golden comparisons via DataFrame equality."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

import astro_spark as a
from astro_spark.exceptions import MergeConflictError, NonExistentTableError
from astro_spark.sources.tt_log import TableLog, _copy_body
from astro_spark.testdata import read_table


@pytest.fixture()
def nation_table(spark, sf_dir):
    spark.sql("DROP TABLE IF EXISTS t_nation")
    read_table(spark, sf_dir, "nation").write.format("parquet").saveAsTable("t_nation")
    return a.Table("t_nation")


class TestLoadFile:
    def test_parquet_to_dataframe(self, spark, sf_dir):
        df = a.load_file(spark, f"{sf_dir}/region.parquet")
        assert df.count() == 5

    def test_parquet_to_table_replace_and_append(self, spark, sf_dir):
        t = a.Table("t_load_region")
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t)
        assert t.row_count(spark) == 5
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t, if_exists="append")
        assert t.row_count(spark) == 10
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t)  # replace
        assert t.row_count(spark) == 5

    def test_capitalization(self, spark, sf_dir):
        df = a.load_file(
            spark, f"{sf_dir}/region.parquet", columns_names_capitalization="upper"
        )
        assert df.columns == ["R_REGIONKEY", "R_NAME"]

    def test_csv_with_inference(self, spark, sf_dir, tmp_path):
        p = str(tmp_path / "r.csv")
        a.export_to_file(spark, read_table(spark, sf_dir, "region"), p)
        df = a.load_file(spark, p)
        assert df.count() == 5
        assert dict(df.dtypes)["r_regionkey"] in ("int", "bigint")

    def test_glob_pattern(self, spark, sf_dir, tmp_path):
        region = read_table(spark, sf_dir, "region")
        a.export_to_file(spark, region, str(tmp_path / "a.csv"))
        a.export_to_file(spark, region, str(tmp_path / "b.csv"))
        df = a.load_file(spark, str(tmp_path / "*.csv"))
        assert df.count() == 10


def _type_matrix(nanos: bool = True):
    """A pyarrow table with one column per parquet type family Spark
    converts."""
    import datetime
    import decimal

    import pyarrow as pa

    ts = [datetime.datetime(2024, 3, 1, 10, 0, 0, 123000), None]
    cols = {
        "i8": pa.array([-3, None], pa.int8()),
        "u8": pa.array([250, 1], pa.uint8()),
        "u32": pa.array([4_000_000_000, None], pa.uint32()),
        "u64": pa.array([2**63 + 5, 1], pa.uint64()),
        "f": pa.array([1.5, None], pa.float32()),
        "dec": pa.array([decimal.Decimal("12.34"), None], pa.decimal128(9, 2)),
        "s": pa.array(["a", None]),
        "b": pa.array([b"\x00x", None], pa.binary()),
        "d": pa.array([datetime.date(2024, 3, 1), None], pa.date32()),
        "lst": pa.array([[1, 2], None], pa.list_(pa.int32())),
        "st": pa.array([{"x": 1, "y": "q"}, None], pa.struct([("x", pa.int64()), ("y", pa.string())])),
        "m": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())),
        "nul": pa.array([None, None], pa.null()),
        "MixedCase": pa.array([1, 2], pa.int64()),
    }
    for unit in ("ms", "us") + (("ns",) if nanos else ()):
        cols[f"ts_{unit}"] = pa.array(ts, pa.timestamp(unit))
        cols[f"ts_{unit}_tz"] = pa.array(ts, pa.timestamp(unit, tz="UTC"))
    return pa.table(cols)


def _write_parquet(table, path) -> str:
    import pyarrow.parquet as pq

    pq.write_table(table, str(path))
    return str(path)


def _fallback_inputs(spark, d) -> tuple[str, str, str]:
    """Parquet inputs the copy path declines: a Hive-partitioned dir, a
    glob over files with differing schemas, and a TIMESTAMP(NANOS) file
    (one footer schema, but its column reads as longs only under
    ``nanosAsLong``)."""
    import pyarrow as pa

    part = str(d / "part")
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(part)
    mixed = d / "mixed"
    mixed.mkdir(parents=True)
    _write_parquet(pa.table({"x": [1]}), mixed / "a.parquet")
    _write_parquet(pa.table({"x": [2], "y": ["b"]}), mixed / "b.parquet")
    nanos = _write_parquet(_type_matrix().select(["s", "ts_ns"]), d / "ns.parquet")
    return part, str(mixed / "*.parquet"), nanos


def _jobs_during(spark, fn) -> int:
    """How many Spark jobs ``fn()`` started: the status tracker's job-id
    delta, read after the listener bus drained."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    fn()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup()) - before)


def _spark_written(spark, table: str) -> bool:
    """Whether the table's data files came from a Spark write (the
    rewrite path) rather than byte copies of a pyarrow-written source."""
    import pyarrow.parquet as pq

    files = spark.table(table).inputFiles()
    assert files
    return all(
        b"org.apache.spark.version" in (pq.read_metadata(f.removeprefix("file:")).metadata or {})
        for f in files
    )


class TestNativeParquetLoad:
    """load_file's native parquet path: footer schema + file-copy load."""

    def test_footer_schema_matches_inference(self, spark, tmp_path):
        from astro_spark.sources.readers import parquet_footers

        src = _write_parquet(_type_matrix(), tmp_path / "matrix.parquet")
        spark_dir = str(tmp_path / "spark_dir")
        spark.range(40).selectExpr(
            "id", "CAST(id AS DECIMAL(20, 3)) AS dec", "DATE '2024-01-01' + CAST(id AS INT) AS d",
            "named_struct('a', id, 'B', CAST(id AS STRING)) AS st",
        ).repartition(3).write.parquet(spark_dir)
        for path in (src, spark_dir, str(tmp_path / "*.parquet")):
            footers = parquet_footers(spark, path)
            assert footers is not None, path
            assert footers.schema == spark.read.parquet(path).schema, path
        assert len(parquet_footers(spark, spark_dir).files) == 3
        assert parquet_footers(spark, str(tmp_path / "absent.parquet")) is None
        # partition discovery and disagreeing footers read through
        # Spark's inference
        part, mixed, _nanos = _fallback_inputs(spark, tmp_path / "fallback")
        assert parquet_footers(spark, part) is None
        assert parquet_footers(spark, mixed) is None

    def test_parquet_honors_explicit_schema(self, spark, sf_dir):
        from pyspark.sql.types import IntegerType, StringType, StructField, StructType

        schema = StructType(
            [StructField("r_name", StringType()), StructField("r_regionkey", IntegerType())]
        )
        df = a.load_file(spark, f"{sf_dir}/region.parquet", schema=schema)
        assert df.columns == ["r_name", "r_regionkey"]
        assert df.schema == schema
        t = a.Table("t_native_cols", columns=list(schema.fields))
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t)
        assert spark.table(t.name).columns == ["r_name", "r_regionkey"]
        assert t.row_count(spark) == 5

    def test_copy_load_equals_source(self, spark, tmp_path):
        single = _write_parquet(_type_matrix(nanos=False), tmp_path / "m.parquet")
        multi = str(tmp_path / "multi")
        spark.range(30).selectExpr("id", "CAST(id AS STRING) AS s").repartition(2).write.parquet(multi)
        for i, src in enumerate((single, multi)):
            name = f"t_native_copy_{i}"
            a.load_file(spark, src, output_table=a.Table(name))
            got, want = spark.table(name), spark.read.parquet(src)
            assert got.schema == want.schema
            assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
            assert len(got.inputFiles()) == (1 if i == 0 else 2)
        assert not _spark_written(spark, "t_native_copy_0")
        t = a.Table("t_native_copy_db", metadata=a.Metadata(schema="native_db"))
        a.load_file(spark, single, output_table=t)
        assert t.row_count(spark) == 2 and not _spark_written(spark, t.qualified_name)

    def test_parquet_loads_start_no_job(self, spark, sf_dir):
        src = f"{sf_dir}/nation.parquet"
        t = a.Table("t_native_jobs")
        a.load_file(spark, src, output_table=t)  # warm the catalog path
        load_jobs = _jobs_during(spark, lambda: a.load_file(spark, src, output_table=t))
        read_jobs = _jobs_during(spark, lambda: a.load_file(spark, src))
        assert (load_jobs, read_jobs) == (0, 0)
        assert t.row_count(spark) == 25

    def test_fallbacks_match_rewrite(self, spark, sf_dir, tmp_path):
        """Each input or option the copy path declines is loaded by the
        read→saveAsTable rewrite, with its usual result."""
        for i, src in enumerate(_fallback_inputs(spark, tmp_path)):
            name = f"t_native_fb_{i}"
            a.load_file(spark, src, output_table=a.Table(name))
            got, want = spark.table(name), spark.read.parquet(src)
            assert _spark_written(spark, name), src
            assert sorted(got.columns) == sorted(want.columns)
            assert sorted(map(repr, got.select(*want.columns).collect())) == sorted(
                map(repr, want.collect())
            )
        region = f"{sf_dir}/region.parquet"
        t = a.Table("t_native_fb_upper")
        a.load_file(spark, region, output_table=t, columns_names_capitalization="upper")
        assert spark.table(t.name).columns == ["R_REGIONKEY", "R_NAME"]
        assert _spark_written(spark, t.name)
        t = a.Table("t_native_fb_layout")
        a.load_file(spark, region, output_table=t, partition_by=["r_regionkey"])
        parts = [c.name for c in spark.catalog.listColumns(t.name) if c.isPartition]
        assert parts == ["r_regionkey"] and t.row_count(spark) == 5
        t = a.Table("t_native_fb_append")
        a.load_file(spark, region, output_table=t)
        a.load_file(spark, region, output_table=t, if_exists="append")
        assert t.row_count(spark) == 10
        assert len(spark.table(t.name).inputFiles()) == 2

    def test_copy_failure_keeps_old_table(self, spark, sf_dir, monkeypatch):
        import shutil

        t = a.Table("t_native_fail")
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

        def boom(*args, **kwargs):
            raise OSError("disk full")

        with monkeypatch.context() as m:
            m.setattr(shutil, "copyfile", boom)
            with pytest.raises(OSError, match="disk full"):
                a.load_file(spark, f"{sf_dir}/nation.parquet", output_table=t)
        assert t.row_count(spark) == 5
        assert not [n for n in os.listdir(warehouse) if n.startswith(".astro_load_")]
        a.load_file(spark, f"{sf_dir}/nation.parquet", output_table=t)
        assert t.row_count(spark) == 25

    def test_failure_after_drop_leaves_no_table(self, spark, sf_dir, monkeypatch):
        t = a.Table("t_native_fail_late")
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

        def boom(*args, **kwargs):
            raise OSError("rename failed")

        with monkeypatch.context() as m:
            m.setattr(os, "replace", boom)
            with pytest.raises(OSError, match="rename failed"):
                a.load_file(spark, f"{sf_dir}/nation.parquet", output_table=t)
        assert not spark.catalog.tableExists(t.name)
        assert not os.path.exists(os.path.join(warehouse, t.name))
        assert not [n for n in os.listdir(warehouse) if n.startswith(".astro_load_")]
        a.load_file(spark, f"{sf_dir}/nation.parquet", output_table=t)
        assert t.row_count(spark) == 25

    def test_table_independent_of_source(self, spark, sf_dir, tmp_path):
        import shutil

        src = str(tmp_path / "n.parquet")
        shutil.copyfile(f"{sf_dir}/nation.parquet", src)
        t = a.Table("t_native_indep")
        a.load_file(spark, src, output_table=t)
        shutil.copyfile(f"{sf_dir}/region.parquet", src)
        spark.catalog.refreshTable(t.name)
        assert t.row_count(spark) == 25
        assert "n_name" in spark.table(t.name).columns


class TestTransform:
    def test_decorator(self, spark, nation_table):
        @a.transform
        def big_nations(nation: a.Table, min_key: int) -> str:
            return "SELECT * FROM {{nation}} WHERE n_nationkey >= {{min_key}}"

        out = big_nations(spark, nation_table, 20, output_table=a.TempTable())
        assert spark.table(out.name).count() == 5

    def test_ctas_materializes(self, spark, nation_table):
        out = a.run_transform(
            spark, "SELECT COUNT(*) AS n FROM {{t}}", {"t": nation_table}
        )
        assert spark.table(out.name).collect()[0].n == 25


class TestEventSqlRecipes:
    def test_funnel_via_transform_equals_operator(self, spark, sf_dir):
        """The reference's "user writes SQL" path (SURVEY §2.4) reaches
        the funnel: the recipe SQL through run_transform produces the
        operator's exact rows."""
        import uuid

        from astro_spark.functions.events import funnel, funnel_spark_sql
        from astro_spark.operators.load_file import save_dataframe_as_table

        ev = read_table(spark, sf_dir, "events")
        t = a.Table(f"ev_recipe_{uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(ev, t)
        steps = ["view", "click", "purchase"]
        out = a.run_transform(spark, funnel_spark_sql(steps), {"events": t})
        got = {
            (r.step_idx, r.step, r.n_users)
            for r in spark.table(out.name).collect()
        }
        want = {
            (r.step_idx, r.step, r.n_users)
            for r in funnel(ev, steps).collect()
        }
        assert got == want

    def test_cohort_via_transform_equals_operator(self, spark, sf_dir):
        import uuid

        from astro_spark.functions.events import (
            cohort_retention,
            cohort_retention_spark_sql,
        )
        from astro_spark.operators.load_file import save_dataframe_as_table

        ev = read_table(spark, sf_dir, "events")
        t = a.Table(f"ev_recipe_{uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(ev, t)
        out = a.run_transform(spark, cohort_retention_spark_sql(), {"events": t})
        got = {
            (r.cohort_wk, r.offset_wk, r.n_users)
            for r in spark.table(out.name).collect()
        }
        want = {
            (r.cohort_wk, r.offset_wk, r.n_users)
            for r in cohort_retention(ev).collect()
        }
        assert got == want


class TestAppendMerge:
    def test_append_missing_target_raises(self, spark):
        with pytest.raises(NonExistentTableError):
            a.append(spark, a.Table("nope_src"), a.Table("nope_tgt"))

    def test_merge_source_dups_deduped(self, spark, sf_dir):
        """Delta MERGE would error on dup source keys; we pre-dedupe
        deterministically (SURVEY §7 decision)."""
        region = read_table(spark, sf_dir, "region")
        spark.sql("DROP TABLE IF EXISTS m_tgt")
        spark.sql("DROP TABLE IF EXISTS m_src")
        region.write.format("parquet").saveAsTable("m_tgt")
        dup = region.union(region.withColumn("r_name", F.lit("ZZZ")))
        dup.write.format("parquet").saveAsTable("m_src")
        a.merge(spark, a.Table("m_src"), a.Table("m_tgt"), ["r_regionkey"], if_conflicts="update")
        res = spark.table("m_tgt")
        assert res.count() == 5  # still 5 keys
        # deterministic winner: first row by stable sort over all cols
        names = {r.r_regionkey: r.r_name for r in res.collect()}
        assert all(v is not None for v in names.values())

    def test_merge_from_sql_update_and_ignore(self, spark, sf_dir):
        """The reference's generated Delta MERGE INTO text executes
        against plain parquet tables: the MATCHED+UPDATE form upserts,
        the insert-only form appends new keys and leaves matches alone
        (backticks optional, case-insensitive)."""
        import uuid as _uuid

        sfx = _uuid.uuid4().hex[:8]
        tgt, src = f"msql_t_{sfx}", f"msql_s_{sfx}"
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string"
        ).write.format("parquet").saveAsTable(tgt)
        spark.createDataFrame(
            [(2, "B2"), (3, "c")], "k long, v string"
        ).write.format("parquet").saveAsTable(src)
        stmt = (
            f"merge into {tgt} as `target_table` "
            f"using {src} as `source_table` "
            "on `target_table`.`k`=`source_table`.`k` "
            "when matched then UPDATE SET "
            "target_table.k = source_table.k, "
            "target_table.v = source_table.v "
            "when not matched then insert"
            "(target_table.k,target_table.v) "
            "values (source_table.k,source_table.v)"
        )
        a.run_raw_sql(spark, stmt)
        got = {(r.k, r.v) for r in spark.table(tgt).collect()}
        assert got == {(1, "a"), (2, "B2"), (3, "c")}

        # insert-only (no WHEN MATCHED) → ignore semantics
        spark.createDataFrame(
            [(3, "ZZZ"), (4, "d")], "k long, v string"
        ).write.mode("overwrite").format("parquet").saveAsTable(src)
        a.merge_from_sql(
            spark,
            f"MERGE INTO {tgt} AS t USING {src} AS s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (t.k, t.v) VALUES (s.k, s.v);",
        )
        got = {(r.k, r.v) for r in spark.table(tgt).collect()}
        assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}

    def test_run_raw_sql_merge_fallback_and_post_queries(self, spark):
        """run_raw_sql's MERGE interception (ADVICE r9): grammar-
        unsupported MERGE text falls back to spark.sql (surfacing
        Spark's own error on plain parquet, not our grammar
        ValueError), and post_queries run on the MERGE path just like
        every other statement type."""
        import uuid as _uuid

        from pyspark.errors import UnsupportedOperationException

        from astro_spark.operators.raw_sql import QueryModifier

        sfx = _uuid.uuid4().hex[:8]
        tgt, src = f"mfall_t_{sfx}", f"mfall_s_{sfx}"
        spark.createDataFrame(
            [(1, "a")], "k long, v string"
        ).write.format("parquet").saveAsTable(tgt)
        spark.createDataFrame(
            [(1, "A2"), (2, "b")], "k long, v string"
        ).write.format("parquet").saveAsTable(src)

        # WHEN MATCHED THEN DELETE is valid Spark MERGE grammar but
        # outside merge_from_sql's allowlist: it must reach spark.sql
        # (which rejects MERGE on v1 parquet with UNSUPPORTED_FEATURE),
        # not die in our parser with a grammar ValueError
        with pytest.raises(UnsupportedOperationException):
            a.run_raw_sql(
                spark,
                f"MERGE INTO {tgt} AS t USING {src} AS s ON t.k = s.k "
                "WHEN MATCHED THEN DELETE",
            )

        # a supported MERGE still executes AND post_queries fire
        marker = f"mfall_post_{sfx}"
        a.run_raw_sql(
            spark,
            f"MERGE INTO {tgt} AS t USING {src} AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v "
            "WHEN NOT MATCHED THEN INSERT (t.k, t.v) VALUES (s.k, s.v)",
            query_modifier=QueryModifier(
                post_queries=[f"CREATE TABLE {marker} AS SELECT 1 AS ok"]
            ),
        )
        got = {(r.k, r.v) for r in spark.table(tgt).collect()}
        assert got == {(1, "A2"), (2, "b")}
        assert spark.catalog.tableExists(marker)
        for t in (tgt, src, marker):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_merge_from_sql_multi_key(self, spark):
        """Composite ON keys (AND-chained equalities) upsert on the
        full key tuple."""
        import uuid as _uuid

        sfx = _uuid.uuid4().hex[:8]
        tgt, src = f"msqlmk_t_{sfx}", f"msqlmk_s_{sfx}"
        spark.createDataFrame(
            [(1, 10, "a"), (1, 20, "b")], "k1 long, k2 long, v string"
        ).write.format("parquet").saveAsTable(tgt)
        spark.createDataFrame(
            [(1, 20, "B2"), (2, 10, "c")], "k1 long, k2 long, v string"
        ).write.format("parquet").saveAsTable(src)
        a.merge_from_sql(
            spark,
            f"MERGE INTO {tgt} AS t USING {src} AS s "
            "ON t.k1 = s.k1 AND t.k2 = s.k2 "
            "WHEN MATCHED THEN UPDATE SET t.k1 = s.k1, t.k2 = s.k2, "
            "t.v = s.v "
            "WHEN NOT MATCHED THEN INSERT (t.k1, t.k2, t.v) "
            "VALUES (s.k1, s.k2, s.v)",
        )
        got = {(r.k1, r.k2, r.v) for r in spark.table(tgt).collect()}
        assert got == {(1, 10, "a"), (1, 20, "B2"), (2, 10, "c")}

    def test_merge_from_sql_rejects_injection_and_bad_grammar(self, spark):
        from astro_spark.exceptions import IllegalIdentifierError

        # a quoted-injection table name can't even parse (the grammar's
        # identifier class has no room for spaces/semicolons)
        with pytest.raises(ValueError, match="grammar"):
            a.merge_from_sql(
                spark,
                "merge into `x; drop table y` as t using s2 as s "
                "on t.k = s.k "
                "when not matched then insert (t.k) values (s.k)",
            )
        # a parseable but allowlist-illegal identifier hits the strict
        # validator before any SQL is built
        with pytest.raises(IllegalIdentifierError):
            a.merge_from_sql(
                spark,
                "merge into 1bad as t using s2 as s on t.k = s.k "
                "when not matched then insert (t.k) values (s.k)",
            )
        with pytest.raises(ValueError, match="grammar"):
            a.merge_from_sql(spark, "merge into t using s")
        with pytest.raises(ValueError, match="ON condition"):
            a.merge_from_sql(
                spark,
                "merge into t1 as t using s1 as s on t.k > s.k "
                "when not matched then insert (t.k) values (s.k)",
            )

    def test_merge_exception(self, spark, sf_dir):
        region = read_table(spark, sf_dir, "region")
        spark.sql("DROP TABLE IF EXISTS me_tgt")
        spark.sql("DROP TABLE IF EXISTS me_src")
        region.write.format("parquet").saveAsTable("me_tgt")
        region.write.format("parquet").saveAsTable("me_src")
        with pytest.raises(MergeConflictError):
            a.merge(spark, a.Table("me_src"), a.Table("me_tgt"), ["r_regionkey"])

    def test_merge_exception_disjoint_ok(self, spark, sf_dir):
        region = read_table(spark, sf_dir, "region")
        spark.sql("DROP TABLE IF EXISTS md_tgt")
        spark.sql("DROP TABLE IF EXISTS md_src")
        region.write.format("parquet").saveAsTable("md_tgt")
        region.selectExpr("r_regionkey + 100 AS r_regionkey", "r_name").write.format(
            "parquet"
        ).saveAsTable("md_src")
        a.merge(spark, a.Table("md_src"), a.Table("md_tgt"), ["r_regionkey"])
        assert spark.table("md_tgt").count() == 10

    def test_merge_exception_source_internal_dups_raise(self, spark, sf_dir):
        """The reference's unique constraint also rejects duplicate keys
        INSIDE the source (not just source-vs-target clashes)."""
        region = read_table(spark, sf_dir, "region")
        spark.sql("DROP TABLE IF EXISTS mid_tgt")
        spark.sql("DROP TABLE IF EXISTS mid_src")
        region.write.format("parquet").saveAsTable("mid_tgt")
        shifted = region.selectExpr("r_regionkey + 100 AS r_regionkey", "r_name")
        shifted.union(shifted).write.format("parquet").saveAsTable("mid_src")
        with pytest.raises(MergeConflictError, match="within the source"):
            a.merge(spark, a.Table("mid_src"), a.Table("mid_tgt"), ["r_regionkey"])

    def test_merge_update_null_source_key_inserts(self, spark, sf_dir):
        """A source row whose conflict key is NULL must insert as-is, not
        degrade into an all-NULL row (join-indicator gating)."""
        region = read_table(spark, sf_dir, "region")
        spark.sql("DROP TABLE IF EXISTS mn_tgt")
        spark.sql("DROP TABLE IF EXISTS mn_src")
        region.write.format("parquet").saveAsTable("mn_tgt")
        spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS r_regionkey, 'NULLKEY' AS r_name"
        ).write.format("parquet").saveAsTable("mn_src")
        a.merge(
            spark, a.Table("mn_src"), a.Table("mn_tgt"), ["r_regionkey"],
            if_conflicts="update",
        )
        res = spark.table("mn_tgt")
        assert res.count() == 6
        row = res.where("r_regionkey IS NULL").collect()
        assert len(row) == 1 and row[0].r_name == "NULLKEY"

    def test_merge_update_partition_scoped_rewrite(self, spark, sf_dir):
        """update on a partitioned target rewrites ONLY touched partitions,
        including dropping a partition emptied by rows moving out."""
        spark.sql("DROP TABLE IF EXISTS mp_tgt")
        spark.sql("DROP TABLE IF EXISTS mp_src")
        spark.sql(
            "SELECT id, CASE WHEN id < 3 THEN 'a' WHEN id < 6 THEN 'b' "
            "ELSE 'solo' END AS p, id * 10 AS v FROM range(7)"
        ).write.partitionBy("p").format("parquet").saveAsTable("mp_tgt")
        tgt_loc = (
            spark.sql("DESCRIBE TABLE EXTENDED mp_tgt")
            .where("col_name = 'Location'").collect()[0].data_type
        )
        # untouched partition 'b' keeps its original files (no rewrite)
        import os
        b_dir = os.path.join(tgt_loc.replace("file:", ""), "p=b")
        before = sorted(os.listdir(b_dir))
        # move the only 'solo' row into 'a' (empties 'solo'), update one 'a' row
        spark.sql(
            "SELECT 6 AS id, 'a' AS p, 999 AS v UNION ALL "
            "SELECT 0 AS id, 'a' AS p, 111 AS v"
        ).write.format("parquet").saveAsTable("mp_src")
        a.merge(
            spark, a.Table("mp_src"), a.Table("mp_tgt"), ["id"],
            if_conflicts="update",
        )
        res = {r.id: (r.p, r.v) for r in spark.table("mp_tgt").collect()}
        assert res[6] == ("a", 999) and res[0] == ("a", 111)
        assert res[3] == ("b", 30)
        assert spark.table("mp_tgt").where("p = 'solo'").count() == 0
        assert spark.table("mp_tgt").count() == 7
        assert sorted(os.listdir(b_dir)) == before

    def test_partition_scoped_merge_leaves_no_temp_dir(
        self, spark, tmp_path, monkeypatch
    ):
        """The partition-scoped update stages its slice through a temp
        dir; the dir is removed once the overwrite is done."""
        import tempfile
        import uuid

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        tgt = a.Table(f"mp_tmp_{uuid.uuid4().hex[:8]}", temp=False)
        src = a.Table(f"mp_tmp_src_{uuid.uuid4().hex[:8]}")
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, p string, v long"
        ).write.partitionBy("p").format("parquet").saveAsTable(tgt.name)
        spark.createDataFrame(
            [(2, "b", 21), (3, "c", 30)], "id long, p string, v long"
        ).createOrReplaceTempView(src.name)
        a.merge(spark, src, tgt, ["id"], if_conflicts="update")
        got = {(r.id, r.p, r.v) for r in spark.table(tgt.name).collect()}
        assert got == {(1, "a", 10), (2, "b", 21), (3, "c", 30)}
        assert list(tmp_path.glob("astro_merge_stage_*")) == []
        spark.sql(f"DROP TABLE {tgt.name}")

    def test_merge_update_file_scoped(self, spark, sf_dir):
        """update on an unpartitioned target rewrites ONLY the files whose
        rows match a source key (copy-on-write); untouched files keep
        their original paths."""
        spark.sql("DROP TABLE IF EXISTS mcw_tgt")
        spark.sql("DROP TABLE IF EXISTS mcw_src")
        # range-partitioned write → each file covers a contiguous key range
        spark.sql("SELECT id AS k, id * 10 AS v FROM range(1000)").repartitionByRange(
            8, "k"
        ).write.format("parquet").saveAsTable("mcw_tgt")
        before = set(spark.table("mcw_tgt").inputFiles())
        assert len(before) == 8
        spark.sql(
            "SELECT 5 AS k, 999 AS v UNION ALL SELECT 2000 AS k, 1 AS v"
        ).write.format("parquet").saveAsTable("mcw_src")
        a.merge(
            spark, a.Table("mcw_src"), a.Table("mcw_tgt"), ["k"],
            if_conflicts="update",
        )
        after = set(spark.table("mcw_tgt").inputFiles())
        got = {r.k: r.v for r in spark.table("mcw_tgt").collect()}
        assert got[5] == 999 and got[2000] == 1 and got[6] == 60
        assert len(got) == 1001
        # exactly one pre-existing file was rewritten; 7 kept their paths
        assert len(before & after) == 7
        assert len(before - after) == 1

    def test_cow_dotfile_staging_invisible(self, spark):
        """The COW commit stages new files dot-prefixed; Spark listings
        must skip them (so a crash mid-copy leaves the table untouched),
        and a completed commit must leave no dotfiles behind."""
        import glob
        import os
        import shutil

        spark.sql("DROP TABLE IF EXISTS cow_dot")
        spark.sql("SELECT id AS k, id AS v FROM range(10)").coalesce(1).write.format(
            "parquet"
        ).saveAsTable("cow_dot")
        loc = (
            spark.sql("DESCRIBE TABLE EXTENDED cow_dot")
            .where("col_name = 'Location'").collect()[0].data_type
        ).replace("file:", "")
        # plant a dot-prefixed copy that would double the data if listed
        f = glob.glob(os.path.join(loc, "part-*"))[0]
        shutil.copy(f, os.path.join(loc, ".stray-" + os.path.basename(f)))
        spark.catalog.refreshTable("cow_dot")
        assert spark.table("cow_dot").count() == 10
        # a real COW update commits cleanly: correct rows, and no hidden
        # data files from its own generation left behind (.crc checksum
        # siblings of the committed files are a local-FS artifact, fine)
        a.update_rows(spark, a.Table("cow_dot", temp=False), {"v": "v + 100"}, "k = 3")
        assert {r.v for r in spark.table("cow_dot").where("k = 3").collect()} == {103}
        assert spark.table("cow_dot").count() == 10
        leftover = [
            p for p in os.listdir(loc)
            if p.startswith(".cow") and p.endswith(".parquet")
        ]
        assert not leftover, leftover
        spark.sql("DROP TABLE cow_dot")

    def test_merge_exception_single_scan(self, spark, sf_dir):
        """the exception-mode conflict check is ONE job over
        union(source, target) — not two separate assertion scans — and a
        clean check appends the source without an anti-join."""
        region = read_table(spark, sf_dir, "region")
        spark.sql("DROP TABLE IF EXISTS ms1_tgt")
        spark.sql("DROP TABLE IF EXISTS ms1_src")
        region.write.format("parquet").saveAsTable("ms1_tgt")
        # NULL keys: duplicates WITHIN the source still raise …
        spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS r_regionkey, 'x' AS r_name "
            "UNION ALL SELECT CAST(NULL AS BIGINT), 'y'"
        ).write.format("parquet").saveAsTable("ms1_src")
        with pytest.raises(MergeConflictError, match="within the source"):
            a.merge(spark, a.Table("ms1_src"), a.Table("ms1_tgt"), ["r_regionkey"])
        # … but a single NULL source key never clashes with a NULL target
        # key (join semantics), so it inserts
        spark.sql("DROP TABLE IF EXISTS ms2_src")
        spark.sql("DROP TABLE IF EXISTS ms2_tgt")
        region.union(
            spark.sql("SELECT CAST(NULL AS BIGINT), 'TGTNULL'")
        ).write.format("parquet").saveAsTable("ms2_tgt")
        spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS r_regionkey, 'SRCNULL' AS r_name"
        ).write.format("parquet").saveAsTable("ms2_src")
        a.merge(spark, a.Table("ms2_src"), a.Table("ms2_tgt"), ["r_regionkey"])
        assert spark.table("ms2_tgt").count() == 7

    def test_vacuum_reclaims_crashed_stage_dirs(self, spark):
        """A crash during a COW data write leaves an inert .cow_stage_*
        dir; vacuum_table deletes it without touching live data."""
        import os

        spark.sql("DROP TABLE IF EXISTS vac_t")
        spark.sql("SELECT id AS k, id AS v FROM range(50)").write.format(
            "parquet"
        ).saveAsTable("vac_t")
        loc = (
            spark.sql("DESCRIBE TABLE EXTENDED vac_t")
            .where("col_name = 'Location'").collect()[0].data_type
        ).replace("file:", "")
        # simulate an interrupted commit: orphan stage dir with a file
        stage = os.path.join(loc, ".cow_stage_deadbeef")
        os.makedirs(stage)
        with open(os.path.join(stage, "part-orphan.parquet"), "w") as fh:
            fh.write("junk")
        assert spark.table("vac_t").count() == 50  # invisible to readers
        assert a.vacuum_table(spark, "vac_t") == 1
        assert not os.path.exists(stage)
        assert spark.table("vac_t").count() == 50
        assert a.vacuum_table(spark, "vac_t") == 0  # idempotent
        spark.sql("DROP TABLE vac_t")

    def test_compact_reclaims_cow_generations(self, spark):
        """The documented maintenance loop: repeated small COW merges
        accumulate cow-* files; compact_table rewrites them into a few
        right-sized files with values intact."""
        from astro_spark.operators.catalog import compact_table

        spark.sql("DROP TABLE IF EXISTS mcc_tgt")
        spark.sql("SELECT id AS k, id AS v FROM range(1000)").repartitionByRange(
            4, "k"
        ).write.format("parquet").saveAsTable("mcc_tgt")
        for i in range(3):
            spark.sql(f"DROP TABLE IF EXISTS mcc_src{i}")
            spark.sql(
                f"SELECT {i * 300 + 5} AS k, {1000 + i} AS v"
            ).write.format("parquet").saveAsTable(f"mcc_src{i}")
            a.merge(spark, a.Table(f"mcc_src{i}"), a.Table("mcc_tgt"), ["k"],
                    if_conflicts="update")
        files = spark.table("mcc_tgt").inputFiles()
        assert any("cow-" in f for f in files)
        compact_table(spark, "mcc_tgt", n_files=2)
        after = spark.table("mcc_tgt").inputFiles()
        assert len(after) == 2 and not any("cow-" in f for f in after)
        got = {r.k: r.v for r in spark.table("mcc_tgt").collect()}
        assert len(got) == 1000
        assert got[5] == 1000 and got[305] == 1001 and got[605] == 1002
        spark.sql("DROP TABLE mcc_tgt")

    def test_merge_update_partial_part_cols(self, spark):
        """Source carrying a SUBSET of the partition columns: when the
        present values match the target's (no row moves), the merge is
        still file-scoped COW; when a value differs, it falls back to
        the swap and the row genuinely moves partitions."""
        spark.sql("DROP TABLE IF EXISTS mpp_tgt")
        spark.sql("DROP TABLE IF EXISTS mpp_src")
        spark.sql(
            "SELECT id AS k, CAST(id % 2 AS STRING) AS p, "
            "CAST(id % 3 AS STRING) AS q, id * 10 AS v FROM range(60)"
        ).write.partitionBy("p", "q").format("parquet").saveAsTable("mpp_tgt")
        before = set(spark.table("mpp_tgt").inputFiles())
        # k=4 lives in p=0; source re-asserts p='0' → no movement → COW
        spark.sql("SELECT 4 AS k, '0' AS p, 999 AS v").write.format(
            "parquet"
        ).saveAsTable("mpp_src")
        a.merge(spark, a.Table("mpp_src"), a.Table("mpp_tgt"), ["k"],
                if_conflicts="update")
        got = {r.k: (r.p, r.q, r.v) for r in spark.table("mpp_tgt").collect()}
        assert got[4] == ("0", "1", 999) and len(got) == 60
        after = set(spark.table("mpp_tgt").inputFiles())
        removed = before - after
        # only file(s) inside k=4's partition were rewritten — and only
        # those containing the key, not the whole partition
        assert removed and all("p=0/q=1" in f for f in removed)
        assert {f for f in before if "p=0/q=1" not in f} <= after
        # now move k=4 to p=1 → swap fallback, row lands in its new dir
        spark.sql("DROP TABLE IF EXISTS mpp_src2")
        spark.sql("SELECT 4 AS k, '1' AS p, 111 AS v").write.format(
            "parquet"
        ).saveAsTable("mpp_src2")
        a.merge(spark, a.Table("mpp_src2"), a.Table("mpp_tgt"), ["k"],
                if_conflicts="update")
        moved = spark.table("mpp_tgt").where("k = 4").collect()[0]
        assert (moved.p, moved.q, moved.v) == ("1", "1", 111)
        assert spark.table("mpp_tgt").count() == 60

    def test_merge_empty_source_is_noop(self, spark, sf_dir):
        region = read_table(spark, sf_dir, "region")
        spark.sql("DROP TABLE IF EXISTS mz_tgt")
        spark.sql("DROP TABLE IF EXISTS mz_src")
        region.write.format("parquet").saveAsTable("mz_tgt")
        region.where("1=0").write.format("parquet").saveAsTable("mz_src")
        for mode in ("ignore", "update", "exception"):
            a.merge(spark, a.Table("mz_src"), a.Table("mz_tgt"), ["r_regionkey"],
                    if_conflicts=mode)
            assert spark.table("mz_tgt").count() == 5

    def test_merge_update_partitioned_without_part_col_in_source(self, spark):
        """Source lacking the partition column: matched rows cannot move
        partitions, so the merge is file-scoped copy-on-write INSIDE the
        partition dirs — untouched files keep their paths — and new keys
        append (NULL partition)."""
        spark.sql("DROP TABLE IF EXISTS mf_tgt")
        spark.sql("DROP TABLE IF EXISTS mf_src")
        spark.sql(
            "SELECT id AS k, CAST(id % 2 AS STRING) AS p, id * 10 AS v FROM range(6)"
        ).repartition(3, "k").write.partitionBy("p").format("parquet").saveAsTable(
            "mf_tgt"
        )
        before = set(spark.table("mf_tgt").inputFiles())
        spark.sql(
            "SELECT 2 AS k, 999 AS v UNION ALL SELECT 100 AS k, 1 AS v"
        ).write.format("parquet").saveAsTable("mf_src")
        a.merge(spark, a.Table("mf_src"), a.Table("mf_tgt"), ["k"],
                if_conflicts="update")
        got = {r.k: (r.p, r.v) for r in spark.table("mf_tgt").collect()}
        assert got[2] == ("0", 999) and got[3] == ("1", 30)
        assert got[100] == (None, 1)  # insert without partition value
        assert len(got) == 7
        after = set(spark.table("mf_tgt").inputFiles())
        # only the file(s) containing k=2 were rewritten
        assert len(before - after) >= 1
        assert len(before & after) >= 1

    def test_merge_ignore_appends_without_rewrite(self, spark, sf_dir):
        """ignore never rewrites the target: pre-existing files survive."""
        import os
        spark.sql("DROP TABLE IF EXISTS mi_tgt")
        spark.sql("DROP TABLE IF EXISTS mi_src")
        region = read_table(spark, sf_dir, "region")
        region.write.format("parquet").saveAsTable("mi_tgt")
        loc = (
            spark.sql("DESCRIBE TABLE EXTENDED mi_tgt")
            .where("col_name = 'Location'").collect()[0].data_type
        ).replace("file:", "")
        before = set(os.listdir(loc))
        region.selectExpr(
            "r_regionkey + 100 AS r_regionkey", "upper(r_name) AS r_name"
        ).union(region).write.format("parquet").saveAsTable("mi_src")
        a.merge(
            spark, a.Table("mi_src"), a.Table("mi_tgt"), ["r_regionkey"],
            if_conflicts="ignore",
        )
        assert spark.table("mi_tgt").count() == 10
        after = set(os.listdir(loc))
        assert before <= after and len(after) > len(before)


class TestChecks:
    def test_check_column_raises_on_failure(self, spark, sf_dir):
        li = read_table(spark, sf_dir, "lineitem")
        with pytest.raises(AssertionError, match="column checks failed"):
            a.check_column(spark, li, {"l_quantity": {"max": {"leq_to": 1}}})

    def test_check_column_partition_clause(self, spark, sf_dir):
        li = read_table(spark, sf_dir, "lineitem")
        res = a.check_column(
            spark,
            li,
            {"l_quantity": {"min": {"geq_to": 30}}},
            partition_clause="l_quantity >= 30",
        )
        assert res.collect()[0].passed

    def test_check_table(self, spark, nation_table):
        res = a.check_table(
            spark, nation_table, {"rc": {"check_statement": "COUNT(*) = 25"}}
        )
        assert res.collect()[0].passed


class TestExport:
    def test_single_file_and_exception_mode(self, spark, sf_dir, tmp_path):
        p = str(tmp_path / "n.csv")
        a.export_to_file(spark, read_table(spark, sf_dir, "nation"), p)
        assert os.path.isfile(p)
        with pytest.raises(a.FileExistsConflictError):
            a.export_to_file(
                spark, read_table(spark, sf_dir, "nation"), p, if_exists="exception"
            )

    def test_directory_parquet(self, spark, sf_dir, tmp_path):
        d = str(tmp_path / "outdir")
        a.export_to_file(
            spark,
            read_table(spark, sf_dir, "nation"),
            a.File(d, filetype="parquet"),
            single_file=False,
        )
        assert spark.read.parquet(d).count() == 25

    def test_directory_export_respects_target_file_mb(self, spark, sf_dir, tmp_path):
        """Directory exports take the same size-targeting lever as table
        writes: tight target → several files, loose target → one."""
        d1, d2 = str(tmp_path / "tight"), str(tmp_path / "loose")
        li = read_table(spark, sf_dir, "lineitem")  # ~115 KB at sf0.001
        a.export_to_file(
            spark, li, a.File(d1, filetype="parquet"),
            single_file=False, target_file_mb=0.02,
        )
        a.export_to_file(
            spark, li, a.File(d2, filetype="parquet"),
            single_file=False, target_file_mb=1024,
        )
        n1 = sum(1 for f in os.listdir(d1) if f.endswith(".parquet"))
        n2 = sum(1 for f in os.listdir(d2) if f.endswith(".parquet"))
        assert n1 == 6 and n2 == 1
        assert spark.read.parquet(d1).count() == li.count()


class TestDataframeOp:
    def test_pandas_annotation_string(self, spark, nation_table):
        @a.dataframe
        def head3(n: pd.DataFrame) -> pd.DataFrame:
            return n.nsmallest(3, "n_nationkey")

        out = head3(spark, nation_table)
        assert isinstance(out, pd.DataFrame) and len(out) == 3

    def test_spark_native(self, spark, nation_table):
        @a.dataframe
        def filt(n):
            return n.where("n_nationkey < 5")

        t = filt(spark, nation_table, output_table=a.TempTable())
        assert spark.table(t.name).count() == 5


class TestCleanup:
    def test_cleanup_drops_temp_views(self, spark, nation_table):
        out = a.run_transform(spark, "SELECT * FROM {{t}}", {"t": nation_table})
        assert spark.catalog.tableExists(out.name) or spark.table(out.name) is not None
        dropped = a.cleanup(spark)
        assert out.name in dropped


class TestStreaming:
    def test_available_now_incremental(self, spark, sf_dir, tmp_path):
        from astro_spark.streaming import load_file_stream

        src = str(tmp_path / "incoming")
        os.makedirs(src)
        region = read_table(spark, sf_dir, "region")
        region.write.mode("overwrite").parquet(src + "/batch1")
        # file-source stream over a glob of parquet files
        ckpt = str(tmp_path / "ckpt")
        out = a.Table("stream_out")
        load_file_stream(
            spark, a.File(src + "/batch1", filetype="parquet"), out, checkpoint_dir=ckpt
        )
        assert spark.table(out.name).count() == 5
        # second trigger with same checkpoint: no new files → no new rows
        load_file_stream(
            spark, a.File(src + "/batch1", filetype="parquet"), out, checkpoint_dir=ckpt
        )
        assert spark.table(out.name).count() == 5


class TestCatalogPrimitives:
    def test_exists_and_counts(self, spark, sf_dir):
        t = a.Table("cat_nation", temp=False)
        a.load_file(spark, f"{sf_dir}/nation.parquet", output_table=t)
        assert a.table_exists(spark, t)
        assert not a.table_exists(spark, "no_such_table_xyz")
        assert a.row_count(spark, t) == 25
        assert a.columns_exist(spark, t, ["n_nationkey", "N_NAME"])
        assert not a.columns_exist(spark, t, ["n_nationkey", "nope"])
        rows = a.fetch_all_rows(spark, t, row_limit=3)
        assert len(rows) == 3
        a.drop_table(spark, t)

    def test_schema_and_explicit_create(self, spark):
        from pyspark.sql import types as T

        assert not a.schema_exists(spark, "cat_scratch")
        a.create_schema_if_not_exists(spark, "cat_scratch")
        assert a.schema_exists(spark, "cat_scratch")
        t = a.Table("made", metadata=a.Metadata(schema="cat_scratch"), temp=False)
        a.create_table(
            spark,
            t,
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("name", T.StringType()),
                ]
            ),
        )
        assert a.table_exists(spark, t)
        assert a.row_count(spark, t) == 0
        assert [f.name for f in spark.table(t.qualified_name).schema.fields] == [
            "id",
            "name",
        ]
        a.drop_table(spark, t)
        spark.sql("DROP DATABASE IF EXISTS cat_scratch")

    def test_export_to_pandas(self, spark, sf_dir):
        t = a.Table("cat_region", temp=False)
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t)
        pdf = a.export_table_to_pandas(spark, t)
        assert len(pdf) == 5 and "r_name" in pdf.columns
        a.drop_table(spark, t)


class TestProfile:
    def test_profile_counts_nulls_and_distinct(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b"), (None, "b")], ["x", "y"]
        )
        from astro_spark.operators.checks import profile_table

        rows = {r.column_name: r for r in profile_table(spark, df).collect()}
        assert rows["x"].n_rows == 4 and rows["x"].n_nulls == 1
        assert rows["x"].n_distinct == 2 and rows["y"].n_distinct == 2
        assert rows["y"].n_nulls == 1

    def test_profile_approx_mode_single_pass(self, spark, sf_dir):
        from astro_spark.operators.checks import profile_table

        df = read_table(spark, sf_dir, "orders")
        out = profile_table(spark, df, ["o_orderkey", "o_custkey"], exact_distinct=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan  # HLL sketches avoid the per-column EXPAND
        assert out.count() == 2


class TestBucketing:
    def test_cobucketed_join_has_no_exchange(self, spark, sf_dir):
        """Two tables bucketed on the same key join without a shuffle —
        the persisted-partitioning contract that matters at 100 TB."""
        o = a.Table("bk_orders", temp=False)
        li = a.Table("bk_lineitem", temp=False)
        a.load_file(
            spark, f"{sf_dir}/orders.parquet", output_table=o, bucket_by=(8, ["o_orderkey"])
        )
        a.load_file(
            spark,
            f"{sf_dir}/lineitem.parquet",
            output_table=li,
            bucket_by=(8, ["l_orderkey"]),
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(o.name).join(
                spark.table(li.name),
                spark.table(o.name).o_orderkey == spark.table(li.name).l_orderkey,
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            a.drop_table(spark, o)
            a.drop_table(spark, li)


class TestDynamicPartitionPruning:
    def test_selective_dim_join_prunes_fact_partitions(self, spark, sf_dir):
        """A fact table partitioned on the join key scans ONLY the
        partitions matching a selective dim filter — Catalyst inserts a
        dynamicpruning subquery on the partition column.  At 100 TB this
        is the difference between scanning one day and scanning a year."""
        fact = a.Table("dpp_orders", temp=False)
        a.load_file(
            spark,
            f"{sf_dir}/orders.parquet",
            output_table=fact,
            partition_by=["o_orderpriority"],
        )
        try:
            dim = spark.createDataFrame(
                [("1-URGENT", "keep"), ("2-HIGH", "drop")], ["prio", "tag"]
            )
            joined = spark.table(fact.name).join(
                F.broadcast(dim.where(F.col("tag") == "keep")),
                F.col("o_orderpriority") == F.col("prio"),
            )
            optimized = joined._jdf.queryExecution().optimizedPlan().toString()
            executed = joined._jdf.queryExecution().executedPlan().toString()
            assert "dynamicpruning" in (optimized + executed).lower(), executed
            assert joined.count() > 0
        finally:
            a.drop_table(spark, fact)


class TestRuntimeBloomFilter:
    def test_selective_join_injects_bloom_filter(self, spark, sf_dir):
        """Row-level runtime filtering (the shuffle-join complement to
        DPP): a selective dim side injects a bloom filter into the fact
        scan.  Locally the 10 GB application-side threshold must be
        lowered — at 100 TB the fact scan crosses it naturally and the
        optimizer self-activates."""
        from astro_spark.testdata import read_table

        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            li = read_table(spark, sf_dir, "lineitem")
            orders = read_table(spark, sf_dir, "orders").where(
                "o_orderpriority = '1-URGENT'"
            )
            j = li.join(orders, li.l_orderkey == orders.o_orderkey)
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom" in plan.lower(), plan
            assert j.count() > 0
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestAQESkewJoin:
    def test_aqe_splits_skewed_partition(self, spark):
        """AQE's runtime skew-join split — the no-code-change complement
        to the explicit salted_join.  Locally the 256 MB skew threshold
        must be lowered; at 100 TB a genuinely hot key crosses it
        naturally and AQE splits the partition into parallel subtasks
        (the executed SortMergeJoin is marked skew=true)."""
        confs = {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            # one hot key carrying ~98% of left rows + a flat tail
            left = spark.range(300_000).select(
                F.when(F.col("id") % 50 < 49, F.lit(7)).otherwise(F.col("id") % 97)
                .alias("k"),
                F.concat(F.lit("payload-"), F.col("id")).alias("pad"),
            )
            right = spark.range(97).select(F.col("id").alias("k"),
                                           F.col("id").alias("v"))
            j = left.join(right, "k")
            # execute j's own plan (count() wraps a different one) so the
            # adaptive plan finalizes, then read the final shape
            assert len(j.collect()) == 300_000
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan, plan[:2000]
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestHistogramQuantiles:
    def test_estimate_within_one_bin_of_exact(self, spark):
        """Histogram quantile lands within one bin width of the exact
        percentile, and the plan never shuffles input-proportional data
        (the only wide rows are the <=n_bins histogram)."""
        from astro_spark.plans.histogram import histogram_quantiles

        df = spark.range(10_000).select(
            (F.col("id") % 997 + (F.col("id") % 13) / 100.0).alias("x")
        )
        out = {r.quantile: r.est_x100
               for r in histogram_quantiles(df, "x", (50, 90, 99), 256).collect()}
        import math
        vals = sorted((i % 997 + (i % 13) / 100.0) for i in range(10_000))
        cents = [math.floor(v * 100 + 0.5) for v in vals]
        lo, hi = cents[0], cents[-1]
        bin_w = (hi - lo + 1) / 256
        for q in (50, 90, 99):
            exact = cents[math.ceil(q * len(cents) / 100) - 1]
            assert abs(out[q] - exact) <= bin_w + 1, (q, out[q], exact)


class TestAsofJoin:
    def test_strictly_earlier_semantics(self, spark):
        import datetime as dt

        from astro_spark.plans import asof_join

        t = dt.datetime(2024, 1, 1)
        sec = dt.timedelta(seconds=1)
        left = spark.createDataFrame(
            [(1, t + 5 * sec, 1, 0.0), (1, t + 10 * sec, 3, 0.0), (2, t, 5, 0.0)],
            "user_id long, ts timestamp, event_id long, value double",
        )
        right = spark.createDataFrame(
            [(1, t + 5 * sec, 2, 50.0), (1, t + 7 * sec, 4, 70.0), (1, t, 6, 10.0)],
            "user_id long, ts timestamp, event_id long, value double",
        )
        out = {
            r.event_id: r.asof_value
            for r in asof_join(
                left, right, on="user_id", ts_col="ts", value_col="value", tie_col="event_id"
            ).collect()
        }
        # left@+5 must NOT see the equal-time right@+5 (strict <) → sees t0=10.0
        assert out[1] == 10.0
        # left@+10 sees the latest earlier right (+7 → 70.0)
        assert out[3] == 70.0
        # user 2 has no right rows → null
        assert out[5] is None

    def test_single_shuffle_no_expansion(self, spark):
        from astro_spark.plans import asof_join

        left = spark.range(0, 1000).select(
            (F.col("id") % 10).alias("k"), F.col("id").alias("ts"), F.col("id").alias("event_id"), F.lit(1.0).alias("v")
        )
        right = left.select("k", "ts", "event_id", "v")
        out = asof_join(left, right, on="k", ts_col="ts", value_col="v", tie_col="event_id")
        assert out.count() == 1000  # never expands the left side


class TestRangeJoin:
    def test_matches_naive_inequality_join(self, spark):
        from astro_spark.plans import range_join

        points = spark.range(0, 500).select((F.col("id") * 7 % 997).cast("double").alias("x"))
        iv = spark.createDataFrame(
            [(float(a), float(a + w)) for a in range(0, 1000, 50) for w in (30, 120)],
            "lo double, hi double",
        )
        binned = range_join(points, iv, "x", "lo", "hi", bin_size=64.0)
        naive = points.join(iv, (F.col("lo") <= F.col("x")) & (F.col("x") < F.col("hi")))
        assert sorted(map(tuple, binned.collect())) == sorted(map(tuple, naive.collect()))

    def test_no_nested_loop_in_plan(self, spark):
        from astro_spark.plans import range_join

        points = spark.range(0, 100).select(F.col("id").cast("double").alias("x"))
        iv = spark.createDataFrame([(0.0, 50.0), (50.0, 100.0)], "lo double, hi double")
        plan = (
            range_join(points, iv, "x", "lo", "hi", bin_size=25.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan


class TestSkewSalting:
    def test_salted_join_equals_plain_join(self, spark):
        from astro_spark.plans import salted_join

        # heavily skewed left: 10k rows on one key, 10 on others
        left = spark.range(0, 10_000).select(
            F.lit(1).alias("k"), F.col("id").alias("lv")
        ).union(
            spark.range(0, 10).select(
                (F.col("id") + 2).alias("k"), F.col("id").alias("lv")
            )
        )
        right = spark.range(0, 12).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("rv")
        )
        plain = left.join(right, "k").groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("lv") + F.col("rv")).alias("s")
        ).collect()[0]
        salted = salted_join(left, right, "k", n_salts=8).groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("lv") + F.col("rv")).alias("s")
        ).collect()[0]
        assert (plain.n, plain.s) == (salted.n, salted.s)

    def test_salted_left_join_keeps_unmatched(self, spark):
        from astro_spark.plans import salted_join

        left = spark.range(0, 100).select(F.col("id").alias("k"))
        right = spark.range(0, 50).select(F.col("id").alias("k"), F.lit("x").alias("v"))
        out = salted_join(left, right, "k", n_salts=4, how="left")
        assert out.count() == 100
        assert out.where(F.col("v").isNull()).count() == 50


class TestCompaction:
    def test_compact_reduces_files_and_keeps_rows(self, spark, sf_dir):
        t = a.Table("compact_me", temp=False)
        li = read_table(spark, sf_dir, "lineitem")
        # simulate micro-batch fragmentation: 16 files for a tiny table
        from astro_spark.operators.load_file import save_dataframe_as_table

        save_dataframe_as_table(li.repartition(16), t)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        tdir = os.path.join(warehouse, t.name)
        n_before = len([f for f in os.listdir(tdir) if f.endswith(".parquet")])
        assert n_before >= 16
        before = li.count()
        n = a.compact_table(spark, t, n_files=2)
        assert n == 2
        n_after = len([f for f in os.listdir(tdir) if f.endswith(".parquet")])
        assert n_after == 2
        assert spark.table(t.name).count() == before
        a.drop_table(spark, t)


class TestAnalyze:
    def test_analyze_records_stats_and_feeds_cbo(self, spark, sf_dir):
        from astro_spark.operators.catalog import analyze_table

        t = a.Table("analyze_me", temp=False)
        a.load_file(spark, f"{sf_dir}/nation.parquet", output_table=t)
        stats = analyze_table(spark, t)
        assert "Statistics" in stats and "rows" in stats["Statistics"]
        col_stats = analyze_table(spark, t, columns=["n_nationkey"])
        assert "Statistics" in col_stats
        # column-level NDV/min/max recorded in the catalog
        desc = spark.sql("DESCRIBE EXTENDED analyze_me n_nationkey").collect()
        info = {r.info_name: r.info_value for r in desc}
        assert info.get("distinct_count") not in (None, "NULL")
        a.drop_table(spark, t)


class TestClusteredWrite:
    def test_cluster_by_produces_disjoint_file_ranges(self, spark, sf_dir):
        """cluster_by range-partitions + sorts, so parquet file min/max
        ranges are disjoint — the layout row-group skipping needs."""
        import pyarrow.parquet as pq

        t = a.Table("clustered_li", temp=False)
        a.load_file(
            spark, f"{sf_dir}/lineitem.parquet", output_table=t,
            cluster_by=(4, ["l_orderkey"]),
        )
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        tdir = os.path.join(warehouse, t.name)
        ranges = []
        for f in os.listdir(tdir):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(tdir, f)).metadata
            idx = md.schema.names.index("l_orderkey")
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            ranges.append((lo, hi))
        assert len(ranges) > 1
        ranges.sort()
        for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
            assert hi_prev <= lo_next  # disjoint key ranges across files
        assert spark.table(t.name).count() == spark.read.parquet(
            f"{sf_dir}/lineitem.parquet"
        ).count()
        a.drop_table(spark, t)


class TestDiffTables:
    def test_added_removed_changed(self, spark):
        from astro_spark.operators.catalog import diff_tables
        from astro_spark.operators.load_file import save_dataframe_as_table

        t1 = a.Table("diff_a", temp=False)
        t2 = a.Table("diff_b", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame(
                [(1, "x", None), (2, "y", "m"), (3, "z", None)],
                "k long, v string, w string",
            ),
            t1,
            if_exists="replace",
        )
        save_dataframe_as_table(
            spark.createDataFrame(
                [(2, "y", "m"), (3, "z", "now-set"), (4, "new", None)],
                "k long, v string, w string",
            ),
            t2,
            if_exists="replace",
        )
        try:
            out = {r.k: r.diff_status
                   for r in diff_tables(spark, t1, t2, ["k"]).collect()}
            # NULL->value counts as changed (null-safe compare); identical
            # rows (key 2) are absent
            assert out == {1: "removed", 3: "changed", 4: "added"}
        finally:
            a.drop_table(spark, t1)
            a.drop_table(spark, t2)

    def test_null_vs_sentinel_string_is_changed(self, spark):
        """A real '\\x00' string value is NOT the same as NULL — the
        per-column isnull flag keeps them distinguishable in the hash."""
        from astro_spark.operators.catalog import diff_tables
        from astro_spark.operators.load_file import save_dataframe_as_table

        t1 = a.Table("diff_n1", temp=False)
        t2 = a.Table("diff_n2", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame([(1, None)], "k long, v string"), t1,
            if_exists="replace",
        )
        save_dataframe_as_table(
            spark.createDataFrame([(1, "\x00")], "k long, v string"), t2,
            if_exists="replace",
        )
        try:
            out = diff_tables(spark, t1, t2, ["k"]).collect()
            assert len(out) == 1 and out[0].diff_status == "changed"
        finally:
            a.drop_table(spark, t1)
            a.drop_table(spark, t2)

    def test_mismatched_column_sets_raise(self, spark):
        """A right-only attribute is a schema diff the row hash cannot
        see — refuse instead of silently ignoring it."""
        from astro_spark.operators.catalog import diff_tables
        from astro_spark.operators.load_file import save_dataframe_as_table

        t1 = a.Table("diff_m1", temp=False)
        t2 = a.Table("diff_m2", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame([(1, "x")], "k long, v string"), t1,
            if_exists="replace",
        )
        save_dataframe_as_table(
            spark.createDataFrame([(1, "x", "extra")], "k long, v string, w string"),
            t2, if_exists="replace",
        )
        try:
            with pytest.raises(ValueError, match="non-key columns differ"):
                diff_tables(spark, t1, t2, ["k"])
        finally:
            a.drop_table(spark, t1)
            a.drop_table(spark, t2)


class TestSCD2:
    def test_history_preserving_upsert(self, spark):
        """Changed key → closed + reopened; new key → opened; unchanged
        and absent keys untouched; prior history preserved."""
        from astro_spark.operators.load_file import save_dataframe_as_table
        from astro_spark.operators.scd import scd2_merge

        t = a.Table("scd2_unit", temp=False)
        seed = spark.createDataFrame(
            [
                (1, 100, "2024-01-01", None),     # will change
                (2, 200, "2024-01-01", None),     # unchanged in source
                (3, 300, "2024-01-01", None),     # absent from source
                (1, 90, "2023-12-01", "2024-01-01"),  # prior history
            ],
            "k long, v long, valid_from string, valid_to string",
        )
        save_dataframe_as_table(seed, t, if_exists="replace")
        src = spark.createDataFrame(
            [(1, 111), (2, 200), (4, 400)], "k long, v long"
        )
        scd2_merge(spark, t, src, ["k"], ["v"], "2024-02-01")
        rows = {
            (r.k, r.valid_from): (r.v, r.valid_to)
            for r in spark.table(t.name).collect()
        }
        assert rows == {
            (1, "2023-12-01"): (90, "2024-01-01"),
            (1, "2024-01-01"): (100, "2024-02-01"),
            (1, "2024-02-01"): (111, None),
            (2, "2024-01-01"): (200, None),
            (3, "2024-01-01"): (300, None),
            (4, "2024-02-01"): (400, None),
        }
        a.drop_table(spark, t)


class TestZOrderWrite:
    def test_zorder_narrows_file_ranges_on_both_dims(self, spark, sf_dir):
        """Z-ordered files cover compact rectangles: per-file min/max
        spans shrink on BOTH clustered columns, where 1-D cluster_by
        leaves the second column full-width."""
        import pyarrow.parquet as pq

        def _avg_span(tname, col):
            warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
                "file:"
            )
            tdir = os.path.join(warehouse, tname)
            spans, los, his = [], [], []
            for f in os.listdir(tdir):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(tdir, f)).metadata
                idx = md.schema.names.index(col)
                lo = min(
                    md.row_group(i).column(idx).statistics.min
                    for i in range(md.num_row_groups)
                )
                hi = max(
                    md.row_group(i).column(idx).statistics.max
                    for i in range(md.num_row_groups)
                )
                spans.append(hi - lo)
                los.append(lo)
                his.append(hi)
            return sum(spans) / len(spans), max(his) - min(los)

        z = a.Table("zorder_orders", temp=False)
        lin = a.Table("linear_orders", temp=False)
        a.load_file(
            spark, f"{sf_dir}/orders.parquet", output_table=z,
            zorder_by=(16, ["o_custkey", "o_totalprice"]),
        )
        a.load_file(
            spark, f"{sf_dir}/orders.parquet", output_table=lin,
            cluster_by=(16, ["o_custkey"]),
        )
        try:
            for col in ("o_custkey", "o_totalprice"):
                avg, total = _avg_span(z.name, col)
                assert avg < 0.75 * total, (col, avg, total)
            # 1-D clustering leaves the non-sort dim near full width
            avg2, total2 = _avg_span(lin.name, "o_totalprice")
            assert avg2 > 0.9 * total2
            assert (
                spark.table(z.name).count()
                == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
            )
        finally:
            a.drop_table(spark, z)
            a.drop_table(spark, lin)

    def test_multiple_layouts_raise(self, spark, sf_dir):
        """zorder/cluster/bucket are alternative layouts — combining them
        would silently destroy the first ordering, so it raises."""
        with pytest.raises(ValueError, match="at most one physical layout"):
            a.load_file(
                spark, f"{sf_dir}/orders.parquet",
                output_table=a.Table("layout_clash", temp=False),
                zorder_by=["o_custkey"], cluster_by=["o_orderdate"],
            )


class TestTargetFileSize:
    def _file_count(self, spark, tname):
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        tdir = os.path.join(warehouse, tname)
        n = 0
        for root, _dirs, files in os.walk(tdir):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def test_task_count_follows_size_estimate(self, spark, sf_dir):
        """target_file_mb sizes the write from Catalyst's byte estimate:
        a tight target splits the table into several files, a loose one
        collapses it to a single file — no driver-side count involved."""
        small = a.Table("tgt_small_files", temp=False)
        big = a.Table("tgt_one_file", temp=False)
        src = f"{sf_dir}/lineitem.parquet"  # ~115 KB on disk at sf0.001
        a.load_file(spark, src, output_table=small, target_file_mb=0.02)
        a.load_file(spark, src, output_table=big, target_file_mb=1024)
        try:
            # ~115 KB / 20 KB target → ceil = 6 tasks
            assert self._file_count(spark, small.name) == 6
            assert self._file_count(spark, big.name) == 1
        finally:
            a.drop_table(spark, small)
            a.drop_table(spark, big)

    def test_partitioned_write_gets_one_file_per_partition(self, spark, sf_dir):
        """With partition_by the repartition hashes on the partition
        columns, so each partition directory holds exactly ONE file
        (the small-files explosion a naive repartition(n).partitionBy
        write produces: n files per partition value)."""
        t = a.Table("tgt_part_files", temp=False)
        a.load_file(
            spark, f"{sf_dir}/orders.parquet", output_table=t,
            partition_by=["o_orderstatus"], target_file_mb=128,
        )
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        tdir = os.path.join(warehouse, t.name)
        try:
            part_dirs = [d for d in os.listdir(tdir) if d.startswith("o_orderstatus=")]
            assert len(part_dirs) == 3
            for d in part_dirs:
                files = [
                    f for f in os.listdir(os.path.join(tdir, d))
                    if f.endswith(".parquet")
                ]
                assert len(files) == 1, (d, files)
        finally:
            a.drop_table(spark, t)

    def test_target_conflicts_with_layouts(self, spark, sf_dir):
        with pytest.raises(ValueError, match="target_file_mb conflicts"):
            a.load_file(
                spark, f"{sf_dir}/orders.parquet",
                output_table=a.Table("tgt_clash", temp=False),
                cluster_by=["o_custkey"], target_file_mb=128,
            )


class TestDML:
    def test_delete_file_scoped(self, spark):
        """DELETE on an unpartitioned parquet table rewrites only the
        files containing matching rows; the rest keep their paths."""
        spark.sql("DROP TABLE IF EXISTS dml_cow")
        spark.sql("SELECT id AS k, id * 2 AS v FROM range(800)").repartitionByRange(
            8, "k"
        ).write.format("parquet").saveAsTable("dml_cow")
        before = set(spark.table("dml_cow").inputFiles())
        assert len(before) == 8
        n = a.delete_rows(spark, a.Table("dml_cow", temp=False), "k BETWEEN 10 AND 20")
        assert n == 11
        after = set(spark.table("dml_cow").inputFiles())
        assert spark.table("dml_cow").count() == 789
        assert spark.table("dml_cow").where("k = 15").count() == 0
        assert len(before & after) == 7  # 7 files untouched
        # UPDATE through the same copy-on-write path
        before2 = set(spark.table("dml_cow").inputFiles())
        n2 = a.update_rows(
            spark, a.Table("dml_cow", temp=False), {"v": "v + 1000"}, "k >= 790"
        )
        assert n2 == 10
        got = {r.k: r.v for r in spark.table("dml_cow").where("k >= 788").collect()}
        assert got[788] == 1576 and got[790] == 2580
        assert len(before2 & set(spark.table("dml_cow").inputFiles())) == len(before2) - 1
        spark.sql("DROP TABLE dml_cow")

    def test_partitioned_dml_file_scoped(self, spark):
        """DELETE and non-partition-column UPDATE on a PARTITIONED table
        rewrite only the touched files inside their partition dirs;
        an UPDATE that rewrites the partition column falls back to the
        swap (rows could move)."""
        spark.sql("DROP TABLE IF EXISTS dmlp")
        spark.sql(
            "SELECT id AS k, CAST(id % 3 AS STRING) AS p, id * 10 AS v "
            "FROM range(900)"
        ).repartition(2, "k").write.partitionBy("p").format("parquet") \
            .saveAsTable("dmlp")
        before = set(spark.table("dmlp").inputFiles())
        # predicate confined to partition p=1 → only its files rewritten
        n = a.delete_rows(spark, a.Table("dmlp", temp=False),
                          "p = '1' AND k < 100")
        assert n == 33
        after = set(spark.table("dmlp").inputFiles())
        untouched = {f for f in before if "p=0" in f or "p=2" in f}
        assert untouched <= after
        assert spark.table("dmlp").count() == 867
        # UPDATE of a data column: still file-scoped
        before2 = set(spark.table("dmlp").inputFiles())
        n2 = a.update_rows(spark, a.Table("dmlp", temp=False),
                           {"v": "v + 1"}, "p = '2' AND k < 50")
        assert n2 == 16
        after2 = set(spark.table("dmlp").inputFiles())
        assert {f for f in before2 if "p=0" in f or "p=1" in f} <= after2
        # UPDATE touching the partition column: correct via swap fallback
        n3 = a.update_rows(spark, a.Table("dmlp", temp=False),
                           {"p": "'9'"}, "k = 500")
        assert n3 == 1
        assert spark.table("dmlp").where("k = 500").collect()[0].p == "9"
        assert spark.table("dmlp").count() == 867
        spark.sql("DROP TABLE dmlp")

    def test_delete_rows(self, spark, sf_dir):
        t = a.Table("dml_nation", temp=False)
        a.load_file(spark, f"{sf_dir}/nation.parquet", output_table=t)
        n = a.delete_rows(spark, t, "n_regionkey = 0")
        assert n == 5
        assert spark.table(t.name).count() == 20
        assert spark.table(t.name).where("n_regionkey = 0").count() == 0
        assert a.delete_rows(spark, t, "n_regionkey = 0") == 0  # idempotent
        a.drop_table(spark, t)

    def test_delete_null_condition_keeps_rows(self, spark):
        t = a.Table("dml_nulls", temp=False)
        df = spark.createDataFrame([(1, "x"), (2, None), (3, "y")], ["id", "v"])
        from astro_spark.operators.load_file import save_dataframe_as_table

        save_dataframe_as_table(df, t)
        n = a.delete_rows(spark, t, "v = 'x'")
        assert n == 1
        # the NULL-v row must survive (condition NULL ≠ matched)
        assert spark.table(t.name).count() == 2
        a.drop_table(spark, t)

    def test_update_rows(self, spark, sf_dir):
        t = a.Table("dml_region", temp=False)
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t)
        n = a.update_rows(
            spark, t, {"r_name": "concat(r_name, '_X')"}, "r_regionkey < 2"
        )
        assert n == 2
        rows = {r.r_regionkey: r.r_name for r in spark.table(t.name).collect()}
        assert rows[0].endswith("_X") and rows[1].endswith("_X")
        assert not rows[2].endswith("_X")
        a.drop_table(spark, t)


class TestCompactByteTarget:
    def test_compact_sizes_from_byte_estimate(self, spark, sf_dir):
        """target_file_mb on compact_table derives the file count from
        Catalyst's byte estimate — a tight target splits, a loose one
        collapses to one file."""
        from astro_spark.operators.catalog import compact_table

        t = a.Table("cbt_tgt", temp=False)
        a.load_file(spark, f"{sf_dir}/lineitem.parquet", output_table=t)
        try:
            n = compact_table(spark, t.name, target_file_mb=0.02)
            # ~100-115 KB re-encoded table / 20 KB target
            assert 4 <= n <= 7, n
            n = compact_table(spark, t.name, target_file_mb=1024)
            assert n == 1
            assert spark.table(t.name).count() > 0
        finally:
            a.drop_table(spark, t)


class TestDeprecatedExportAliases:
    def test_aliases_delegate_and_warn(self, spark, sf_dir, tmp_path):
        """Reference parity: export_file / export_table_to_file are the
        deprecated names (sql/operators/export_file.py,
        export_table_to_file.py) and must keep working as aliases."""
        import warnings

        df = read_table(spark, sf_dir, "region")
        for fn, name in (
            (a.export_file, "ef.csv"),
            (a.export_table_to_file, "etf.csv"),
        ):
            p = str(tmp_path / name)
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                fn(spark, df, p)
            assert any(issubclass(x.category, DeprecationWarning) for x in w)
            assert os.path.isfile(p)


class TestReferentialAndOutlierChecks:
    def test_orphans_counted_and_nulls_exempt(self, spark):
        from astro_spark.operators.checks import check_referential

        child = spark.createDataFrame(
            [(1, 10), (2, 11), (3, 99), (4, None)], "id long, fk long"
        )
        parent = spark.createDataFrame([(10,), (11,)], "pk long")
        row = check_referential(spark, child, parent, [("fk", "pk")]).collect()[0]
        assert (row.n_child, row.n_orphans) == (4, 1)  # 99 orphan; NULL exempt

    def test_outlier_fences_exact(self, spark):
        """Hand-computed Tukey fences on a tiny integer sample: values
        [1..8, 100]: q1 = 3 (index interp), q3 = 7, iqr = 4 → hi fence
        7 + 1.5*4 = 13 → exactly one outlier (100)."""
        from astro_spark.operators.checks import check_outliers

        df = spark.createDataFrame(
            [(float(v),) for v in [1, 2, 3, 4, 5, 6, 7, 8, 100]], "x double"
        )
        row = check_outliers(spark, df, "x").collect()[0]
        assert row.n_rows == 9 and row.n_outliers == 1
        # cents*4: q1 = 300 cents → 1200 quarter-cents; q3 = 2800
        assert (row.q1_qc, row.q3_qc) == (1200, 2800)

    def test_exact_quartiles_match_percentile(self, spark):
        """Randomized pin for the r15 two-phase rank selection: the
        eager (n_rows, q1_qc, q3_qc) frame equals Spark's own
        percentile() aggregate on every seeded sample — sizes around
        partition boundaries, duplicates, nulls, all-null, empty."""
        import random

        from pyspark.sql import functions as F

        from astro_spark.operators.checks import _exact_quartile_stats

        rng = random.Random(7)
        samples = []
        for _ in range(5):
            n = rng.choice([1, 2, 3, 9, 400])
            vals = [round(rng.uniform(-50, 50), 2) for _ in range(n)]
            if rng.random() < 0.5:
                vals += [None] * rng.randint(1, 3)
            samples.append(vals)
        samples += [[None, None], []]
        cents = "CAST(FLOOR(c * 100 + 0.5) AS BIGINT)"
        for i, vals in enumerate(samples):
            df = spark.createDataFrame(
                [(v,) for v in vals] or [(None,)], "c double"
            )
            if not vals:
                df = df.where(F.lit(False))
            got = _exact_quartile_stats(df, cents).collect()[0]
            want = df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr(
                    f"CAST(round(percentile({cents}, 0.25) * 4) AS BIGINT)"
                ).alias("q1_qc"),
                F.expr(
                    f"CAST(round(percentile({cents}, 0.75) * 4) AS BIGINT)"
                ).alias("q3_qc"),
            ).collect()[0]
            assert tuple(got) == tuple(want), (i, tuple(got), tuple(want))

    def test_outlier_fences_approx_mode(self, spark):
        """exact=False swaps percentile → approx_percentile (GK sketch,
        bounded memory — the 100 TB path, VERDICT r8 #6).  approx
        quartiles are actual column values (no interpolation), so on
        [1..8, 100] q1 = 300 cents ⇒ 1200 qc either way and q3 lands
        within one sample of the exact 2800; the flagged outlier set is
        identical here."""
        from astro_spark.operators.checks import check_outliers

        df = spark.createDataFrame(
            [(float(v),) for v in [1, 2, 3, 4, 5, 6, 7, 8, 100]], "x double"
        )
        row = check_outliers(spark, df, "x", exact=False).collect()[0]
        assert row.n_rows == 9 and row.n_outliers == 1
        assert row.q1_qc in (800, 1200)  # value 2 or 3 — rank slack ≤ 1
        assert row.q3_qc in (2800, 3200)
        # high accuracy on a 9-row sample: rank error < 1 ⇒ exact values
        tight = check_outliers(
            spark, df, "x", exact=False, accuracy=100_000
        ).collect()[0]
        assert (tight.q1_qc, tight.q3_qc, tight.n_outliers) == (
            1200, 2800, 1,
        )


class TestScd2Enrich:
    def test_point_in_time_version_selection(self, spark):
        """Facts pick the dim version valid at their timestamp; facts
        before every version drop out; open (NULL valid_to) versions
        match onward."""
        import datetime as dt

        from astro_spark.operators.scd import scd2_enrich

        d = dt.date
        dim = spark.createDataFrame(
            [
                (1, "old", d(2020, 1, 1), d(2021, 1, 1)),
                (1, "new", d(2021, 1, 1), None),
                (2, "only", d(2020, 6, 1), None),
            ],
            "k long, attr string, valid_from date, valid_to date",
        )
        facts = spark.createDataFrame(
            [
                (1, d(2020, 6, 15)),   # -> old
                (1, d(2021, 1, 1)),    # boundary: valid_from inclusive -> new
                (1, d(2022, 5, 5)),    # -> new (open version)
                (2, d(2020, 1, 1)),    # predates every version -> dropped
                (2, d(2020, 6, 1)),    # -> only
            ],
            "k long, ts date",
        )
        got = sorted(
            (r.k, r.ts.isoformat(), r.attr)
            for r in scd2_enrich(facts, dim, ["k"], "ts").collect()
        )
        assert got == [
            (1, "2020-06-15", "old"),
            (1, "2021-01-01", "new"),
            (1, "2022-05-05", "new"),
            (2, "2020-06-01", "only"),
        ]

    def test_table_checksum_order_independent_and_discriminating(self, spark):
        """The content checksum ignores row order/partitioning, detects
        a single changed value, and does not collide ('a', NULL) with
        ('a',)-style null ambiguity."""
        from astro_spark.operators.checks import table_checksum

        rows = [(i, f"t{i}", None if i % 7 == 0 else f"l{i%3}") for i in range(200)]
        schema = "id long, text string, lang string"
        a_ = table_checksum(
            spark.createDataFrame(rows, schema).repartition(1)
        ).collect()[0]
        b_ = table_checksum(
            spark.createDataFrame(rows[::-1], schema).repartition(13)
        ).collect()[0]
        assert (a_.n_rows, a_.content_checksum) == (b_.n_rows, b_.content_checksum)
        changed = rows.copy()
        changed[17] = (17, "t17x", changed[17][2])
        c_ = table_checksum(spark.createDataFrame(changed, schema)).collect()[0]
        assert c_.content_checksum != a_.content_checksum
        null_vs_empty = table_checksum(
            spark.createDataFrame([(1, "a", None)], schema)
        ).collect()[0]
        empty = table_checksum(
            spark.createDataFrame([(1, "a", "")], schema)
        ).collect()[0]
        assert null_vs_empty.content_checksum != empty.content_checksum

    def test_check_scd2_counts_overlaps_and_duplicates(self, spark):
        """Healthy half-open adjacency → zeros; a genuine overlap and
        an exact duplicate version are counted separately."""
        import datetime as dt

        from astro_spark.operators.scd import check_scd2

        d = dt.date
        healthy = spark.createDataFrame(
            [
                (1, d(2020, 1, 1), d(2021, 1, 1)),
                (1, d(2021, 1, 1), None),
                (2, d(2020, 1, 1), None),
            ],
            "k long, valid_from date, valid_to date",
        )
        row = check_scd2(healthy, ["k"]).collect()[0]
        assert (row.n_keys, row.n_versions, row.n_dup_versions,
                row.n_overlap_pairs) == (2, 3, 0, 0)

        broken = spark.createDataFrame(
            [
                (1, d(2020, 1, 1), d(2021, 1, 1)),
                (1, d(2020, 6, 1), None),          # overlaps v1
                (2, d(2020, 1, 1), None),
                (2, d(2020, 1, 1), None),          # exact duplicate
            ],
            "k long, valid_from date, valid_to date",
        )
        row = check_scd2(broken, ["k"]).collect()[0]
        assert row.n_overlap_pairs == 1 and row.n_dup_versions == 1

    def test_colliding_dim_attr_requires_prefix(self, spark):
        """A dim attribute sharing a fact column name raises unless
        dim_prefix aliases it (ADVICE r5: duplicate output columns)."""
        import datetime as dt

        import pytest

        from astro_spark.operators.scd import scd2_enrich

        d = dt.date
        dim = spark.createDataFrame(
            [(1, "gold", d(2020, 1, 1), None)],
            "k long, status string, valid_from date, valid_to date",
        )
        facts = spark.createDataFrame(
            [(1, d(2021, 1, 1), "shipped")], "k long, ts date, status string"
        )
        with pytest.raises(ValueError, match="status"):
            scd2_enrich(facts, dim, ["k"], "ts")
        got = scd2_enrich(facts, dim, ["k"], "ts", dim_prefix="dim_").collect()
        assert got[0].status == "shipped" and got[0].dim_status == "gold"


class TestApplyChanges:
    def _target(self, spark, rows):
        import uuid

        from astro_spark.operators.load_file import save_dataframe_as_table

        t = a.Table(f"cdc_t_{uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame(rows, "k long, v string"), t
        )
        return t

    def test_last_change_wins_and_tombstones_delete(self, spark):
        from astro_spark.operators.cdc import apply_changes

        t = self._target(spark, [(1, "a"), (2, "b"), (3, "c")])
        changes = spark.createDataFrame(
            [
                (1, "a1", "U", 1),
                (1, None, "D", 2),     # latest for key 1: delete
                (2, "b1", "U", 2),
                (2, "b0", "U", 1),     # stale update loses
                (4, "d", "I", 1),      # brand-new key
                (9, None, "D", 1),     # tombstone for absent key: no-op
            ],
            "k long, v string, op string, seq long",
        )
        stats = apply_changes(spark, t, changes, ["k"], seq_col="seq")
        assert stats == {"upserted": 2, "deleted": 2}
        got = {(r.k, r.v) for r in spark.table(t.name).collect()}
        assert got == {(2, "b1"), (3, "c"), (4, "d")}

    def test_failing_stats_job_leaves_no_cached_frame(self, spark):
        """A change feed whose data column fails to compute raises from
        the first job over the persisted feed; the persisted frame must
        not outlive the call."""
        from pyspark.errors import PythonException

        from astro_spark.operators.cdc import apply_changes

        t = self._target(spark, [(1, "a")])

        @F.udf("string")
        def boom(v):
            raise ValueError("bad row")

        changes = spark.createDataFrame(
            [(1, "a1", "U", 1)], "k long, v string, op string, seq long"
        ).withColumn("v", boom("v"))
        cache = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        with pytest.raises(PythonException, match="bad row"):
            apply_changes(spark, t, changes, ["k"], seq_col="seq")
        assert cache.isEmpty()

    def test_reapply_is_idempotent(self, spark):
        from astro_spark.operators.cdc import apply_changes

        t = self._target(spark, [(1, "a"), (2, "b")])
        changes = spark.createDataFrame(
            [(1, None, "D", 1), (2, "b2", "U", 1), (5, "e", "I", 1)],
            "k long, v string, op string, seq long",
        )
        apply_changes(spark, t, changes, ["k"], seq_col="seq")
        once = {(r.k, r.v) for r in spark.table(t.name).collect()}
        apply_changes(spark, t, changes, ["k"], seq_col="seq")
        assert {(r.k, r.v) for r in spark.table(t.name).collect()} == once

    def test_duplicate_keys_without_seq_raise(self, spark):
        import pytest

        from astro_spark.operators.cdc import apply_changes

        t = self._target(spark, [(1, "a")])
        changes = spark.createDataFrame(
            [(1, "x", "U"), (1, None, "D")], "k long, v string, op string"
        )
        with pytest.raises(ValueError, match="seq_col"):
            apply_changes(spark, t, changes, ["k"])

    def test_expire_applied_seq_prunes_only_dead_old_entries(self, spark):
        """The sidecar retention knob: entries for keys LIVE in the
        target always survive; tombstoned-key entries survive until the
        horizon passes them.  After expiry, the documented trade shows:
        a pre-horizon stale upsert can resurrect, while post-horizon
        ordering protection is intact (VERDICT r8 #7)."""
        from astro_spark.operators.cdc import (
            _seq_sidecar,
            apply_changes,
            expire_applied_seq,
        )

        t = self._target(spark, [(1, "a"), (2, "b")])
        changes = spark.createDataFrame(
            [(1, "a1", "U", 10), (2, None, "D", 3), (3, None, "D", 20)],
            "k long, v string, op string, seq long",
        )
        apply_changes(spark, t, changes, ["k"], seq_col="seq", track_seq=True)
        side = _seq_sidecar(t)
        assert {
            (r.k, r["__seq"])
            for r in spark.table(side.qualified_name).collect()
        } == {(1, 10), (2, 3), (3, 20)}

        # horizon 15: key 1 is LIVE (kept even though seq 10 < 15),
        # key 2 is dead+old (dropped), key 3 is dead but newer (kept)
        assert expire_applied_seq(spark, t, ["k"], 15) == 1
        assert {
            (r.k, r["__seq"])
            for r in spark.table(side.qualified_name).collect()
        } == {(1, 10), (3, 20)}
        assert expire_applied_seq(spark, t, ["k"], 15) == 0  # idempotent

        # ordering protection intact for surviving entries: a stale
        # upsert for live key 1 and for protected tombstone key 3 drop
        stale = spark.createDataFrame(
            [(1, "a0", "U", 5), (3, "zombie", "U", 19)],
            "k long, v string, op string, seq long",
        )
        apply_changes(spark, t, stale, ["k"], seq_col="seq", track_seq=True)
        got = {(r.k, r.v) for r in spark.table(t.name).collect()}
        assert got == {(1, "a1")}

    def test_expire_applied_seq_inherits_cow_guard_and_recovery(self, spark):
        """The sidecar rewrite now rides the COW manifest commit: a
        pending manifest in the sidecar location (an interrupted
        earlier rewrite) blocks the next expiry with the single-writer
        fail-fast, and recover_table unwedges it — the sidecar can
        never be lost to a crash (ADVICE r9)."""
        import astro_spark as a
        from astro_spark.operators.cdc import (
            _seq_sidecar,
            apply_changes,
            expire_applied_seq,
        )
        from astro_spark.operators.cow import parquet_location, write_manifest
        from astro_spark.sources.writers import _hadoop_fs

        t = self._target(spark, [(1, "a")])
        changes = spark.createDataFrame(
            [(1, "a1", "U", 10), (2, None, "D", 3)],
            "k long, v string, op string, seq long",
        )
        apply_changes(spark, t, changes, ["k"], seq_col="seq", track_seq=True)
        side = _seq_sidecar(t)
        loc = parquet_location(spark, side.qualified_name)
        HPath, root, fs = _hadoop_fs(spark, loc)
        # simulate an interrupted rewrite: stage + manifest left behind
        spark.createDataFrame([(1, 10)], "k long, __seq long").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{loc.rstrip('/')}/.cow_stage_g1")
        write_manifest(fs, HPath, root, "g1", [])
        with pytest.raises(RuntimeError, match="pending commit manifest"):
            expire_applied_seq(spark, t, ["k"], 15)
        assert a.recover_table(spark, side) == 1
        # unwedged: the expiry now drops exactly the stale dead key
        assert expire_applied_seq(spark, t, ["k"], 15) == 1

    def test_expire_applied_seq_null_key_live_survives(self, spark):
        """A LIVE NULL-keyed target row's sidecar entry must survive
        expiry: plain SQL equality never matches NULL = NULL, so the
        liveness probe must be null-safe (ADVICE r9) — otherwise the
        entry is classified dead and expired, reopening the
        resurrection window for exactly the NULL-keyed rows
        apply_changes explicitly supports."""
        from astro_spark.operators.cdc import (
            _seq_sidecar,
            apply_changes,
            expire_applied_seq,
        )

        t = self._target(spark, [(1, "a")])
        changes = spark.createDataFrame(
            [(None, "n1", "I", 5), (2, None, "D", 3)],
            "k long, v string, op string, seq long",
        )
        apply_changes(spark, t, changes, ["k"], seq_col="seq", track_seq=True)
        side = _seq_sidecar(t)
        # NULL key is live in the target; key 2 is a dead old tombstone
        assert expire_applied_seq(spark, t, ["k"], 10) == 1
        kept = {
            (r.k, r["__seq"])
            for r in spark.table(side.qualified_name).collect()
        }
        assert kept == {(None, 5)}

    def test_null_keyed_unique_rows_pass_the_seqless_guard(self, spark):
        """The seq-less duplicate-key guard is NULL-safe: count_distinct
        over bare key columns SKIPS null-keyed rows, which falsely
        tripped 'multiple changes share a key' on a feed with ONE unique
        NULL-keyed row (ADVICE r8).  A struct-wrapped count treats the
        NULL tuple as one key: unique feeds pass, and two rows SHARING
        the NULL key still raise."""
        import pytest

        from astro_spark.operators.cdc import apply_changes

        t = self._target(spark, [(1, "a")])
        ok = spark.createDataFrame(
            [(2, "b", "I"), (None, "n", "I")], "k long, v string, op string"
        )
        stats = apply_changes(spark, t, ok, ["k"])
        assert stats["upserted"] == 2
        dup_null = spark.createDataFrame(
            [(None, "n1", "I"), (None, "n2", "U")],
            "k long, v string, op string",
        )
        with pytest.raises(ValueError, match="seq_col"):
            apply_changes(spark, t, dup_null, ["k"])

    def test_bad_op_codes_raise(self, spark):
        """A corrupted feed (NULL or unknown op code) raises instead of
        silently upserting / dropping rows (ADVICE r6)."""
        import pytest

        from astro_spark.operators.cdc import apply_changes

        t = self._target(spark, [(1, "a")])
        for bad in ["X", "d", None]:
            changes = spark.createDataFrame(
                [(1, "x", "U", 1), (2, "y", bad, 1)],
                "k long, v string, op string, seq long",
            )
            with pytest.raises(ValueError, match="corrupted"):
                apply_changes(spark, t, changes, ["k"], seq_col="seq")
        # target untouched by the refused feeds
        assert {(r.k, r.v) for r in spark.table(t.name).collect()} == {(1, "a")}

    def test_out_of_order_batches_with_track_seq(self, spark):
        """track_seq: a late-arriving batch with LOWER seq is dropped —
        it can neither overwrite newer values nor resurrect a newer
        tombstone's key (VERDICT r6 #1)."""
        from astro_spark.operators.cdc import apply_changes

        t = self._target(spark, [(1, "a"), (2, "b")])
        newer = spark.createDataFrame(
            [(1, None, "D", 5), (2, "new", "U", 5), (3, "c", "I", 5)],
            "k long, v string, op string, seq long",
        )
        stale = spark.createDataFrame(
            [(1, "zombie", "U", 2), (2, "old", "U", 2), (4, "d", "I", 2)],
            "k long, v string, op string, seq long",
        )
        s1 = apply_changes(spark, t, newer, ["k"], seq_col="seq", track_seq=True)
        assert s1 == {"upserted": 2, "deleted": 1}
        s2 = apply_changes(spark, t, stale, ["k"], seq_col="seq", track_seq=True)
        # only the genuinely-new key 4 survives the sidecar filter
        assert s2 == {"upserted": 1, "deleted": 0}
        got = {(r.k, r.v) for r in spark.table(t.name).collect()}
        assert got == {(2, "new"), (3, "c"), (4, "d")}
        # full replay of the newer batch is filtered to a no-op
        s3 = apply_changes(spark, t, newer, ["k"], seq_col="seq", track_seq=True)
        assert s3 == {"upserted": 0, "deleted": 0}
        spark.sql(f"DROP TABLE IF EXISTS {t.name}__applied_seq")

    def test_large_tombstone_set_file_scoped(self, spark):
        """Past the pushdown cap the delete goes through the semi-join
        file-scoped COW — untouched files keep their paths, never a
        full-table swap (VERDICT r6 #2)."""
        import uuid as _uuid

        from astro_spark.operators.cdc import apply_changes

        name = f"cdc_big_{_uuid.uuid4().hex[:8]}"
        spark.sql(
            f"CREATE TABLE {name} USING parquet AS "
            "SELECT id AS k, CAST(id AS STRING) AS v FROM range(0)"
        )
        spark.sql("SELECT id AS k, CAST(id AS STRING) AS v FROM range(800)") \
            .repartitionByRange(8, "k").write.mode("overwrite") \
            .format("parquet").insertInto(name)
        t = a.Table(name, temp=False)
        before = set(spark.table(name).inputFiles())
        assert len(before) == 8
        changes = spark.sql(
            "SELECT id AS k, CAST(NULL AS STRING) AS v, 'D' AS op, 1 AS seq "
            "FROM range(40, 60)"
        )
        stats = apply_changes(
            spark, t, changes, ["k"], seq_col="seq", delete_pushdown_cap=5
        )
        assert stats == {"upserted": 0, "deleted": 20}
        after = set(spark.table(name).inputFiles())
        assert spark.table(name).count() == 780
        assert spark.table(name).where("k = 45").count() == 0
        assert len(before & after) == 7  # only the hit file rewritten
        spark.sql(f"DROP TABLE {name}")

    def test_fused_mixed_batch_single_cow_commit(self, spark):
        """A batch carrying BOTH upserts and tombstones commits through
        ONE fused copy-on-write pass: files touched by either key set
        are rewritten once, untouched files keep their paths, and the
        result equals merge-then-delete (VERDICT r6 #6)."""
        import uuid as _uuid

        from astro_spark.operators.cdc import apply_changes

        name = f"cdc_fuse_{_uuid.uuid4().hex[:8]}"
        spark.sql(
            f"CREATE TABLE {name} USING parquet AS "
            "SELECT id AS k, CAST(id AS STRING) AS v FROM range(0)"
        )
        spark.sql("SELECT id AS k, CAST(id AS STRING) AS v FROM range(800)") \
            .repartitionByRange(8, "k").write.mode("overwrite") \
            .format("parquet").insertInto(name)
        t = a.Table(name, temp=False)
        before = set(spark.table(name).inputFiles())
        assert len(before) == 8
        # upserts hit the 40-60 file; tombstones hit the 140-160 file;
        # one brand-new key inserts — 6 of 8 files must keep their paths
        changes = spark.sql(
            "SELECT id AS k, CAST(NULL AS STRING) AS v, 'D' AS op, 1 AS seq "
            "FROM range(140, 160) "
            "UNION ALL SELECT id, concat('u', id), 'U', 1 FROM range(40, 60) "
            "UNION ALL SELECT 9000, 'new', 'I', 1"
        )
        stats = apply_changes(spark, t, changes, ["k"], seq_col="seq")
        assert stats == {"upserted": 21, "deleted": 20}
        after = set(spark.table(name).inputFiles())
        assert len(before & after) == 6
        df = spark.table(name)
        assert df.count() == 781
        assert df.where("k = 145").count() == 0
        assert df.where("k = 45").first().v == "u45"
        assert df.where("k = 9000").first().v == "new"
        assert df.where("k = 700").first().v == "700"
        spark.sql(f"DROP TABLE {name}")

    def test_multi_key_tombstones_no_literal_tree(self, spark):
        """Composite-key tombstones delete through the semi-join COW with
        a sargable per-column isin superset — correct even when the
        per-column superset over-matches (ADVICE r6: no OR-of-ANDs)."""
        import uuid as _uuid

        from astro_spark.operators.cdc import apply_changes
        from astro_spark.operators.load_file import save_dataframe_as_table

        t = a.Table(f"cdc_mk_{_uuid.uuid4().hex[:8]}", temp=False)
        rows = [(a_, b_, f"{a_}-{b_}") for a_ in range(4) for b_ in range(4)]
        save_dataframe_as_table(
            spark.createDataFrame(rows, "ka long, kb long, v string"), t
        )
        # delete (1,1) and (2,2); superset {1,2}×{1,2} also contains
        # (1,2),(2,1) which must SURVIVE
        changes = spark.createDataFrame(
            [(1, 1, None, "D", 1), (2, 2, None, "D", 1), (0, 0, "upd", "U", 1)],
            "ka long, kb long, v string, op string, seq long",
        )
        stats = apply_changes(spark, t, changes, ["ka", "kb"], seq_col="seq")
        assert stats == {"upserted": 1, "deleted": 2}
        got = {(r.ka, r.kb): r.v for r in spark.table(t.name).collect()}
        assert (1, 1) not in got and (2, 2) not in got
        assert got[(1, 2)] == "1-2" and got[(2, 1)] == "2-1"
        assert got[(0, 0)] == "upd" and len(got) == 14
        spark.sql(f"DROP TABLE {t.name}")


class TestJoinExplosionReport:
    def test_predicts_inner_join_fanout(self, spark):
        """n_pairs per key and total_pairs equal the actual inner-join
        output sizes."""
        from astro_spark.plans.skew import join_explosion_report

        left = spark.createDataFrame(
            [(k,) for k in [1] * 5 + [2] * 3 + [3]], "k long"
        )
        right = spark.createDataFrame(
            [(k,) for k in [1] * 4 + [2] * 2 + [4]], "k long"
        )
        rows = join_explosion_report(left, right, "k", top_k=5).collect()
        got = {r.key: (r.n_left, r.n_right, r.n_pairs) for r in rows}
        assert got == {1: (5, 4, 20), 2: (3, 2, 6)}
        assert rows[0].key == 1 and rows[0].rank == 1
        actual = left.join(right, "k").count()
        assert rows[0].total_pairs == actual == 26


class TestSkewReport:
    def test_hot_keys_ranked(self, spark):
        from astro_spark.plans.skew import skew_report

        rows = [(k,) for k in [1] * 70 + [2] * 20 + [3] * 10]
        df = spark.createDataFrame(rows, "key_col long")
        got = [
            (r.rank, r.key, r.n_rows, r.share_pmille)
            for r in skew_report(df, "key_col", top_k=2).collect()
        ]
        assert got == [(1, 1, 70, 700), (2, 2, 20, 200)]


class TestAutoCompact:
    def test_policy_triggers_only_on_small_files(self, spark, tmp_path):
        """A healthy table is untouched (returns 0, file paths stable);
        a fragmented one is rewritten to the byte target."""
        from astro_spark.operators.catalog import auto_compact

        name = "auto_compact_t"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        df = spark.range(0, 20_000).selectExpr("id", "id % 7 AS v")
        df.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(name)
        # one right-sized file -> policy must not rewrite
        assert auto_compact(spark, name, small_file_mb=0.0001) == 0
        # fragment into 8 tiny files -> policy rewrites
        spark.sql(f"DROP TABLE {name}")
        df.repartition(8).write.mode("overwrite").format("parquet").saveAsTable(
            name
        )
        n = auto_compact(spark, name, small_file_mb=16, min_small_files=4)
        assert n >= 1
        spark.catalog.refreshTable(name)
        files_after = sorted(
            r[0] for r in spark.sql(
                f"SELECT input_file_name() FROM {name}"
            ).distinct().collect()
        )
        assert len(files_after) == n
        assert spark.table(name).count() == 20_000
        spark.sql(f"DROP TABLE IF EXISTS {name}")


class TestCowRecovery:
    """Crash-recovery for copy-on-write commits: the manifest written
    before the rename/delete window lets recover_table roll an
    interrupted commit forward (redo, never undo)."""

    def _make_table(self, spark, rows, n_files=2, part_cols=()):
        import uuid

        import astro_spark as a
        from astro_spark.operators.load_file import save_dataframe_as_table

        tgt = a.Table(f"cowrec_{uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame(rows, "k long, v string").repartition(n_files),
            tgt,
            partition_by=list(part_cols) or None,
        )
        return tgt

    def _fs(self, spark, location):
        from astro_spark.sources.writers import _hadoop_fs

        return _hadoop_fs(spark, location)

    @pytest.mark.parametrize("layout", ["flat", "partitioned"])
    def test_recover_completes_interrupted_commit(self, spark, layout):
        """Simulate a crash HALFWAY through the rename/delete window:
        stage written, manifest written, one staged file renamed, old
        files untouched.  recover_table must finish the commit exactly
        — on a partitioned table, inside the partition directories."""
        import astro_spark as a
        from astro_spark.operators.cow import parquet_location, write_manifest

        part_cols = ["v"] if layout == "partitioned" else []
        tgt = self._make_table(
            spark, [(1, "a"), (2, "b"), (3, "c")], part_cols=part_cols
        )
        loc = parquet_location(spark, tgt.qualified_name)
        HPath, root, fs = self._fs(spark, loc)

        def data_files():
            it = fs.listFiles(root, True)
            paths = [it.next().getPath() for _ in iter(it.hasNext, False)]
            return [
                p for p in paths
                if p.getName().endswith(".parquet")
                and ".cow_stage_" not in p.toString()
            ]

        old_files = [p.toString() for p in data_files()]
        # the decided new generation: entirely different rows (kept in
        # existing partitions when partitioned — a COW rewrite never
        # creates one)
        new = {(10, "x"), (20, "y")} if not part_cols else {(10, "a"), (20, "c")}
        result = spark.createDataFrame(
            sorted(new), "k long, v string"
        ).repartition(2)
        gen = "testgen1"
        stage_name = f".cow_stage_{gen}"
        result.write.mode("overwrite").partitionBy(*part_cols).parquet(
            f"{loc.rstrip('/')}/{stage_name}"
        )
        write_manifest(fs, HPath, root, gen, old_files)
        # crash simulation: rename only ONE staged part, delete nothing
        staged = HPath(root, stage_name)
        it = fs.listFiles(staged, True)
        first = next(
            p
            for p in (it.next().getPath() for _ in iter(it.hasNext, False))
            if p.getName().startswith("part-")
        )
        out_dir = HPath(root, first.getParent().getName()) if part_cols else root
        fs.rename(first, HPath(out_dir, f"cow-{gen}-{first.getName()}"))

        assert a.recover_table(spark, tgt) == 1
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        assert got == new
        # old generation gone, stage gone, manifest gone
        names = [st.getPath().getName() for st in fs.listStatus(root)]
        assert not any(n.startswith(".cow_stage_") for n in names)
        assert not any(n.startswith(".cow_manifest_") for n in names)
        if part_cols:
            # exactly the new generation, inside the partition dirs
            placed = {
                (p.getParent().getName(), p.getName().startswith(f"cow-{gen}-part-"))
                for p in data_files()
            }
            assert placed == {("v=a", True), ("v=c", True)}
        assert a.recover_table(spark, tgt) == 0  # idempotent

    def test_recover_replays_fully_renamed_commit(self, spark):
        """Crash AFTER all renames but before any old-file delete:
        recovery only retires the old generation (no duplicate rows)."""
        import astro_spark as a
        from astro_spark.operators.cow import parquet_location, write_manifest

        tgt = self._make_table(spark, [(1, "a"), (2, "b")])
        loc = parquet_location(spark, tgt.qualified_name)
        HPath, root, fs = self._fs(spark, loc)
        old_files = [
            st.getPath().toString()
            for st in fs.listStatus(root)
            if st.getPath().getName().endswith(".parquet")
        ]
        result = spark.createDataFrame([(7, "z")], "k long, v string")
        gen = "testgen2"
        stage_name = f".cow_stage_{gen}"
        result.coalesce(1).write.mode("overwrite").parquet(
            f"{loc.rstrip('/')}/{stage_name}"
        )
        write_manifest(fs, HPath, root, gen, old_files)
        staged = HPath(root, stage_name)
        for st in fs.listStatus(staged):
            if st.getPath().getName().startswith("part-"):
                fs.rename(
                    st.getPath(),
                    HPath(root, f"cow-{gen}-{st.getPath().getName()}"),
                )
        assert a.recover_table(spark, tgt) == 1
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        assert got == {(7, "z")}

    def test_vacuum_skips_manifest_protected_stage(self, spark):
        """An orphan stage WITHOUT a manifest is inert (vacuumed); a
        stage WITH one belongs to recovery and must survive vacuum."""
        import astro_spark as a
        from astro_spark.operators.cow import parquet_location, write_manifest

        tgt = self._make_table(spark, [(1, "a")], n_files=1)
        loc = parquet_location(spark, tgt.qualified_name)
        HPath, root, fs = self._fs(spark, loc)
        spark.createDataFrame([(5, "e")], "k long, v string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{loc.rstrip('/')}/.cow_stage_inert")
        spark.createDataFrame([(6, "f")], "k long, v string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{loc.rstrip('/')}/.cow_stage_alive")
        write_manifest(fs, HPath, root, "alive", [])
        assert a.vacuum_table(spark, tgt) == 1  # only the inert stage
        names = [st.getPath().getName() for st in fs.listStatus(root)]
        assert ".cow_stage_alive" in names and ".cow_stage_inert" not in names
        # recovery then completes the decided commit (append: no olds)
        assert a.recover_table(spark, tgt) == 1
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        assert got == {(1, "a"), (6, "f")}

    def test_normal_commits_leave_no_manifest(self, spark):
        """The happy path cleans up after itself: a merge through the
        file-scoped COW leaves neither stage dirs nor manifests."""
        import uuid

        import astro_spark as a
        from astro_spark.operators.cow import parquet_location
        from astro_spark.operators.merge import merge

        tgt = self._make_table(spark, [(1, "a"), (2, "b"), (3, "c")])
        src = a.Table(f"cowrec_src_{uuid.uuid4().hex[:8]}")
        spark.createDataFrame(
            [(2, "b2"), (4, "d")], "k long, v string"
        ).createOrReplaceTempView(src.name)
        merge(spark, src, tgt, ["k"], if_conflicts="update")
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        assert got == {(1, "a"), (2, "b2"), (3, "c"), (4, "d")}
        loc = parquet_location(spark, tgt.qualified_name)
        HPath, root, fs = self._fs(spark, loc)
        names = [st.getPath().getName() for st in fs.listStatus(root)]
        assert not any(n.startswith(".cow_stage_") for n in names)
        assert not any(n.startswith(".cow_manifest_") for n in names)

    def test_pending_manifest_blocks_new_commits_until_recovered(self, spark):
        """A live manifest marks an undecided redo: new COW commits on
        the table fail fast instead of racing its old-file deletes;
        recovery unblocks them."""
        import uuid

        import pytest

        import astro_spark as a
        from astro_spark.operators.cow import parquet_location, write_manifest
        from astro_spark.operators.merge import merge

        tgt = self._make_table(spark, [(1, "a"), (2, "b")])
        loc = parquet_location(spark, tgt.qualified_name)
        HPath, root, fs = self._fs(spark, loc)
        spark.createDataFrame([(9, "q")], "k long, v string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{loc.rstrip('/')}/.cow_stage_pend")
        write_manifest(fs, HPath, root, "pend", [])

        src = a.Table(f"cowrec_src_{uuid.uuid4().hex[:8]}")
        spark.createDataFrame(
            [(2, "b9")], "k long, v string"
        ).createOrReplaceTempView(src.name)
        with pytest.raises(Exception, match="pending commit manifest"):
            merge(spark, src, tgt, ["k"], if_conflicts="update")
        assert a.recover_table(spark, tgt) == 1
        merge(spark, src, tgt, ["k"], if_conflicts="update")
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        assert got == {(1, "a"), (2, "b9"), (9, "q")}

    def test_recover_deletes_corrupt_manifest_and_unwedges(self, spark):
        """A TRUNCATED manifest (crash mid-manifest-write = before the
        commit's decision point) must not wedge the table: recover_table
        deletes it (commit never decided), the stage falls to vacuum,
        and new COW commits proceed (ADVICE r8)."""
        import uuid

        import astro_spark as a
        from astro_spark.operators.cow import parquet_location
        from astro_spark.operators.merge import merge

        tgt = self._make_table(spark, [(1, "a"), (2, "b")])
        loc = parquet_location(spark, tgt.qualified_name)
        HPath, root, fs = self._fs(spark, loc)
        spark.createDataFrame([(9, "q")], "k long, v string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{loc.rstrip('/')}/.cow_stage_bad")
        out = fs.create(HPath(root, ".cow_manifest_bad.json"), True)
        out.write(bytearray(b'{"gen": "bad", "sta'))  # truncated JSON
        out.close()

        assert a.recover_table(spark, tgt) == 0  # nothing to redo
        names = [st.getPath().getName() for st in fs.listStatus(root)]
        assert ".cow_manifest_bad.json" not in names  # unwedged
        assert ".cow_stage_bad" in names  # left for vacuum
        assert a.vacuum_table(spark, tgt) == 1
        # table unchanged and writable again
        src = a.Table(f"cowrec_src_{uuid.uuid4().hex[:8]}")
        spark.createDataFrame(
            [(2, "b2")], "k long, v string"
        ).createOrReplaceTempView(src.name)
        merge(spark, src, tgt, ["k"], if_conflicts="update")
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        assert got == {(1, "a"), (2, "b2")}

    def test_fused_mixed_batch_partitioned_in_place(self, spark):
        """Mixed upsert+tombstone batch on a PARTITIONED target commits
        through the fused partition-preserving COW: untouched partition
        files keep their paths, a new key registers its partition via
        append, and the result equals merge-then-delete."""
        import uuid as _uuid

        from astro_spark.operators.cdc import apply_changes
        from astro_spark.operators.load_file import save_dataframe_as_table

        t = a.Table(f"cdc_fpart_{_uuid.uuid4().hex[:8]}", temp=False)
        rows = [(i, f"p{i % 3}", f"v{i}") for i in range(90)]
        save_dataframe_as_table(
            spark.createDataFrame(rows, "k long, pt string, v string"),
            t,
            partition_by=["pt"],
        )
        before = set(spark.table(t.name).inputFiles())
        # upserts + deletes confined to partition p0 (keys % 3 == 0,
        # partition value re-asserted → no partition moves); one new key
        # lands in a brand-new partition p9
        changes = spark.createDataFrame(
            [(0, "p0", None, "D", 1), (3, "p0", None, "D", 1),
             (6, "p0", "u6", "U", 1), (900, "p9", "new", "I", 1)],
            "k long, pt string, v string, op string, seq long",
        )
        stats = apply_changes(spark, t, changes, ["k"], seq_col="seq")
        assert stats == {"upserted": 2, "deleted": 2}
        df = spark.table(t.name)
        assert df.count() == 89  # 90 - 2 deleted + 1 new
        assert df.where("k = 6").first().v == "u6"
        assert df.where("k = 900").first().pt == "p9"
        assert df.where("k in (0, 3)").count() == 0
        after = set(spark.table(t.name).inputFiles())
        # p1/p2 partition files untouched
        untouched = {f for f in before if "/pt=p1/" in f or "/pt=p2/" in f}
        assert untouched <= after

    def test_fused_partition_move_falls_back_correctly(self, spark):
        """An upsert that CHANGES a partition value cannot rewrite in
        place — the fused path must decline and the two-step fallback
        must still produce the right rows in the right partitions."""
        import uuid as _uuid

        from astro_spark.operators.cdc import apply_changes
        from astro_spark.operators.load_file import save_dataframe_as_table

        t = a.Table(f"cdc_fmove_{_uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame(
                [(1, "pa", "x"), (2, "pa", "y"), (3, "pb", "z")],
                "k long, pt string, v string",
            ),
            t,
            partition_by=["pt"],
        )
        changes = spark.createDataFrame(
            [(1, "pb", "moved", "U", 1), (3, "pb", None, "D", 1)],
            "k long, pt string, v string, op string, seq long",
        )
        stats = apply_changes(spark, t, changes, ["k"], seq_col="seq")
        assert stats == {"upserted": 1, "deleted": 1}
        got = {(r.k): (r.pt, r.v) for r in spark.table(t.name).collect()}
        assert got == {1: ("pb", "moved"), 2: ("pa", "y")}


class TestApplyChangesEquivalence:
    def test_batchwise_equals_all_at_once_random_feeds(self, spark):
        """Property: with a seq column and track_seq, applying a random
        change feed micro-batch-by-micro-batch (in seq order) converges
        to the same target as applying the whole feed at once — the
        fold/flatten equivalence that makes the streaming drain and the
        batch applier interchangeable."""
        import random
        import uuid as _uuid

        from astro_spark.operators.cdc import apply_changes
        from astro_spark.operators.load_file import save_dataframe_as_table

        from tests._budget import trials

        rng = random.Random(42)
        for trial in range(trials(1, 3)):
            keys = list(range(20))
            feed = []
            for seq in range(1, 16):
                k = rng.choice(keys)
                op = rng.choice(["U", "U", "I", "D"])
                v = None if op == "D" else f"v{seq}"
                feed.append((k, v, op, seq))

            def _apply(batches, tag):
                t = a.Table(
                    f"cdc_eq_{tag}_{trial}_{_uuid.uuid4().hex[:6]}", temp=False
                )
                save_dataframe_as_table(
                    spark.createDataFrame(
                        [(k, "seed") for k in keys[:10]], "k long, v string"
                    ),
                    t,
                )
                for batch in batches:
                    apply_changes(
                        spark,
                        t,
                        spark.createDataFrame(
                            batch, "k long, v string, op string, seq long"
                        ),
                        ["k"],
                        seq_col="seq",
                        track_seq=True,
                    )
                return {(r.k, r.v) for r in spark.table(t.name).collect()}

            whole = _apply([feed], "whole")
            # split into 4 seq-ordered batches
            bs = [feed[i::4] for i in range(4)]
            # each batch internally arbitrary, but batches applied in
            # interleaved order — the sidecar must still converge
            split = _apply(bs, "split")
            assert whole == split, (trial, whole ^ split)


class TestTimeTravel:
    """Versioned parquet tables (operators/timetravel.py): the Delta
    capabilities the reference gets from USING DELTA CTAS
    (delta.py:168-187), re-expressed as a manifest log on plain
    parquet."""

    def _seed(self, spark, tmp_path):
        root = str(tmp_path / "tt")
        v0 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string"
        )
        assert a.tt_create(spark, v0, root) == 0
        return root

    def test_create_append_overwrite_read_versions(self, spark, tmp_path):
        root = self._seed(spark, tmp_path)
        assert a.tt_append(
            spark, spark.createDataFrame([(3, "c")], "k long, v string"), root
        ) == 1
        assert a.tt_overwrite(
            spark, spark.createDataFrame([(9, "z")], "k long, v string"), root
        ) == 2
        def rows(version=None):
            return {
                (r.k, r.v) for r in a.tt_read(spark, root, version).collect()
            }
        assert rows(0) == {(1, "a"), (2, "b")}
        assert rows(1) == {(1, "a"), (2, "b"), (3, "c")}
        assert rows(2) == {(9, "z")}
        assert rows() == {(9, "z")}  # latest

    def test_restore_preserves_history(self, spark, tmp_path):
        root = self._seed(spark, tmp_path)
        a.tt_overwrite(
            spark, spark.createDataFrame([(9, "z")], "k long, v string"), root
        )
        assert a.tt_restore(spark, root, 0) == 2
        got = {(r.k, r.v) for r in a.tt_read(spark, root).collect()}
        assert got == {(1, "a"), (2, "b")}
        hist = {r.version: (r.op, r.n_files) for r in a.tt_history(spark, root).collect()}
        assert set(hist) == {0, 1, 2}
        assert hist[2][0] == "restore(v0)"
        # the overwritten version is STILL readable (restore deletes nothing)
        assert {(r.k, r.v) for r in a.tt_read(spark, root, 1).collect()} == {(9, "z")}

    def test_as_of_timestamp(self, spark, tmp_path):
        import time as _time

        root = self._seed(spark, tmp_path)
        mid = _time.time()
        _time.sleep(0.05)
        a.tt_append(
            spark, spark.createDataFrame([(3, "c")], "k long, v string"), root
        )
        got = {(r.k, r.v) for r in a.tt_read(spark, root, as_of_ts=mid).collect()}
        assert got == {(1, "a"), (2, "b")}
        with pytest.raises(ValueError, match="at most one"):
            a.tt_read(spark, root, version=0, as_of_ts=mid)

    def test_concurrent_commit_isolation(self, spark, tmp_path):
        """A manifest racing into the same version number loses with
        ConcurrentWriteError (overwrite path) or retries transparently
        (append path, whose intent is state-independent)."""
        root = self._seed(spark, tmp_path)
        # simulate a racing writer: pre-commit version 1 behind our back
        log = TableLog(root)
        log.publish_manifest(1, {"files": [], "op": "rival", "ts": 0.0})
        with pytest.raises(a.exceptions.AstroSparkError):
            # overwrite races for v1 -> surfaced conflict
            log.publish_manifest(1, {"files": [], "op": "loser", "ts": 0.0})
        # append retries onto v2 and succeeds
        v = a.tt_append(
            spark, spark.createDataFrame([(3, "c")], "k long, v string"), root
        )
        assert v == 2

    @pytest.mark.parametrize("err", ["EPERM", "ENOTSUP", "ENOSPC", "EIO"])
    def test_publish_falls_back_without_hardlinks(
        self, spark, tmp_path, monkeypatch, err
    ):
        """ADVICE r15: on mounts without hard-link support, link(2)
        raises EPERM/ENOTSUP — the publish falls back to the old
        O_CREAT|O_EXCL write (full content, losing race surfaced).  Any
        other link(2) failure surfaces with its own errno, leaves no
        version and no temp file, and the next commit lands at that
        same version."""
        import errno
        import os as _os

        root = self._seed(spark, tmp_path)
        code = getattr(errno, err)
        real_link = _os.link

        def failing_link(src, dst, *args, **kwargs):
            raise OSError(code, _os.strerror(code))

        monkeypatch.setattr(_os, "link", failing_link)
        log = TableLog(root)
        entry = {"files": [], "op": "nolink", "ts": 0.0}
        if err in ("EPERM", "ENOTSUP"):
            log.publish_manifest(1, entry)
            assert log.manifest(1)["op"] == "nolink"
            with pytest.raises(a.exceptions.ConcurrentWriteError):
                log.publish_manifest(1, {**entry, "op": "loser"})
        else:
            with pytest.raises(OSError) as raised:
                log.publish_manifest(1, entry)
            assert raised.value.errno == code
            assert log.versions() == [0]
            monkeypatch.setattr(_os, "link", real_link)
            assert a.tt_append(
                spark, spark.createDataFrame([(3, "c")], "k long, v string"), root
            ) == 1
        assert not [n for n in _os.listdir(f"{root}/_log") if n.startswith(".")]

    def test_vacuum_sweeps_stale_manifest_temps(self, spark, tmp_path):
        """A publisher killed between its temp write and link(2) leaves
        a hidden _log/.v*.json.tmp-* file.  Vacuum removes it once it is
        older than the grace window (which keeps an in-flight
        publisher's temp): kept under the default grace, removed with
        grace 0."""
        root = self._seed(spark, tmp_path)
        stale = f"{root}/_log/.v00000001.json.tmp-{'0' * 32}"
        with open(stale, "w") as fh:
            fh.write('{"files": [], "op": "killed"')
        a.tt_vacuum(spark, root)
        assert os.path.exists(stale)
        spark.conf.set("spark.astro.tt.vacuumCkptGraceSec", "0")
        try:
            a.tt_vacuum(spark, root)
        finally:
            spark.conf.unset("spark.astro.tt.vacuumCkptGraceSec")
        assert not os.path.exists(stale)
        assert TableLog(root).versions() == [0]
        assert a.tt_read(spark, root).count() == 2

    def test_relative_root_resolves_against_cwd(
        self, spark, tmp_path, monkeypatch
    ):
        """A relative root names ONE directory — the cwd's — for data
        files and log alike, on every tt_* call (the log used to land
        under '/' while the data files followed the cwd)."""
        monkeypatch.chdir(tmp_path)
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        assert a.tt_create(spark, df, "relt/t1") == 0
        assert (tmp_path / "relt" / "t1" / "_log" / "v00000000.json").exists()
        assert a.tt_append(spark, df, "relt/t1") == 1
        assert a.tt_read(spark, "relt/t1").count() == 2
        assert a.tt_read(spark, "relt/t1", version=0).count() == 1
        assert a.tt_history(spark, "relt/t1").count() == 2

    def test_hadoop_log_io_reads_and_writes_the_same_log(self, spark, tmp_path):
        """Non-local roots on the session path take the Hadoop-FileSystem
        I/O, the only code that reaches s3a:// and friends.  Driven here
        over the local Hadoop filesystem, it reads, publishes,
        checkpoints, lists and vacuums the same log the os path sees.
        (Put-if-absent is the filesystem's rename contract — HDFS
        refuses an existing target, the local Hadoop filesystem
        replaces it — so local roots never take this path.)"""
        from astro_spark.sources.tt_log import _HadoopFS

        root = self._seed(spark, tmp_path)
        local = TableLog(root)
        log = TableLog(root, spark, inline_max=1)
        log.fs = _HadoopFS(spark, f"file://{root}")
        v0 = log.manifest(0)
        assert log.versions() == [0] and v0 == local.manifest(0)
        files, _stats = log.resolve(v0)
        assert log.parquet_files("files") == sorted(files)
        assert log.fs.size(files[0]) == os.path.getsize(f"{root}/{files[0]}")
        listed = files + ["files/synthetic/part-0.parquet"]
        body = log.body_full(listed, {})  # past inline_max: a checkpoint
        log.publish_manifest(1, {**body, "op": "ckpt", "ts": 0.0})
        assert local.versions() == [0, 1]
        assert local.resolve(local.manifest(1))[0] == listed
        orphan = log.write_checkpoint(files, {})
        log.drop_versions([0], {body["base"]}, set(), grace_s=0.0)
        assert log.versions() == [1]
        assert not log.fs.exists(orphan) and log.fs.exists(body["base"])

    def test_vacuum_reclaims_only_dead_files(self, spark, tmp_path):
        root = self._seed(spark, tmp_path)
        a.tt_overwrite(
            spark, spark.createDataFrame([(9, "z")], "k long, v string"), root
        )
        a.tt_restore(spark, root, 0)  # v2 shares v0's files
        deleted = a.tt_vacuum(spark, root, keep_last=1)
        # v0/v1 manifests dropped; v0's files survive (v2 references
        # them), v1's die
        assert deleted >= 1
        got = {(r.k, r.v) for r in a.tt_read(spark, root).collect()}
        assert got == {(1, "a"), (2, "b")}
        with pytest.raises(a.exceptions.AstroSparkError):
            a.tt_read(spark, root, 1)

    def test_crashed_writer_files_invisible(self, spark, tmp_path):
        """Data files without a published manifest never surface — a
        crash between data write and manifest publish leaves garbage,
        not corruption."""
        root = self._seed(spark, tmp_path)
        from astro_spark.operators import timetravel as tt

        log = TableLog(root)
        # orphan files = a writer that died before publishing
        tt._write_data_files(
            spark,
            spark.createDataFrame([(666, "ghost")], "k long, v string"),
            log,
        )
        got = {(r.k, r.v) for r in a.tt_read(spark, root).collect()}
        assert got == {(1, "a"), (2, "b")}

    def test_predicate_pushdown_reaches_versioned_scan(self, spark, tmp_path):
        """The explicit-file-list read keeps parquet pushdown: the scan
        shows a PushedFilters entry for the key predicate."""
        root = self._seed(spark, tmp_path)
        df = a.tt_read(spark, root, 0).where("k = 1")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "IsNotNull(k)" in plan
        assert df.count() == 1

    def test_merge_updates_inserts_and_time_travels(self, spark, tmp_path):
        """tt_merge upserts file-scoped: matched rows update, new keys
        insert, files without matched keys carry over by manifest
        reference (their part-files are byte-identical paths), and the
        pre-merge version stays readable."""
        root = str(tmp_path / "ttm")
        # two files: k=1..2 in one, k=3..4 in the other
        f1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        a.tt_create(spark, f1, root)
        a.tt_append(
            spark, spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string"), root
        )
        log = TableLog(root)
        before = set(log.manifest(1)["files"])

        src = spark.createDataFrame(
            [(2, "B2"), (2, "ZZZ"), (5, "e")], "k long, v string"
        )  # dup source key: deterministic first-by-sort wins (B2)
        v = a.tt_merge(spark, src, root, ["k"])
        assert v == 2
        got = {(r.k, r.v) for r in a.tt_read(spark, root).collect()}
        assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d"), (5, "e")}
        # pre-merge version intact
        pre = {(r.k, r.v) for r in a.tt_read(spark, root, 1).collect()}
        assert pre == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
        # the k=3..4 file was NOT rewritten: its manifest entry carries over
        after = set(log.manifest(2)["files"])
        assert before & after, "untouched file should carry over by reference"

    def test_delete_where_rewrites_only_touched_files(self, spark, tmp_path):
        root = str(tmp_path / "ttd")
        a.tt_create(
            spark, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), root
        )
        a.tt_append(
            spark, spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string"), root
        )
        log = TableLog(root)
        before = set(log.manifest(1)["files"])
        v = a.tt_delete_where(spark, root, "k = 2")
        assert v == 2
        got = {(r.k, r.v) for r in a.tt_read(spark, root).collect()}
        assert got == {(1, "a"), (3, "c"), (4, "d")}
        # deleted row still time-travelable
        assert (2, "b") in {
            (r.k, r.v) for r in a.tt_read(spark, root, 1).collect()
        }
        after = set(log.manifest(2)["files"])
        assert before & after, "file without matches should carry over"
        # no-match predicate: NO new version
        assert a.tt_delete_where(spark, root, "k = 999") == 2

    def test_optimize_compacts_and_zorders_without_changing_rows(
        self, spark, tmp_path
    ):
        """tt_optimize rewrites the head layout (fewer files /
        Morton-clustered) as a NEW version with identical rows; the
        pre-optimize version still reads its old file list."""
        root = str(tmp_path / "tto")
        rows = [(i, i % 7) for i in range(200)]
        a.tt_create(
            spark,
            spark.createDataFrame(rows, "k long, g long").repartition(8),
            root,
        )
        v = a.tt_optimize(spark, root, target_files=2, zorder_by=["k", "g"])
        assert v == 1
        got = sorted((r.k, r.g) for r in a.tt_read(spark, root).collect())
        assert got == sorted(rows)
        log = TableLog(root)
        m0 = log.manifest(0)
        m1 = log.manifest(1)
        assert len(m1["files"]) <= 2 < len(m0["files"])
        assert m1["op"] == "optimize(zorder=k,g)"
        # plain compaction too
        assert a.tt_optimize(spark, root, target_files=1) == 2
        assert a.tt_read(spark, root, 0).count() == 200

    def test_schema_evolution_log_owned(self, spark, tmp_path):
        """The manifest log owns the schema (Delta's model): appending
        new columns needs merge_schema=True, old files read evolved
        columns as NULL, old versions keep their old schema, and a
        same-name type conflict raises."""
        root = str(tmp_path / "ttschema")
        a.tt_create(
            spark, spark.createDataFrame([(1, "a")], "k long, v string"), root
        )
        wide = spark.createDataFrame(
            [(2, "b", 9.5)], "k long, v string, score double"
        )
        with pytest.raises(a.exceptions.AstroSparkError, match="merge_schema"):
            a.tt_append(spark, wide, root)
        v = a.tt_append(spark, wide, root, merge_schema=True)
        assert v == 1
        head = a.tt_read(spark, root)
        assert head.columns == ["k", "v", "score"]
        got = {(r.k, r.v, r.score) for r in head.collect()}
        assert got == {(1, "a", None), (2, "b", 9.5)}
        # the pre-evolution version keeps its 2-column schema
        assert a.tt_read(spark, root, 0).columns == ["k", "v"]
        # a df MISSING a table column is fine (reads back as NULL)
        a.tt_append(
            spark, spark.createDataFrame([(3, "c")], "k long, v string"), root
        )
        got = {
            (r.k, r.score) for r in a.tt_read(spark, root).collect()
        }
        assert got == {(1, None), (2, 9.5), (3, None)}
        # type conflict always raises, merge_schema or not
        bad = spark.createDataFrame([(4, 5)], "k long, v long")
        with pytest.raises(a.exceptions.AstroSparkError, match="conflict"):
            a.tt_append(spark, bad, root, merge_schema=True)
        # DML after evolution preserves the evolved schema
        a.tt_merge(
            spark,
            spark.createDataFrame([(1, "A1", 1.0)], "k long, v string, score double"),
            root, ["k"],
        )
        got = {(r.k, r.v, r.score) for r in a.tt_read(spark, root).collect()}
        assert got == {(1, "A1", 1.0), (2, "b", 9.5), (3, "c", None)}

    def test_diff_between_versions_is_a_change_feed(self, spark, tmp_path):
        """tt_diff(v_from, v_to): added/removed/changed keys between any
        two versions — Delta CDF's query surface from snapshots."""
        root = str(tmp_path / "ttdiff")
        a.tt_create(
            spark,
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
            ),
            root,
        )
        a.tt_merge(
            spark,
            spark.createDataFrame([(2, "B2"), (4, "d")], "k long, v string"),
            root, ["k"],
        )
        a.tt_delete_where(spark, root, "k = 3")
        got = {
            (r.diff_status, r.k)
            for r in a.tt_diff(spark, root, ["k"], 0).collect()
        }
        assert got == {("changed", 2), ("added", 4), ("removed", 3)}
        # between intermediate versions too
        got = {
            (r.diff_status, r.k)
            for r in a.tt_diff(spark, root, ["k"], 1, 2).collect()
        }
        assert got == {("removed", 3)}
        # identical versions: empty feed
        assert a.tt_diff(spark, root, ["k"], 0, 0).count() == 0

    def test_manifest_data_skipping_prunes_files(self, spark, tmp_path):
        """stats_cols at commit time record per-file [min,max] in the
        manifest; tt_read(skip_by=) drops non-intersecting files before
        any footer is opened.  Pruned + filter equals full + filter;
        stats survive append/merge/optimize commits."""
        from pyspark.sql import functions as F

        root = str(tmp_path / "ttskip")
        # 4 range-partitioned files: k in [0,25), [25,50), ...
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        ).repartitionByRange(4, "k")
        a.tt_create(spark, df, root, stats_cols=["k"])
        log = TableLog(root)
        m0 = log.manifest(0)
        assert len(m0["stats"]) == len(m0["files"]) == 4

        full = a.tt_read(spark, root)
        pruned = a.tt_read(spark, root, skip_by={"k": (10, 20)})
        n_full = full.select(F.input_file_name()).distinct().count()
        n_pruned = pruned.select(F.input_file_name()).distinct().count()
        assert n_pruned < n_full
        assert (
            sorted(r.k for r in pruned.where("k BETWEEN 10 AND 20").collect())
            == sorted(r.k for r in full.where("k BETWEEN 10 AND 20").collect())
            == list(range(10, 21))
        )
        # open-ended bound
        assert a.tt_read(spark, root, skip_by={"k": (90, None)}).select(
            F.input_file_name()
        ).distinct().count() == 1

        # stats keep being maintained without re-passing stats_cols
        a.tt_append(
            spark,
            spark.createDataFrame([(1000, 0), (1001, 1)], "k long, g long"),
            root,
        )
        a.tt_merge(
            spark, spark.createDataFrame([(50, 99)], "k long, g long"),
            root, ["k"],
        )
        a.tt_optimize(spark, root, target_files=3, zorder_by=["k"])
        _v, head = log.head()
        assert set(head["stats"]) == set(head["files"])
        got = a.tt_read(spark, root, skip_by={"k": (1000, None)})
        assert {r.k for r in got.collect()} >= {1000, 1001}

    def test_data_skipping_string_bounds_and_type_guard(self, spark, tmp_path):
        """String stats prune lexicographically; unsupported stat types
        (arrays, maps) raise at commit time, not read time."""
        root = str(tmp_path / "ttskipstr")
        df = spark.createDataFrame(
            [(1, "apple"), (2, "banana"), (3, "cherry"), (4, "damson")],
            "k long, w string",
        ).repartitionByRange(2, "w")
        a.tt_create(spark, df, root, stats_cols=["w"])
        from pyspark.sql import functions as F

        pruned = a.tt_read(spark, root, skip_by={"w": ("a", "b")})
        assert pruned.select(F.input_file_name()).distinct().count() == 1
        assert {r.w for r in pruned.where("w < 'b'").collect()} == {"apple"}
        arr = spark.createDataFrame([(1, ["x"])], "k long, v array<string>")
        with pytest.raises(a.exceptions.AstroSparkError, match="stats_cols"):
            a.tt_create(spark, arr, str(tmp_path / "bad"), stats_cols=["v"])

    def test_delta_sql_text_front_door(self, spark, tmp_path):
        """DESCRIBE HISTORY '<root>' and RESTORE TABLE '<root>' TO
        VERSION AS OF n route through the timetravel operators via
        run_raw_sql (the merge_from_sql precedent); bare identifiers
        fall through to spark.sql untouched."""
        root = str(tmp_path / "ttsql")
        a.tt_create(
            spark, spark.createDataFrame([(1, "a")], "k long, v string"), root
        )
        a.tt_overwrite(
            spark, spark.createDataFrame([(9, "z")], "k long, v string"), root
        )
        hist = a.run_raw_sql(
            spark, f"DESCRIBE HISTORY '{root}'", results_format="list"
        )
        assert [(r.version, r.op) for r in hist] == [
            (0, "create"), (1, "overwrite")
        ]
        got = a.run_raw_sql(
            spark,
            f"RESTORE TABLE '{root}' TO VERSION AS OF 0",
            results_format="list",
        )
        assert got[0].restored_as_version == 2
        assert {(r.k, r.v) for r in a.tt_read(spark, root).collect()} == {
            (1, "a")
        }
        # a bare identifier is NOT intercepted: Spark's own parser sees it
        from pyspark.errors import AnalysisException, ParseException

        with pytest.raises((AnalysisException, ParseException)):
            a.run_raw_sql(spark, "DESCRIBE HISTORY not_a_quoted_path")

    def test_check_constraints_enforced_delta_semantics(self, spark, tmp_path):
        """ADD CONSTRAINT validates existing data; appends/merges that
        violate (FALSE or NULL) are rejected BEFORE publishing — no new
        version, no bad state; deletes and optimize carry constraints;
        drop removes enforcement; restore restores it."""
        from astro_spark.operators.timetravel import ConstraintViolationError

        root = str(tmp_path / "ttcheck")
        a.tt_create(
            spark,
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
            root,
        )
        # existing data violates -> rejected, no version committed
        with pytest.raises(ConstraintViolationError):
            a.tt_add_constraint(spark, root, "v_cap", "v < 15")
        assert a.tt_history(spark, root).count() == 1
        v = a.tt_add_constraint(spark, root, "v_pos", "v > 0")
        assert v == 1
        # violating append (FALSE) rejected; NULL counts as violation
        with pytest.raises(ConstraintViolationError):
            a.tt_append(
                spark, spark.createDataFrame([(3, -5)], "k long, v long"), root
            )
        with pytest.raises(ConstraintViolationError):
            a.tt_append(
                spark,
                spark.createDataFrame([(3, None)], "k long, v long"),
                root,
            )
        assert a.tt_history(spark, root).count() == 2  # nothing committed
        # violating merge rejected (update path)
        with pytest.raises(ConstraintViolationError):
            a.tt_merge(
                spark, spark.createDataFrame([(1, -1)], "k long, v long"),
                root, ["k"],
            )
        # clean writes pass and the constraint carries forward
        a.tt_append(
            spark, spark.createDataFrame([(3, 30)], "k long, v long"), root
        )
        a.tt_optimize(spark, root, target_files=1)
        with pytest.raises(ConstraintViolationError):
            a.tt_append(
                spark, spark.createDataFrame([(4, 0)], "k long, v long"), root
            )
        # drop -> enforcement gone; restore to a constrained version -> back
        constrained_v = a.tt_history(spark, root).count() - 1
        a.tt_drop_constraint(spark, root, "v_pos")
        a.tt_append(
            spark, spark.createDataFrame([(4, -4)], "k long, v long"), root
        )
        a.tt_delete_where(spark, root, "k = 4")
        a.tt_restore(spark, root, constrained_v)
        with pytest.raises(ConstraintViolationError):
            a.tt_append(
                spark, spark.createDataFrame([(5, -5)], "k long, v long"), root
            )

    def test_decimal_stats_cols_commit_and_skip(self, spark, tmp_path):
        """ADVICE r10: decimal stats bounds are Python Decimal objects —
        they must serialize into the JSON manifest (normalized to floats,
        widened outward so skipping stays sound) instead of crashing the
        commit after the data files were written."""
        from decimal import Decimal

        root = str(tmp_path / "ttdec")
        df = spark.createDataFrame(
            [(1, Decimal("1.10")), (2, Decimal("99.99"))],
            "k long, amt decimal(10,2)",
        ).repartition(2, "k")
        assert a.tt_create(spark, df, root, stats_cols=["amt"]) == 0
        a.tt_append(
            spark,
            spark.createDataFrame(
                [(3, Decimal("50.00"))], "k long, amt decimal(10,2)"
            ),
            root,
        )
        got = {
            (r.k, str(r.amt))
            for r in a.tt_read(
                spark, root, skip_by={"amt": (Decimal("40"), Decimal("60"))}
            ).collect()
        }
        assert (3, "50.00") in got  # the in-range row always survives
        full = {(r.k, str(r.amt)) for r in a.tt_read(spark, root).collect()}
        assert full == {(1, "1.10"), (2, "99.99"), (3, "50.00")}

    def test_append_missing_stats_column_ok(self, spark, tmp_path):
        """ADVICE r10: a df legitimately omitting a stats column (reads
        back as NULL through the log schema) must not crash tt_append's
        stats scan; the new files simply carry no stats for it (skip_by
        keeps stat-less files)."""
        root = str(tmp_path / "ttmiss")
        a.tt_create(
            spark,
            spark.createDataFrame([(1, 10, "x")], "k long, v long, s string"),
            root,
            stats_cols=["v"],
        )
        v = a.tt_append(
            spark, spark.createDataFrame([(2, "y")], "k long, s string"), root
        )
        assert v == 1
        rows = {
            (r.k, r.v, r.s) for r in a.tt_read(spark, root).collect()
        }
        assert rows == {(1, 10, "x"), (2, None, "y")}
        # skip_by on v still keeps the stat-less file (absence is never
        # evidence): the NULL-v row survives any range
        kept = {
            r.k
            for r in a.tt_read(spark, root, skip_by={"v": (100, 200)}).collect()
        }
        assert 2 in kept

    def test_constraints_checked_on_written_rows(self, spark, tmp_path):
        """ADVICE r10: append/overwrite validate CHECK constraints on the
        READ-BACK of the just-written (still invisible) files — the rows
        that will publish — not on a re-execution of the caller's plan.
        A df omitting a constrained column therefore fails as the NULLs
        it would read back as (Delta semantics), and a rejected write
        leaves no new version."""
        from astro_spark.operators.timetravel import ConstraintViolationError

        root = str(tmp_path / "ttwritten")
        a.tt_create(
            spark,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            root,
        )
        a.tt_add_constraint(spark, root, "v_pos", "v > 0")
        # append omitting v: written files read back v=NULL -> violation
        with pytest.raises(ConstraintViolationError):
            a.tt_append(
                spark,
                spark.createDataFrame([(2,)], "k long"),
                root,
                merge_schema=True,
            )
        assert a.tt_history(spark, root).count() == 2  # no version published
        # overwrite with violating rows rejected post-write, pre-publish
        with pytest.raises(ConstraintViolationError):
            a.tt_overwrite(
                spark, spark.createDataFrame([(9, -9)], "k long, v long"), root
            )
        assert a.tt_history(spark, root).count() == 2
        assert {(r.k, r.v) for r in a.tt_read(spark, root).collect()} == {(1, 10)}


class TestDmlSql:
    """SQL-text DELETE FROM / UPDATE routed through the file-scoped COW
    DML engine (run_raw_sql), completing the raw-SQL DML surface the
    reference accepts (sql/operators/raw_sql.py:25-158) on catalogs
    where Spark itself rejects DML on v1 parquet tables."""

    def _seed(self, spark, name="dmlsql_t"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            "SELECT id AS k, id * 2 AS v, CAST(id % 3 AS STRING) AS g "
            "FROM range(300)"
        ).repartitionByRange(4, "k").write.format("parquet").saveAsTable(name)
        return name

    def test_delete_sql_routed_file_scoped(self, spark):
        name = self._seed(spark)
        before = set(spark.table(name).inputFiles())
        got = a.run_raw_sql(
            spark,
            f"DELETE FROM {name} WHERE k BETWEEN 10 AND 20",
            results_format="list",
        )
        assert got[0].affected_rows == 11
        assert spark.table(name).count() == 289
        assert spark.table(name).where("k = 15").count() == 0
        # file-scoped: untouched files keep their paths
        assert before & set(spark.table(name).inputFiles())
        spark.sql(f"DROP TABLE {name}")

    def test_delete_sql_no_where_deletes_all(self, spark):
        name = self._seed(spark)
        got = a.run_raw_sql(spark, f"DELETE FROM {name}", results_format="list")
        assert got[0].affected_rows == 300
        assert spark.table(name).count() == 0
        spark.sql(f"DROP TABLE {name}")

    def test_update_sql_routed_multi_set_with_commas(self, spark):
        name = self._seed(spark)
        got = a.run_raw_sql(
            spark,
            f"UPDATE {name} SET v = coalesce(v, 0) + 1000, "
            "g = concat(g, '_x') WHERE k < 5",
            results_format="list",
        )
        assert got[0].affected_rows == 5
        rows = {r.k: (r.v, r.g) for r in spark.table(name).where("k < 6").collect()}
        assert rows[0] == (1000, "0_x")
        assert rows[4] == (1008, "1_x")
        assert rows[5] == (10, "2")  # untouched
        spark.sql(f"DROP TABLE {name}")

    def test_update_where_in_string_literal_not_split(self, spark):
        name = self._seed(spark)
        got = a.run_raw_sql(
            spark,
            f"UPDATE {name} SET g = 'where' WHERE k = 7",
            results_format="list",
        )
        assert got[0].affected_rows == 1
        assert spark.table(name).where("k = 7").collect()[0].g == "where"
        spark.sql(f"DROP TABLE {name}")

    def test_delete_sql_versioned_root(self, spark, tmp_path):
        root = str(tmp_path / "dmlsql_tt")
        a.tt_create(
            spark,
            spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string"),
            root,
        )
        got = a.run_raw_sql(
            spark, f"DELETE FROM '{root}' WHERE k = 2", results_format="list"
        )
        assert got[0].committed_version == 1
        assert {r.k for r in a.tt_read(spark, root).collect()} == {1, 3}
        # version 0 still time-travelable
        assert a.tt_read(spark, root, 0).count() == 3

    def test_grammar_miss_falls_back_to_spark_sql(self, spark):
        """Aliased / exotic DML text is NOT silently swallowed — it falls
        through to spark.sql, surfacing Spark's own error on parquet
        (a Delta catalog would execute it)."""
        from pyspark.errors.exceptions.captured import (
            AnalysisException,
            ParseException,
        )

        name = self._seed(spark)
        with pytest.raises((AnalysisException, ParseException)):
            a.run_raw_sql(
                spark, f"DELETE FROM {name} AS x WHERE x.k = 1"
            )
        # injection-shaped identifier: allowlist rejects -> fallback raises
        with pytest.raises((AnalysisException, ParseException)):
            a.run_raw_sql(spark, "DELETE FROM bad;name WHERE 1=1")
        assert spark.table(name).count() == 300  # nothing executed
        spark.sql(f"DROP TABLE {name}")

    def test_dml_sql_returns_none_without_results_format(self, spark):
        name = self._seed(spark)
        assert a.run_raw_sql(spark, f"DELETE FROM {name} WHERE k = 0") is None
        assert spark.table(name).count() == 299
        spark.sql(f"DROP TABLE {name}")

    def test_time_travel_read_sql(self, spark, tmp_path):
        """SELECT ... FROM '<root>' VERSION AS OF n / TIMESTAMP AS OF
        runs as statement text through run_raw_sql (each AS OF
        reference resolves via the manifest log into a temp view);
        non-versioned quoted paths are left verbatim."""
        import time as _time

        root = str(tmp_path / "ttsql")
        a.tt_create(
            spark,
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
            root,
        )
        mid = _time.time()
        _time.sleep(0.05)
        a.tt_append(
            spark, spark.createDataFrame([(3, "c")], "k long, s string"), root
        )
        rows = a.run_raw_sql(
            spark,
            f"SELECT COUNT(*) AS n FROM '{root}' VERSION AS OF 0",
            results_format="list",
        )
        assert rows[0].n == 2
        rows = a.run_raw_sql(
            spark,
            f"SELECT MAX(k) AS mk FROM '{root}' VERSION AS OF 1",
            results_format="list",
        )
        assert rows[0].mk == 3
        rows = a.run_raw_sql(
            spark,
            f"SELECT COUNT(*) AS n FROM '{root}' TIMESTAMP AS OF {mid}",
            results_format="list",
        )
        assert rows[0].n == 2
        # ISO-string timestamp (local-time naive) resolves the same way
        from datetime import datetime

        iso = datetime.fromtimestamp(mid).isoformat()
        rows = a.run_raw_sql(
            spark,
            f"SELECT COUNT(*) AS n FROM '{root}' TIMESTAMP AS OF '{iso}'",
            results_format="list",
        )
        assert rows[0].n == 2
        # joinable with itself and with ordinary views in one statement
        rows = a.run_raw_sql(
            spark,
            f"SELECT COUNT(*) AS n FROM '{root}' VERSION AS OF 1 v1 "
            f"JOIN '{root}' VERSION AS OF 0 v0 ON v1.k = v0.k",
            results_format="list",
        )
        assert rows[0].n == 2
        # a quoted path that is NOT a versioned root: statement untouched,
        # spark.sql surfaces its own error
        from pyspark.errors.exceptions.captured import (
            AnalysisException,
            ParseException,
        )

        with pytest.raises((AnalysisException, ParseException)):
            a.run_raw_sql(
                spark,
                "SELECT * FROM '/nonexistent/path' VERSION AS OF 0",
                results_format="list",
            )

    def test_name_addressable_versioned_tables(self, spark, tmp_path):
        """tt_register maps `db.table` to a versioned root; every routed
        Delta SQL shape then accepts the bare identifier — the
        reference's NAME-addressed Delta surface (CTAS USING DELTA into
        schema.table, MERGE on names)."""
        root = str(tmp_path / "named")
        a.tt_create(
            spark,
            spark.createDataFrame(
                [(1, 10), (2, 20), (3, 30)], "k long, v long"
            ),
            root,
        )
        a.tt_register(spark, "sales.orders_v", root)
        try:
            # head read by name
            rows = a.run_raw_sql(
                spark,
                "SELECT k, v FROM sales.orders_v ORDER BY k",
                results_format="list",
            )
            assert [(r.k, r.v) for r in rows] == [(1, 10), (2, 20), (3, 30)]
            # DML by name commits a version
            a.run_raw_sql(
                spark, "UPDATE sales.orders_v SET v = v + 1 WHERE k = 1"
            )
            a.run_raw_sql(spark, "DELETE FROM sales.orders_v WHERE k = 3")
            # MERGE INTO by name
            spark.createDataFrame(
                [(2, 200), (4, 40)], "k long, v long"
            ).createOrReplaceTempView("named_src")
            a.run_raw_sql(
                spark,
                "MERGE INTO sales.orders_v t USING named_src s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v "
                "WHEN NOT MATCHED THEN INSERT (t.k, t.v) VALUES (s.k, s.v)",
            )
            got = {
                (r.k, r.v) for r in a.tt_read(spark, root).collect()
            }
            assert got == {(1, 11), (2, 200), (4, 40)}
            # time-travel read + maintenance + history by name
            rows = a.run_raw_sql(
                spark,
                "SELECT COUNT(*) AS n FROM sales.orders_v VERSION AS OF 0",
                results_format="list",
            )
            assert rows[0].n == 3
            hist = a.run_raw_sql(
                spark,
                "DESCRIBE HISTORY sales.orders_v",
                results_format="list",
            )
            assert len(hist) == 4
            a.run_raw_sql(spark, "OPTIMIZE sales.orders_v")
            a.run_raw_sql(spark, "INSERT INTO sales.orders_v VALUES (9, 90)")
            assert a.tt_read(spark, root).count() == 4
            # string literals containing the name are never substituted
            rows = a.run_raw_sql(
                spark,
                "SELECT 'sales.orders_v' AS s",
                results_format="list",
            )
            assert rows[0].s == "sales.orders_v"
            # substitution is TABLE-POSITION aware: a column or alias
            # that equals a registered ONE-part name is never clobbered
            a.tt_register(spark, "orders_col", root)
            spark.createDataFrame(
                [(7,)], "orders_col long"
            ).createOrReplaceTempView("named_counts")
            rows = a.run_raw_sql(
                spark,
                "SELECT orders_col FROM named_counts",
                results_format="list",
            )
            assert rows[0].orders_col == 7  # column, not the path
            rows = a.run_raw_sql(
                spark,
                "SELECT n.orders_col FROM named_counts n",
                results_format="list",
            )
            assert rows[0].orders_col == 7
            a.tt_unregister(spark, "orders_col")
            spark.catalog.dropTempView("named_counts")
            # escaped quotes inside literals don't derail the scanner
            rows = a.run_raw_sql(
                spark,
                "SELECT 'it\\'s fine' AS lit, COUNT(*) AS n "
                "FROM sales.orders_v",
                results_format="list",
            )
            assert rows[0].lit == "it's fine" and rows[0].n == 4
            assert a.tt_resolve_name(spark, "SALES.ORDERS_V") == root
            # the PYTHON tt_* surface accepts the name too
            assert a.tt_read(spark, "sales.orders_v").count() == 4
            assert a.tt_history(spark, "SALES.orders_v").count() == 6
            a.tt_append(
                spark,
                spark.createDataFrame([(10, 100)], "k long, v long"),
                "sales.orders_v",
            )
            assert a.tt_read(spark, root).count() == 5
            # unregistered bare names fail loudly, never treated as paths
            with pytest.raises(a.exceptions.AstroSparkError):
                a.tt_read(spark, "nope.missing")
        finally:
            a.tt_unregister(spark, "sales.orders_v")
            spark.catalog.dropTempView("named_src")
        # after unregister the name falls through to the catalog
        with pytest.raises(Exception):
            a.run_raw_sql(
                spark,
                "DESCRIBE HISTORY sales.orders_v",
                results_format="list",
            )
        assert a.tt_registered(spark) == {}
        with pytest.raises(a.exceptions.AstroSparkError):
            a.tt_register(spark, "bad name; drop", root)
        # roots are interpolated into SQL as quoted literals: quotes and
        # newlines are rejected at registration (no literal break-out)
        with pytest.raises(a.exceptions.AstroSparkError, match="quotes"):
            a.tt_register(spark, "db.t", "/tmp/x' UNION SELECT 1 --")

    def test_table_properties(self, spark, tmp_path):
        """TBLPROPERTIES on versioned tables: SET merges via a
        metadata-only commit, UNSET drops (missing keys ignored),
        SHOW lists, properties CARRY across data commits (appends, DML,
        stream commits via the Arrow path) and RESTORE restores the
        version's map."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from astro_spark.sources.tt_datasource import _commit_files_arrow

        root = str(tmp_path / "props")
        a.tt_create(
            spark, spark.createDataFrame([(1, 10)], "k long, v long"), root
        )
        a.run_raw_sql(
            spark,
            f"ALTER TABLE '{root}' SET TBLPROPERTIES "
            "('owner'='ml-team', 'retention'='30d')",
        )
        assert a.tt_properties(spark, root) == {
            "owner": "ml-team",
            "retention": "30d",
        }
        # carries across a data commit and across the ARROW commit path
        a.tt_append(
            spark, spark.createDataFrame([(2, 20)], "k long, v long"), root
        )
        os.makedirs(f"{root}/files/pbatch")
        pq.write_table(
            pa.table({"k": pa.array([3], pa.int64()),
                      "v": pa.array([30], pa.int64())}),
            f"{root}/files/pbatch/part-0.parquet",
        )
        _commit_files_arrow(root, ["files/pbatch/part-0.parquet"], "append")
        assert a.tt_properties(spark, root) == {
            "owner": "ml-team",
            "retention": "30d",
        }
        rows = a.run_raw_sql(
            spark, f"SHOW TBLPROPERTIES '{root}'", results_format="list"
        )
        assert [(r.key, r.value) for r in rows] == [
            ("owner", "ml-team"),
            ("retention", "30d"),
        ]
        a.run_raw_sql(
            spark,
            f"ALTER TABLE '{root}' UNSET TBLPROPERTIES ('retention', 'nope')",
        )
        assert a.tt_properties(spark, root) == {"owner": "ml-team"}
        assert '"owner"' in a.tt_detail(spark, root).first().properties
        # RESTORE brings the old map back
        a.tt_restore(spark, root, 3)
        assert a.tt_properties(spark, root) == {
            "owner": "ml-team",
            "retention": "30d",
        }
        with pytest.raises(ValueError):
            a.tt_set_properties(spark, root, {})

    def test_stream_starting_timestamp(self, spark, tmp_path):
        """readStream option startingTimestamp: commits AT or AFTER the
        clock stream (Delta's contract); a future timestamp means only
        future commits; combining with startingVersion errors."""
        import time as _t

        from astro_spark.sources.tt_datasource import _TTStreamReader

        root = str(tmp_path / "sts")
        a.tt_create(spark, spark.createDataFrame([(1,)], "k long"), root)
        _t.sleep(0.02)
        ts_mid = _t.time()
        _t.sleep(0.02)
        a.tt_append(spark, spark.createDataFrame([(2,)], "k long"), root)
        a.tt_append(spark, spark.createDataFrame([(3,)], "k long"), root)
        rd = _TTStreamReader(root, None, {"startingtimestamp": str(ts_mid)})
        parts = rd.partitions(rd.initialOffset(), rd.latestOffset())
        assert sorted({p.commit_version for p in parts}) == [1, 2]
        future = _TTStreamReader(
            root, None, {"startingtimestamp": str(_t.time() + 100)}
        )
        assert future.initialOffset() == {"version": 2}
        with pytest.raises(ValueError, match="at most one"):
            _TTStreamReader(
                root,
                None,
                {"startingtimestamp": "0", "startingversion": "0"},
            )
        # r13 (ADVICE r12 #4): Delta's timestamp-STRING form parses
        import datetime as _dt

        iso = _dt.datetime.fromtimestamp(ts_mid).isoformat(sep=" ")
        rd_iso = _TTStreamReader(root, None, {"startingtimestamp": iso})
        parts_iso = rd_iso.partitions(
            rd_iso.initialOffset(), rd_iso.latestOffset()
        )
        assert sorted({p.commit_version for p in parts_iso}) == [1, 2]

    def test_stream_starting_timestamp_vacuumed_boundary(
        self, spark, tmp_path
    ):
        """ADVICE r12 #4 second half: when the version PRECEDING the
        first qualifying commit was vacuumed, a brand-new stream must
        replay the oldest SURVIVING snapshot (lo == -1 semantics)
        instead of raising the vacuumed-offset error — that error
        protects existing checkpoints, not fresh starts."""
        from astro_spark.sources.tt_datasource import _TTStreamReader

        root = str(tmp_path / "stsv")
        a.tt_create(spark, spark.createDataFrame([(1,)], "k long"), root)
        a.tt_append(spark, spark.createDataFrame([(2,)], "k long"), root)
        a.tt_append(spark, spark.createDataFrame([(3,)], "k long"), root)
        spark.conf.set("spark.astro.tt.vacuumCkptGraceSec", "0")
        try:
            a.tt_vacuum(spark, root, keep_last=2)  # drops v0
        finally:
            spark.conf.unset("spark.astro.tt.vacuumCkptGraceSec")
        rd = _TTStreamReader(root, None, {"startingtimestamp": "0"})
        assert rd.initialOffset() == {"version": -1}
        parts = rd.partitions(rd.initialOffset(), rd.latestOffset())
        # full replay of v1 (oldest surviving: rows 1,2) + v2's delta
        assert sorted({p.commit_version for p in parts}) == [1, 2]

    def test_describe_detail(self, spark, tmp_path):
        """DESCRIBE DETAIL '<root>'|name: one-row snapshot description —
        format/location/version/file count/bytes/constraints/stats
        columns (Delta's introspection shape)."""
        root = str(tmp_path / "det")
        a.tt_create(
            spark,
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
            root,
            stats_cols=["k"],
        )
        a.tt_add_constraint(spark, root, "k_pos", "k > 0")
        r = a.run_raw_sql(
            spark, f"DESCRIBE DETAIL '{root}'", results_format="list"
        )[0]
        assert r.format == "versioned_parquet" and r.location == root
        assert r.version == 1 and r.num_files >= 1 and r.size_bytes > 0
        assert r.stats_cols == ["k"] and "k_pos" in r.constraints
        # tracks the head: a delete rewrites files and bumps the version
        a.tt_delete_where(spark, root, "k = 1")
        r2 = a.tt_detail(spark, root).first()
        assert r2.version == 2 and r2.last_commit_ts > r.last_commit_ts

    def test_convert_restore_ts_and_dry_run(self, spark, tmp_path):
        """CONVERT TO DELTA adopts a plain parquet dir in place (zero
        rewrite — v0 references the existing files), RESTORE TABLE ...
        TO TIMESTAMP AS OF picks the latest version at-or-before the
        clock, and VACUUM ... DRY RUN counts reclaimable files without
        touching anything."""
        import time as _t

        d = str(tmp_path / "plain")
        spark.createDataFrame(
            [(i, i * 2) for i in range(10)], "k long, v long"
        ).coalesce(2).write.parquet(d)
        import os

        before = {f for f in os.listdir(d) if f.endswith(".parquet")}
        a.run_raw_sql(spark, f"CONVERT TO DELTA '{d}'")
        after = {f for f in os.listdir(d) if f.endswith(".parquet")}
        assert before == after  # adopted IN PLACE, zero bytes rewritten
        assert a.tt_read(spark, d).count() == 10
        # converting twice is an error; a Hive layout ADOPTS (r13 —
        # partition columns detected from paths, pruning stats free)
        with pytest.raises(a.exceptions.AstroSparkError, match="already"):
            a.tt_convert(spark, d)
        h = str(tmp_path / "hive")
        spark.createDataFrame([(1, 2)], "k long, p long").write.partitionBy(
            "p"
        ).parquet(h)
        a.tt_convert(spark, h)
        hdf = a.tt_read(spark, h)
        assert sorted(hdf.columns) == ["k", "p"]
        assert hdf.collect()[0].p == 2  # path value materialized
        # normal commits on the adopted table
        a.tt_delete_where(spark, d, "k < 3")
        ts = _t.time()
        a.tt_append(spark, spark.createDataFrame([(99, 0)], "k long, v long"), d)
        a.run_raw_sql(spark, f"RESTORE TABLE '{d}' TO TIMESTAMP AS OF {ts}")
        assert a.tt_read(spark, d).count() == 7
        # DRY RUN: counts what a real vacuum reclaims, changes nothing
        n_before = a.tt_history(spark, d).count()
        dry = a.run_raw_sql(
            spark, f"VACUUM '{d}' RETAIN 1 VERSIONS DRY RUN",
            results_format="list",
        )[0].deleted_files
        assert a.tt_history(spark, d).count() == n_before
        assert a.tt_read(spark, d, 0).count() == 10  # nothing deleted
        real = a.run_raw_sql(
            spark, f"VACUUM '{d}' RETAIN 1 VERSIONS", results_format="list"
        )[0].deleted_files
        assert real == dry and a.tt_read(spark, d).count() == 7

    def test_ctas_using_delta_sql(self, spark, tmp_path):
        """CREATE [OR REPLACE] TABLE <name|'root'> USING DELTA
        [LOCATION] AS <select> — the reference's primary Delta shape as
        statement text: creates the versioned table, registers the
        name; plain CREATE on an existing table errors; OR REPLACE
        overwrites in place with history intact; non-DELTA CREATE falls
        through to spark.sql untouched."""
        spark.createDataFrame(
            [(1, 10), (2, 20)], "k long, v long"
        ).createOrReplaceTempView("ctas_src")
        loc = str(tmp_path / "ctas")
        try:
            a.run_raw_sql(
                spark,
                f"CREATE TABLE lakehouse.kv USING DELTA LOCATION '{loc}' "
                "AS SELECT k, v FROM ctas_src",
            )
            assert a.tt_resolve_name(spark, "lakehouse.kv") == loc
            rows = a.run_raw_sql(
                spark,
                "SELECT SUM(v) AS s FROM lakehouse.kv",
                results_format="list",
            )
            assert rows[0].s == 30
            with pytest.raises(a.exceptions.AstroSparkError, match="exists"):
                a.run_raw_sql(
                    spark,
                    f"CREATE TABLE lakehouse.kv USING DELTA LOCATION "
                    f"'{loc}' AS SELECT 1 AS k, 2 AS v",
                )
            a.run_raw_sql(
                spark,
                "CREATE OR REPLACE TABLE lakehouse.kv USING DELTA "
                f"LOCATION '{loc}' AS "
                "SELECT k, v * 10 AS v FROM lakehouse.kv VERSION AS OF 0",
            )
            assert a.tt_read(spark, loc).agg({"v": "sum"}).first()[0] == 300
            assert a.tt_read(spark, loc, 0).count() == 2  # history intact
            # name-only CREATE derives a deterministic warehouse root
            a.run_raw_sql(
                spark,
                "CREATE OR REPLACE TABLE lakehouse.derived USING DELTA "
                "AS SELECT k FROM ctas_src",
            )
            droot = a.tt_resolve_name(spark, "lakehouse.derived")
            assert droot and "_versioned/lakehouse/derived" in droot
            assert a.tt_read(spark, droot).count() == 2
            # a non-DELTA CREATE is NOT intercepted
            a.run_raw_sql(
                spark,
                "CREATE TABLE plain_ctas USING parquet AS "
                "SELECT k FROM ctas_src",
            )
            assert spark.table("plain_ctas").count() == 2
        finally:
            a.tt_unregister(spark, "lakehouse.kv")
            a.tt_unregister(spark, "lakehouse.derived")
            spark.sql("DROP TABLE IF EXISTS plain_ctas")
            spark.catalog.dropTempView("ctas_src")

    def test_timetravel_sql_drops_temp_views(self, spark, tmp_path):
        """The __tt_read_* views the AS-OF rewrite registers are dropped
        once analysis inlined them — long-lived sessions issuing
        time-travel SQL must not accumulate views — and the returned
        DataFrame still collects AFTER the drop."""
        root = str(tmp_path / "ttviews")
        a.tt_create(
            spark, spark.createDataFrame([(1, 10)], "k long, v long"), root
        )
        a.tt_append(
            spark, spark.createDataFrame([(2, 20)], "k long, v long"), root
        )

        def tt_views():
            return [
                t.name
                for t in spark.catalog.listTables()
                if t.name.startswith("__tt_read_")
            ]

        df = a.run_raw_sql(
            spark,
            f"SELECT v1.k FROM '{root}' VERSION AS OF 1 v1 "
            f"JOIN '{root}' VERSION AS OF 0 v0 ON v1.k = v0.k",
            results_format="dataframe",
        )
        assert tt_views() == []
        assert [r.k for r in df.collect()] == [1]  # plan survived the drop
        # failure path drops them too
        with pytest.raises(Exception):
            a.run_raw_sql(
                spark,
                f"SELECT no_such_col FROM '{root}' VERSION AS OF 0",
                results_format="list",
            )
        assert tt_views() == []
        # INSERT ... SELECT ... AS OF route cleans up as well
        a.run_raw_sql(
            spark,
            f"INSERT INTO '{root}' SELECT k + 100, v "
            f"FROM '{root}' VERSION AS OF 0",
        )
        assert tt_views() == []
        assert a.tt_read(spark, root).count() == 3

    def test_batch_load_and_ctas_to_versioned_root(self, spark, tmp_path, sf_dir):
        """Batch load_file/run_transform accept a VersionedTable target
        (the reference's CTAS USING DELTA shape): create -> version 0,
        if_exists='append' -> tt_append, 'replace' -> tt_overwrite (a
        NEW version; old ones stay readable)."""
        root = str(tmp_path / "ttctas")
        vt = a.VersionedTable(root, stats_cols=["n_nationkey"])
        out = a.load_file(spark, f"{sf_dir}/nation.parquet", output_table=vt)
        assert out is vt
        assert a.tt_read(spark, root).count() == 25
        a.load_file(
            spark, f"{sf_dir}/nation.parquet", output_table=vt,
            if_exists="append",
        )
        assert a.tt_read(spark, root).count() == 50
        a.load_file(
            spark, f"{sf_dir}/region.parquet", output_table=vt,
            if_exists="replace",
        )
        assert a.tt_read(spark, root).count() == 5
        # history intact: v0 create, v1 append, v2 overwrite
        hist = {r.version: r.op for r in a.tt_history(spark, root).collect()}
        assert hist == {0: "create", 1: "append", 2: "overwrite"}
        assert a.tt_read(spark, root, 0).count() == 25
        # CTAS via run_transform into a fresh versioned root
        root2 = str(tmp_path / "ttctas2")
        spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
            "ttctas_nation"
        )
        a.run_transform(
            spark,
            "SELECT n_nationkey, n_regionkey FROM ttctas_nation "
            "WHERE n_regionkey < 2",
            output_table=a.VersionedTable(root2),
        )
        assert a.tt_read(spark, root2).count() == 10
        # second CTAS replaces as a new version, v0 still readable
        a.run_transform(
            spark,
            "SELECT n_nationkey FROM ttctas_nation WHERE n_regionkey = 0",
            output_table=a.VersionedTable(root2),
        )
        assert a.tt_read(spark, root2).count() == 5
        assert a.tt_read(spark, root2, 0).count() == 10
        with pytest.raises(ValueError, match="invalid if_exists"):
            a.load_file(
                spark, f"{sf_dir}/nation.parquet", output_table=vt,
                if_exists="exception",
            )

    def test_checkpointed_manifest_lifecycle(self, spark, tmp_path):
        """Checkpointed log (VERDICT r10 what's-wrong #1): above
        spark.astro.tt.inlineFilesMax the snapshot lives in a parquet
        checkpoint with inline add/remove deltas; appends cost O(new
        files) JSON, history reads headers only, and every op — read,
        skip_by, merge, delete, restore, constraint, vacuum — behaves
        identically to the inline form."""
        import json as _json
        import os

        root = str(tmp_path / "ttckpt")
        spark.conf.set("spark.astro.tt.inlineFilesMax", "4")
        try:
            df = spark.createDataFrame(
                [(i, i * 10) for i in range(16)], "k long, v long"
            ).repartitionByRange(8, "k")
            a.tt_create(spark, df, root, stats_cols=["k"])
            # 8 files > 4 -> v0 must be checkpoint-form
            m0 = _json.load(open(f"{root}/_log/v00000000.json"))
            assert "base" in m0 and m0["n_files"] == 8
            assert m0["add"] == [] and m0["remove"] == []
            assert m0["stats_cols"] == ["k"]
            # appends extend the inline tail, sharing the base ref
            a.tt_append(
                spark, spark.createDataFrame([(100, 1)], "k long, v long"), root
            )
            m1 = _json.load(open(f"{root}/_log/v00000001.json"))
            assert m1["base"] == m0["base"] and len(m1["add"]) >= 1
            assert m1["n_files"] == 8 + len(m1["add"])
            assert a.tt_read(spark, root).count() == 17
            assert a.tt_read(spark, root, 0).count() == 16
            # skip_by prunes from checkpointed stats: k=100 file has
            # add_stats, base files have checkpoint stats
            pruned = a.tt_read(spark, root, skip_by={"k": (100, 200)})
            assert len(pruned.inputFiles()) < 9
            assert {r.k for r in pruned.collect()} >= {100}
            # merge + delete keep working over the checkpoint form
            a.tt_merge(
                spark,
                spark.createDataFrame([(0, 999), (200, 2)], "k long, v long"),
                root,
                ["k"],
            )
            assert {
                r.v for r in a.tt_read(spark, root).where("k = 0").collect()
            } == {999}
            a.tt_delete_where(spark, root, "k >= 100")
            assert a.tt_read(spark, root).count() == 16
            # tail compaction: enough churn forces a fresh checkpoint
            for i in range(3):
                a.tt_append(
                    spark,
                    spark.createDataFrame(
                        [(300 + i, i), (400 + i, i)], "k long, v long"
                    ).repartition(2),
                    root,
                )
            versions = sorted(
                int(f[1:-5])
                for f in os.listdir(f"{root}/_log")
                if f.startswith("v")
            )
            head = _json.load(
                open(f"{root}/_log/v{versions[-1]:08d}.json")
            )
            bases = {
                _json.load(open(f"{root}/_log/v{v:08d}.json")).get("base")
                for v in versions
            }
            assert len(bases - {None}) >= 2  # compaction wrote a new base
            # history never touches a file list: n_files from headers
            hist = {r.version: r.n_files for r in a.tt_history(spark, root).collect()}
            assert hist[0] == 8 and len(hist) == len(versions)
            # restore a checkpointed version shares its base by reference
            a.tt_restore(spark, root, 0)
            assert a.tt_read(spark, root).count() == 16
            assert {r.k for r in a.tt_read(spark, root).collect()} == set(range(16))
            # vacuum drops dead data files AND orphaned checkpoints
            n_ckpt_before = len(
                [f for f in os.listdir(f"{root}/_log") if f.startswith("ckpt-")]
            )
            deleted = a.tt_vacuum(spark, root, keep_last=1)
            assert deleted > 0
            n_ckpt_after = len(
                [f for f in os.listdir(f"{root}/_log") if f.startswith("ckpt-")]
            )
            assert n_ckpt_after < n_ckpt_before
            assert {r.k for r in a.tt_read(spark, root).collect()} == set(range(16))
        finally:
            spark.conf.unset("spark.astro.tt.inlineFilesMax")

    def test_update_where_versioned(self, spark, tmp_path):
        """tt_update_where: Delta UPDATE on the versioned log — only the
        files holding matching rows rewrite, old versions stay readable,
        CHECK constraints validate the updated rows, and the
        UPDATE '<root>' SET ... SQL text routes to it."""
        from astro_spark.operators.timetravel import ConstraintViolationError

        root = str(tmp_path / "ttupd")
        df = spark.createDataFrame(
            [(i, i * 10) for i in range(8)], "k long, v long"
        ).repartitionByRange(4, "k")
        a.tt_create(spark, df, root)
        a.tt_add_constraint(spark, root, "v_cap", "v < 10000")
        v = a.tt_update_where(spark, root, {"v": "v + 1"}, "k >= 6")
        assert v == 2
        got = {r.k: r.v for r in a.tt_read(spark, root).collect()}
        assert got[6] == 61 and got[7] == 71 and got[0] == 0
        # untouched version still reads the old values
        assert {r.v for r in a.tt_read(spark, root, 0).where("k = 6").collect()} == {60}
        # no match -> no new version
        assert a.tt_update_where(spark, root, {"v": "0"}, "k = 999") == 2
        # constraint-violating update rejected pre-publish
        with pytest.raises(ConstraintViolationError):
            a.tt_update_where(spark, root, {"v": "v + 100000"}, "k = 0")
        assert a.tt_history(spark, root).count() == 3
        # unknown column rejected
        with pytest.raises(Exception, match="unknown column"):
            a.tt_update_where(spark, root, {"nope": "1"})
        # SQL text route
        rows = a.run_raw_sql(
            spark,
            f"UPDATE '{root}' SET v = v * 2 WHERE k = 1",
            results_format="list",
        )
        assert rows[0].committed_version == 3
        assert {r.v for r in a.tt_read(spark, root).where("k = 1").collect()} == {20}

    def test_update_where_casts_to_column_type(self, spark, tmp_path):
        """A type-widening SET expression (v / 2 on a long column yields
        double) is cast back to the table column's type — Delta's
        store-assignment policy.  Without the cast the new head's files
        carry a physical type contradicting the log-owned schema and
        tt_read fails until tt_restore."""
        root = str(tmp_path / "ttcast")
        a.tt_create(
            spark,
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
            root,
        )
        a.tt_update_where(spark, root, {"v": "v / 2"}, "k = 2")
        head = a.tt_read(spark, root)
        assert dict(head.dtypes)["v"] == "bigint"
        assert {(r.k, r.v) for r in head.collect()} == {(1, 10), (2, 10)}
        # SQL route through the same engine
        a.run_raw_sql(spark, f"UPDATE '{root}' SET v = v / 4 WHERE k = 1")
        got = a.tt_read(spark, root)
        assert dict(got.dtypes)["v"] == "bigint"
        assert {(r.k, r.v) for r in got.collect()} == {(1, 2), (2, 10)}

    def test_vacuum_reclaims_orphaned_checkpoints(self, spark, tmp_path):
        """A checkpoint written by a lost commit race (no manifest ever
        references it) is reclaimed by tt_vacuum — even when no versions
        drop — while the head's live checkpoint survives.  A young
        orphan inside the grace window is spared (it may belong to an
        in-flight commit)."""
        import os

        root = str(tmp_path / "ttorph")
        spark.conf.set("spark.astro.tt.inlineFilesMax", "1")
        try:
            a.tt_create(
                spark,
                spark.createDataFrame(
                    [(i, i) for i in range(4)], "k long, v long"
                ).repartitionByRange(2, "k"),
                root,
            )
            a.tt_append(
                spark, spark.createDataFrame([(9, 9)], "k long, v long"), root
            )  # >1 files -> checkpointed manifest
            log = TableLog(root)
            head_v, head_m = log.head()
            assert "base" in head_m  # the live checkpoint exists
            files, stats = log.resolve(head_m)
            orphan = log.write_checkpoint(
                files, stats
            )  # simulates a commit retry that lost the publish race
            names = lambda: {
                f for f in os.listdir(f"{root}/_log") if f.startswith("ckpt-")
            }
            assert orphan.split("/")[-1] in names()
            # inside the grace window: spared (in-flight commit safety)
            a.tt_vacuum(spark, root, keep_last=10)
            assert orphan.split("/")[-1] in names()
            # grace 0 (test mode): orphan reclaimed, live ckpt survives,
            # and the sweep ran although NO version dropped
            spark.conf.set("spark.astro.tt.vacuumCkptGraceSec", "0")
            assert a.tt_vacuum(spark, root, keep_last=10) == 0
            assert orphan.split("/")[-1] not in names()
            assert head_m["base"].split("/")[-1] in names()
            assert a.tt_read(spark, root).count() == 5
        finally:
            spark.conf.unset("spark.astro.tt.inlineFilesMax")
            spark.conf.unset("spark.astro.tt.vacuumCkptGraceSec")

    def test_delta_maintenance_sql_front_door(self, spark, tmp_path):
        """The complete Delta SQL surface on a versioned root as
        statement TEXT: INSERT INTO/OVERWRITE, ALTER TABLE ADD/DROP
        CONSTRAINT, OPTIMIZE [ZORDER BY], VACUUM [RETAIN n VERSIONS] —
        alongside the existing DESCRIBE HISTORY / RESTORE / SELECT AS
        OF / DELETE / UPDATE / MERGE routes."""
        from astro_spark.operators.timetravel import ConstraintViolationError

        root = str(tmp_path / "ttdoor")
        a.tt_create(
            spark,
            spark.createDataFrame(
                [(i, i * 10) for i in range(6)], "k long, v long"
            ).repartitionByRange(3, "k"),
            root,
        )
        # INSERT INTO appends a version; the source may time-travel
        got = a.run_raw_sql(
            spark,
            f"INSERT INTO '{root}' SELECT k + 100 AS k, v FROM '{root}' "
            "VERSION AS OF 0 WHERE k < 2",
            results_format="list",
        )
        assert got[0].committed_version == 1
        assert a.tt_read(spark, root).count() == 8
        # ALTER TABLE ADD CONSTRAINT validates + enforces
        got = a.run_raw_sql(
            spark,
            f"ALTER TABLE '{root}' ADD CONSTRAINT v_ok CHECK (v >= 0)",
            results_format="list",
        )
        assert got[0].committed_version == 2
        with pytest.raises(ConstraintViolationError):
            a.run_raw_sql(spark, f"INSERT INTO '{root}' VALUES (1, -1)")
        # OPTIMIZE ZORDER BY commits a layout version with same rows
        got = a.run_raw_sql(
            spark,
            f"OPTIMIZE '{root}' ZORDER BY (k, v)",
            results_format="list",
        )
        assert got[0].committed_version == 3
        assert a.tt_read(spark, root).count() == 8
        # INSERT OVERWRITE replaces as a new version
        got = a.run_raw_sql(
            spark,
            f"INSERT OVERWRITE '{root}' SELECT CAST(9 AS LONG) AS k, "
            "CAST(90 AS LONG) AS v",
            results_format="list",
        )
        assert got[0].committed_version == 4
        assert a.tt_read(spark, root).count() == 1
        assert a.tt_read(spark, root, 3).count() == 8  # still readable
        # DROP CONSTRAINT; negative insert now allowed
        a.run_raw_sql(spark, f"ALTER TABLE '{root}' DROP CONSTRAINT v_ok")
        a.run_raw_sql(spark, f"INSERT INTO '{root}' VALUES (1, -1)")
        # VACUUM RETAIN 2 VERSIONS reclaims older data files
        got = a.run_raw_sql(
            spark, f"VACUUM '{root}' RETAIN 2 VERSIONS", results_format="list"
        )
        assert got[0].deleted_files > 0
        assert a.tt_read(spark, root).count() == 2
        hist = a.tt_history(spark, root)
        assert hist.count() == 2  # only the retained versions remain

    def test_merge_into_versioned_root_sql(self, spark, tmp_path):
        """MERGE INTO '<root>' ... SQL text routes to tt_merge: matched
        keys update, new keys insert, committed as a new version; the
        pre-merge version stays readable; a MATCHED-silent statement is
        a grammar error (the log MERGE is an upsert)."""
        root = str(tmp_path / "ttmrg")
        a.tt_create(
            spark,
            spark.createDataFrame(
                [(1, 10), (2, 20), (3, 30)], "k long, v long"
            ).repartitionByRange(3, "k"),
            root,
        )
        spark.createDataFrame(
            [(2, 999), (9, 90)], "k long, v long"
        ).createOrReplaceTempView("ttmrg_src")
        a.run_raw_sql(
            spark,
            f"MERGE INTO '{root}' AS t USING ttmrg_src AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v "
            "WHEN NOT MATCHED THEN INSERT (t.k, t.v) VALUES (s.k, s.v)",
        )
        got = {r.k: r.v for r in a.tt_read(spark, root).collect()}
        assert got == {1: 10, 2: 999, 3: 30, 9: 90}
        assert {r.v for r in a.tt_read(spark, root, 0).where("k = 2").collect()} == {20}
        # MATCHED-silent grammar rejected (upsert-only on the log)
        from astro_spark.operators.merge import MergeSqlGrammarError

        with pytest.raises(MergeSqlGrammarError, match="UPDATE clause"):
            a.run_raw_sql(
                spark,
                f"MERGE INTO '{root}' AS t USING ttmrg_src AS s ON t.k = s.k "
                "WHEN NOT MATCHED THEN INSERT (t.k, t.v) VALUES (s.k, s.v)",
            )

    def test_change_feed_from_file_deltas(self, spark, tmp_path):
        """tt_changes: keyless multiset CDF from the log's file deltas —
        appends surface as inserts, deletes as deletes, an update as its
        pre/post image pair, carried (unchanged) rows cancel exactly,
        and a pure OPTIMIZE re-layout yields ZERO change rows; the
        drain consumes incrementally with a persisted version offset."""
        root = str(tmp_path / "ttcdf")
        a.tt_create(
            spark,
            spark.createDataFrame(
                [(1, 10), (2, 20), (3, 30)], "k long, v long"
            ).repartitionByRange(2, "k"),
            root,
        )
        a.tt_append(
            spark, spark.createDataFrame([(4, 40)], "k long, v long"), root
        )
        a.tt_update_where(spark, root, {"v": "v + 1"}, "k = 1")
        a.tt_delete_where(spark, root, "k = 2")
        a.tt_optimize(spark, root, target_files=1)
        rows = {
            (r.k, r.v, r._change_type, r._commit_version)
            for r in a.tt_changes(spark, root, 0).collect()
        }
        assert rows == {
            (4, 40, "insert", 1),
            (1, 11, "insert", 2), (1, 10, "delete", 2),
            (2, 20, "delete", 3),
            # version 4 (optimize): rows identical -> no change rows
        }
        # bounded range
        only_v2 = {
            (r.k, r._change_type)
            for r in a.tt_changes(spark, root, 1, 2).collect()
        }
        assert only_v2 == {(1, "insert"), (1, "delete")}
        # drain: first call consumes everything after version 0,
        # second call is a no-op, a new commit resumes from the offset
        state = str(tmp_path / "cdf_state.json")
        seen: list[tuple[int, int]] = []

        def fn(df, head):
            seen.append((df.count(), head))

        assert a.tt_changes_drain(spark, root, state, fn) == [1, 2, 3, 4]
        assert a.tt_changes_drain(spark, root, state, fn) == []
        a.tt_append(
            spark, spark.createDataFrame([(9, 90)], "k long, v long"), root
        )
        assert a.tt_changes_drain(spark, root, state, fn) == [5]
        assert seen == [(4, 4), (1, 5)]

    def test_tt_read_where_auto_skipping(self, spark, tmp_path):
        """tt_read(where=): the predicate applies exactly AND its
        sargable top-level conjuncts derive manifest skip bounds —
        Delta's automatic stats-based data skipping.  Strict bounds
        widen (soundness), unparseable conjuncts contribute nothing,
        and a top-level OR disables pruning but never filtering."""
        from astro_spark.operators.timetravel import (
            _skip_bounds_from_predicate as bounds,
        )

        assert bounds("k >= 5 AND k < 12") == {"k": (5, 12)}
        assert bounds("k BETWEEN 3 AND 7 AND v = 10") == {
            "k": (3, 7), "v": (10, 10),
        }
        assert bounds("s = 'x' AND length(s) > 0") == {"s": ("x", "x")}
        assert bounds("k = 1 OR k = 9") == {}
        assert bounds("v = 'where and or'") == {"v": ("where and or", "where and or")}
        # IN lists (round 13): [min, max] of the list, Delta-style
        assert bounds("k IN (3, 9, 5)") == {"k": (3, 9)}
        assert bounds("s IN ('a', 'c') AND k > 1") == {
            "s": ("a", "c"), "k": (1, None),
        }
        assert bounds("k IN (1, 'x')") == {}  # mixed types: nothing

        root = str(tmp_path / "ttwhere")
        a.tt_create(
            spark,
            spark.createDataFrame(
                [(i, i * 10) for i in range(16)], "k long, v long"
            ).repartitionByRange(8, "k"),
            root,
            stats_cols=["k"],
        )
        full_files = len(a.tt_read(spark, root).inputFiles())
        pruned = a.tt_read(spark, root, where="k BETWEEN 6 AND 7 AND v >= 0")
        assert {r.k for r in pruned.collect()} == {6, 7}
        assert len(pruned.inputFiles()) < full_files
        # OR: exact rows, no pruning
        either = a.tt_read(spark, root, where="k = 1 OR k = 15")
        assert {r.k for r in either.collect()} == {1, 15}
        assert len(either.inputFiles()) == full_files
        # explicit skip_by intersects with derived bounds: the caller's
        # (0, 9) pruning promise plus the derived k >= 6 leaves 6..9
        both = a.tt_read(
            spark, root, skip_by={"k": (0, 9)}, where="k >= 6"
        )
        assert {r.k for r in both.collect()} == {6, 7, 8, 9}
        assert len(both.inputFiles()) < full_files

    def test_concurrent_append_race_checkpointed_form(self, spark, tmp_path):
        """The append retry re-BUILDS its manifest body against the
        fresh head — under the checkpointed form that means re-deriving
        the delta tail (and compacting if needed) against the rival's
        state, not just bumping a number.  The rival's rows and ours
        must both survive."""
        spark.conf.set("spark.astro.tt.inlineFilesMax", "1")
        try:
            root = str(tmp_path / "ttrace")
            a.tt_create(
                spark,
                spark.createDataFrame(
                    [(1, 10), (2, 20)], "k long, v long"
                ).repartitionByRange(2, "k"),
                root,
            )
            # rival commits version 1 behind our back: a REAL append
            # (its own data files + checkpoint-form manifest)
            a.tt_append(
                spark, spark.createDataFrame([(3, 30)], "k long, v long"), root
            )
            log = TableLog(root)
            head, m1 = log.head()
            assert head == 1 and "base" in m1  # checkpoint form active
            # now simulate OUR append losing the race for version 2:
            # pre-publish a rival v2, then append — the retry loop must
            # land on v3 with a body built against v2's state
            rival_files, _ = log.resolve(m1)
            log.publish_manifest(
                2,
                {**_copy_body(m1), "op": "rival", "ts": 0.0,
                 "schema": m1.get("schema")},
            )
            v = a.tt_append(
                spark, spark.createDataFrame([(4, 40)], "k long, v long"), root
            )
            assert v == 3
            got = {r.k for r in a.tt_read(spark, root).collect()}
            assert got == {1, 2, 3, 4}
            hist = {r.version: r.op for r in a.tt_history(spark, root).collect()}
            assert hist[2] == "rival" and hist[3] == "append"
        finally:
            spark.conf.unset("spark.astro.tt.inlineFilesMax")

    def test_change_feed_across_schema_evolution(self, spark, tmp_path):
        """tt_changes across a merge_schema append: both sides of every
        per-version multiset compare read through the NEWER schema, so
        pre-evolution change rows surface with NULL in the new column
        instead of erroring."""
        root = str(tmp_path / "ttcdfevo")
        a.tt_create(
            spark, spark.createDataFrame([(1, 10)], "k long, v long"), root
        )
        a.tt_append(
            spark,
            spark.createDataFrame([(2, 20, "x")], "k long, v long, s string"),
            root,
            merge_schema=True,
        )
        a.tt_delete_where(spark, root, "k = 1")
        rows = {
            (r.k, r.v, r.s, r._change_type, r._commit_version)
            for r in a.tt_changes(spark, root, 0).collect()
        }
        assert rows == {
            (2, 20, "x", "insert", 1),
            (1, 10, None, "delete", 2),
        }

    def test_shallow_clone_cow_divergence(self, spark, tmp_path):
        """tt_clone: zero-copy clone referencing the source's files;
        writes to the clone copy-on-write locally and NEVER touch the
        source; vacuum on the clone never deletes external refs; time
        travel, constraints and skipping stats all carry."""
        import os

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        a.tt_create(
            spark,
            spark.createDataFrame(
                [(i, i * 10) for i in range(8)], "k long, v long"
            ).repartitionByRange(4, "k"),
            src,
            stats_cols=["k"],
        )
        a.tt_add_constraint(spark, src, "v_pos", "v >= 0")
        assert a.tt_clone(spark, src, dst) == 0
        # zero data copied: the clone has no data files of its own yet
        assert not os.path.isdir(f"{dst}/files")
        assert {r.k for r in a.tt_read(spark, dst).collect()} == set(range(8))
        # skipping stats carried (absolute-keyed)
        pruned = a.tt_read(spark, dst, where="k BETWEEN 6 AND 7")
        assert len(pruned.inputFiles()) < 4
        # constraint carried
        from astro_spark.operators.timetravel import ConstraintViolationError

        with pytest.raises(ConstraintViolationError):
            a.tt_append(
                spark, spark.createDataFrame([(9, -1)], "k long, v long"), dst
            )
        # COW divergence: clone-side DML rewrites locally, source intact
        a.tt_delete_where(spark, dst, "k < 2")
        a.tt_merge(
            spark, spark.createDataFrame([(7, 777)], "k long, v long"),
            dst, ["k"],
        )
        assert {r.k for r in a.tt_read(spark, dst).collect()} == set(range(2, 8))
        assert {
            r.v for r in a.tt_read(spark, dst).where("k = 7").collect()
        } == {777}
        assert {r.k for r in a.tt_read(spark, src).collect()} == set(range(8))
        assert {
            r.v for r in a.tt_read(spark, src).where("k = 7").collect()
        } == {70}
        # clone's own history time-travels
        assert a.tt_read(spark, dst, 0).count() == 8
        # vacuum on the clone deletes only LOCAL dead files
        src_files_before = set()
        for dirpath, _dirs, names in os.walk(f"{src}/files"):
            src_files_before |= {f"{dirpath}/{n}" for n in names}
        a.tt_vacuum(spark, dst, keep_last=1)
        src_files_after = set()
        for dirpath, _dirs, names in os.walk(f"{src}/files"):
            src_files_after |= {f"{dirpath}/{n}" for n in names}
        assert src_files_before == src_files_after
        assert {r.k for r in a.tt_read(spark, dst).collect()} == set(range(2, 8))
        # the format path reads clones too (absolute entries)
        from astro_spark.sources.tt_datasource import register

        register(spark)
        got = (
            spark.read.format("versioned_parquet").option("path", dst).load()
        )
        assert {r.k for r in got.collect()} == set(range(2, 8))

    def test_shallow_clone_sql(self, spark, tmp_path):
        src = str(tmp_path / "clsrc")
        dst = str(tmp_path / "cldst")
        a.tt_create(
            spark, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
            src,
        )
        a.tt_append(
            spark, spark.createDataFrame([(3, 30)], "k long, v long"), src
        )
        got = a.run_raw_sql(
            spark,
            f"CREATE TABLE '{dst}' SHALLOW CLONE '{src}' VERSION AS OF 0",
            results_format="list",
        )
        assert got[0].committed_version == 0
        assert a.tt_read(spark, dst).count() == 2  # cloned v0, not head

    def test_shallow_clone_checkpointed_source(self, spark, tmp_path):
        """Cloning a checkpoint-form source: the clone's v0 itself goes
        checkpoint-form (absolute entries in the parquet snapshot) and
        resolves through both the native reader and the data source."""
        spark.conf.set("spark.astro.tt.inlineFilesMax", "3")
        try:
            src = str(tmp_path / "cksrc")
            dst = str(tmp_path / "ckdst")
            a.tt_create(
                spark,
                spark.createDataFrame(
                    [(i, i) for i in range(12)], "k long, v long"
                ).repartitionByRange(6, "k"),
                src,
                stats_cols=["k"],
            )
            import json as _json

            m0 = _json.load(open(f"{src}/_log/v00000000.json"))
            assert "base" in m0  # source is checkpoint-form
            a.tt_clone(spark, src, dst)
            md = _json.load(open(f"{dst}/_log/v00000000.json"))
            assert "base" in md  # and so is the clone
            assert {r.k for r in a.tt_read(spark, dst).collect()} == set(range(12))
            # skipping still prunes through the absolute-keyed stats
            pruned = a.tt_read(spark, dst, where="k BETWEEN 10 AND 11")
            assert len(pruned.inputFiles()) < 6
            a.tt_delete_where(spark, dst, "k = 0")
            assert a.tt_read(spark, dst).count() == 11
            assert a.tt_read(spark, src).count() == 12
        finally:
            spark.conf.unset("spark.astro.tt.inlineFilesMax")

    def test_where_read_equivalence_battery(self, spark, tmp_path):
        """Soundness battery for tt_read(where=): for every predicate
        shape — sargable, partially sargable, OR'd, negated,
        cross-typed, unparseable — the result must equal the plain
        filter row-for-row (skipping may prune files, never rows)."""
        root = str(tmp_path / "ttwb")
        a.tt_create(
            spark,
            spark.createDataFrame(
                [(i, i * 10, chr(97 + i % 5)) for i in range(16)],
                "k long, v long, s string",
            ).repartitionByRange(8, "k"),
            root,
            stats_cols=["k", "s"],
        )
        plain = a.tt_read(spark, root)
        for pred in [
            "k >= 5",
            "k > 5",
            "k <= 5",
            "k < 5",
            "k = 5",
            "k BETWEEN 2 AND 5",
            "k >= 2 AND k <= 5 AND v >= 0",
            "k = 2 OR v = 30",
            "v % 2 = 0",
            "NOT (k < 5)",
            "k >= '3'",          # cross-type: SQL casts, skipping must not crash
            "s = 'c'",
            "s BETWEEN 'b' AND 'd' AND k < 100",
            "k IN (1, 5, 9)",    # unparseable by the bounds grammar: exact anyway
            "upper(s) = 'A'",
        ]:
            want = sorted(
                (r.k, r.v, r.s) for r in plain.where(pred).collect()
            )
            got = sorted(
                (r.k, r.v, r.s)
                for r in a.tt_read(spark, root, where=pred).collect()
            )
            assert got == want, pred

    def test_versioned_target_rejects_layout_args(self, spark, sf_dir, tmp_path):
        # partition_by maps to the log's PARTITIONED BY since round 13
        # (see test_load_file_partition_by_versioned_target); the other
        # layout levers still have no versioned-log meaning and reject
        with pytest.raises(ValueError, match="do not apply"):
            a.load_file(
                spark,
                f"{sf_dir}/nation.parquet",
                output_table=a.VersionedTable(str(tmp_path / "vt")),
                bucket_by=(4, ["n_regionkey"]),
            )

    def test_clone_of_clone_chains(self, spark, tmp_path):
        """Clone-of-clone: absolute entries carry verbatim, every layer
        diverges independently, sources never change."""
        r1, r2, r3 = (str(tmp_path / n) for n in ("a", "b", "c"))
        a.tt_create(
            spark, spark.createDataFrame([(1, 1), (2, 2)], "k long, v long"), r1
        )
        a.tt_clone(spark, r1, r2)
        a.tt_append(spark, spark.createDataFrame([(3, 3)], "k long, v long"), r2)
        a.tt_clone(spark, r2, r3)
        a.tt_delete_where(spark, r3, "k = 1")
        assert a.tt_read(spark, r1).count() == 2
        assert a.tt_read(spark, r2).count() == 3
        assert {r.k for r in a.tt_read(spark, r3).collect()} == {2, 3}

    def test_commit_files_direct(self, spark, tmp_path):
        """tt_commit_files (the Data Source writer's commit half) used
        directly: externally-written parquet under files/ publishes as
        create/append/overwrite with full log semantics."""
        import uuid as _uuid

        from astro_spark.operators.timetravel import tt_commit_files

        root = str(tmp_path / "ttcf")

        def stage(rows):
            rel_dir = f"files/{_uuid.uuid4().hex}"
            spark.createDataFrame(rows, "k long, v long").coalesce(1) \
                .write.parquet(f"{root}/{rel_dir}")
            import os

            return [
                f"{rel_dir}/{n}"
                for n in os.listdir(f"{root}/{rel_dir}")
                if n.endswith(".parquet")
            ]

        assert tt_commit_files(spark, root, stage([(1, 10)]), "append") == 0
        assert tt_commit_files(spark, root, stage([(2, 20)]), "append") == 1
        assert a.tt_read(spark, root).count() == 2
        a.tt_add_constraint(spark, root, "vp", "v > 0")
        from astro_spark.operators.timetravel import ConstraintViolationError

        with pytest.raises(ConstraintViolationError):
            tt_commit_files(spark, root, stage([(3, -3)]), "append")
        assert tt_commit_files(spark, root, stage([(9, 90)]), "overwrite") == 3
        assert a.tt_read(spark, root).count() == 1
        with pytest.raises(ValueError, match="no files"):
            tt_commit_files(spark, root, [], "append")
        with pytest.raises(ValueError, match="invalid mode"):
            tt_commit_files(spark, root, ["x"], "merge")

    def test_maintenance_sql_negative_paths(self, spark, tmp_path):
        """Front-door rejections stay loud: invalid retention,
        injection-shaped identifiers in OPTIMIZE/CONSTRAINT, and a
        nonexistent clone source."""
        from astro_spark.exceptions import IllegalIdentifierError

        root = str(tmp_path / "ttneg")
        a.tt_create(
            spark, spark.createDataFrame([(1, 1)], "k long, v long"), root
        )
        with pytest.raises(ValueError, match="keep_last"):
            a.run_raw_sql(spark, f"VACUUM '{root}' RETAIN 0 VERSIONS")
        with pytest.raises(IllegalIdentifierError):
            a.run_raw_sql(
                spark, f"OPTIMIZE '{root}' ZORDER BY (k; DROP TABLE x)"
            )
        # a constraint name outside the grammar's token shape misses the
        # route entirely -> verbatim spark.sql surfaces its own parse
        # error; either way nothing executes
        from pyspark.errors.exceptions.captured import ParseException

        with pytest.raises((IllegalIdentifierError, ParseException)):
            a.run_raw_sql(
                spark,
                f"ALTER TABLE '{root}' ADD CONSTRAINT `a;b` CHECK (v > 0)",
            )
        with pytest.raises(Exception, match="no versioned table"):
            a.run_raw_sql(
                spark,
                f"CREATE TABLE '{root}_x' SHALLOW CLONE "
                f"'{tmp_path}/does_not_exist'",
            )
        # the table is untouched by every rejected statement
        assert a.tt_history(spark, root).count() == 1
        assert a.tt_read(spark, root).count() == 1


class TestPartitionedVersioned:
    """Partition-aware versioned tables (round 13, VERDICT r12 #1):
    Delta's PARTITIONED BY on the manifest log.  Engine-written commits
    keep partition values physically in the data (Hive-style ``__p_``
    path split, one partition value per file), adopted
    ``CONVERT TO DELTA`` Hive layouts keep them in paths (one
    ``basePath`` scan); pruning rides the ordinary per-file stats as
    degenerate [v, v] bounds (reference ``databases/databricks/
    delta.py`` gets all of this from the Delta log)."""

    def test_create_partitioned_layout_and_prune(self, spark, tmp_path):
        root = str(tmp_path / "pt")
        df = spark.range(30).selectExpr("id AS k", "id % 3 AS r")
        a.tt_create(spark, df, root, partition_by=["r"])
        got = a.tt_read(spark, root)
        assert got.count() == 30 and sorted(got.columns) == ["k", "r"]
        # manifest: partition header + degenerate bounds on every file
        import json as _json
        import os as _os

        m = _json.load(open(root + "/_log/v00000000.json"))
        assert m["partition_cols"] == ["r"]
        assert all("r" in st for st in m["stats"].values())
        assert all(st["r"][0] == st["r"][1] for st in m["stats"].values())
        # layout: every data file sits under a __p_r=<v> dir
        assert all("/__p_r=" in f for f in m["files"])
        # pruning: where r=1 keeps only r=1 files (bounds prove it)
        pruned = a.tt_read(spark, root, where="r = 1")
        assert pruned.count() == 10
        keep = [f for f in m["files"] if m["stats"][f]["r"] == [1, 1]]
        assert 0 < len(keep) < len(m["files"])
        # partition column not required in stats_cols: value physical
        assert (
            a.tt_read(spark, root, skip_by={"r": (2, 2)}).count() == 10
        )

    def test_convert_adopts_hive_layout(self, spark, tmp_path):
        root = str(tmp_path / "conv")
        df = spark.range(20).selectExpr("id AS k", "id % 4 AS r")
        df.write.partitionBy("r").parquet(root)
        a.tt_convert(spark, root)
        got = a.tt_read(spark, root)
        assert got.count() == 20 and sorted(got.columns) == ["k", "r"]
        # typed path values (Spark-style inference → int)
        assert dict(got.dtypes)["r"] in ("int", "bigint")
        import json as _json

        m = _json.load(open(root + "/_log/v00000000.json"))
        assert m["partition_cols"] == ["r"]
        # zero scans: every adopted file has path-derived bounds
        assert all(st["r"][0] == st["r"][1] for st in m["stats"].values())
        # PARTITIONED BY validation: names must match the layout
        other = str(tmp_path / "conv2")
        df.write.partitionBy("r").parquet(other)
        with pytest.raises(a.exceptions.AstroSparkError, match="match"):
            a.tt_convert(spark, other, partition_by=["x"])

    def test_mixed_adopted_and_engine_files(self, spark, tmp_path):
        root = str(tmp_path / "mix")
        # NOTE: partitionBy strips the column into the path; convert
        # re-types it via Spark's partition inference (int)
        spark.range(30).selectExpr(
            "id AS k", "id % 3 AS r"
        ).write.partitionBy("r").parquet(root)
        a.tt_convert(spark, root)
        # DELETE a whole partition: only its files leave the manifest
        a.tt_delete_where(spark, root, "r = 2")
        assert a.tt_read(spark, root).count() == 20
        assert a.tt_read(spark, root, 0).count() == 30  # time travel
        # append engine-layout files next to surviving adopted ones
        a.tt_append(
            spark,
            spark.range(6).selectExpr(
                "id + 100 AS k", "CAST(id % 3 AS INT) AS r"
            ),
            root,
        )
        got = a.tt_read(spark, root)
        assert got.count() == 26
        assert got.groupBy().sum("k").collect()[0][0] == sum(
            k for k in range(30) if k % 3 != 2
        ) + sum(range(100, 106))
        # pruning still exact across BOTH layouts
        assert a.tt_read(spark, root, where="r = 1").count() == 12
        # merge + update cross partition boundaries correctly
        a.tt_merge(
            spark,
            spark.createDataFrame([(0, 0), (999, 1)], "k long, r int"),
            root,
            ["k"],
        )
        assert a.tt_read(spark, root).count() == 27
        a.tt_update_where(
            spark, root, {"r": "CAST(r + 10 AS INT)"}, "k = 999"
        )
        assert a.tt_read(spark, root).where("r = 11").count() == 1

    def test_clone_refuses_path_valued_then_allows(self, spark, tmp_path):
        root = str(tmp_path / "src")
        spark.range(8).selectExpr("id AS k", "id % 2 AS r").write.partitionBy(
            "r"
        ).parquet(root)
        a.tt_convert(spark, root)
        with pytest.raises(a.exceptions.AstroSparkError, match="ADOPTED"):
            a.tt_clone(spark, root, str(tmp_path / "dst"))
        # OPTIMIZE migrates adopted files to the engine layout
        a.tt_optimize(spark, root)
        a.tt_clone(spark, root, str(tmp_path / "dst2"))
        cl = a.tt_read(spark, str(tmp_path / "dst2"))
        assert cl.count() == 8 and sorted(cl.columns) == ["k", "r"]

    def test_sql_surface_partitioned(self, spark, tmp_path):
        spark.range(12).selectExpr(
            "id AS k", "id % 3 AS r"
        ).createOrReplaceTempView("ptsrc")
        root = str(tmp_path / "sqlpt")
        a.run_raw_sql(
            spark,
            f"CREATE TABLE db.sqlpt USING DELTA PARTITIONED BY (r) "
            f"LOCATION '{root}' AS SELECT k, r FROM ptsrc",
        )
        try:
            import json as _json

            m = _json.load(open(root + "/_log/v00000000.json"))
            assert m["partition_cols"] == ["r"]
            # IF NOT EXISTS no-op: SELECT never runs, head unchanged
            out = a.run_raw_sql(
                spark,
                "CREATE TABLE IF NOT EXISTS db.sqlpt USING DELTA AS "
                "SELECT k, r FROM ptsrc WHERE 1 = 0",
                results_format="list",
            )
            assert out[0].committed_version == 0
            assert a.tt_read(spark, root).count() == 12
            # the reference's VERBATIM template shape parses
            # (python-sdk delta.py:31)
            out = a.run_raw_sql(
                spark,
                f"CREATE TABLE IF NOT EXISTS db.sqlpt2 USING DELTA "
                f"LOCATION '{tmp_path / 'sqlpt2'}' AS "
                "SELECT k FROM ptsrc",
                results_format="list",
            )
            assert out[0].committed_version == 0
            # OR REPLACE + IF NOT EXISTS is contradictory
            with pytest.raises(a.exceptions.AstroSparkError):
                a.run_raw_sql(
                    spark,
                    "CREATE OR REPLACE TABLE IF NOT EXISTS db.sqlpt "
                    "USING DELTA AS SELECT 1",
                )
            # CONVERT ... PARTITIONED BY (names validate vs layout)
            hroot = str(tmp_path / "hconv")
            spark.range(4).selectExpr(
                "id AS k", "id % 2 AS r"
            ).write.partitionBy("r").parquet(hroot)
            a.run_raw_sql(
                spark,
                f"CONVERT TO DELTA parquet.'{hroot}' PARTITIONED BY (r INT)",
            )
            assert a.tt_read(spark, hroot).count() == 4
        finally:
            a.tt_unregister(spark, "db.sqlpt")
            a.tt_unregister(spark, "db.sqlpt2")

    def test_comma_list_and_show_tblproperties_names(self, spark, tmp_path):
        r1, r2 = str(tmp_path / "c1"), str(tmp_path / "c2")
        a.tt_create(
            spark, spark.range(6).selectExpr("id AS k", "id % 2 AS r"), r1
        )
        a.tt_create(
            spark,
            spark.createDataFrame([(0, "even"), (1, "odd")], "r long, lbl string"),
            r2,
        )
        a.tt_register(spark, "db.fact", r1)
        a.tt_register(spark, "db.dim", r2)
        try:
            # comma FROM list: BOTH names resolve (VERDICT r12 #4),
            # original-name qualifiers survive via the implicit alias
            n = a.run_raw_sql(
                spark,
                "SELECT COUNT(*) AS n FROM db.fact, db.dim "
                "WHERE fact.r = dim.r",
                results_format="list",
            )[0].n
            assert n == 6
            # user aliases still win
            n = a.run_raw_sql(
                spark,
                "SELECT COUNT(*) AS n FROM db.fact f, db.dim d "
                "WHERE f.r = d.r",
                results_format="list",
            )[0].n
            assert n == 6
            # a SELECT-list column named like a registered table is
            # NEVER clobbered (the second comma-fix proof)
            spark.sql("SELECT 1 AS fact").createOrReplaceTempView("vfact")
            assert (
                a.run_raw_sql(
                    spark,
                    "SELECT fact, fact FROM vfact WHERE fact = 1",
                    results_format="list",
                )[0][0]
                == 1
            )
            # SHOW TBLPROPERTIES accepts names (ADVICE r12 low #2)
            a.run_raw_sql(
                spark,
                "ALTER TABLE db.fact SET TBLPROPERTIES ('team' = 'data')",
            )
            props = a.run_raw_sql(
                spark, "SHOW TBLPROPERTIES db.fact", results_format="list"
            )
            assert ("team", "data") in [(p.key, p.value) for p in props]
        finally:
            a.tt_unregister(spark, "db.fact")
            a.tt_unregister(spark, "db.dim")

    def test_format_reader_partitioned(self, spark, tmp_path):
        from astro_spark.sources.tt_datasource import register

        register(spark)
        root = str(tmp_path / "fmt")
        spark.range(9).selectExpr("id AS k", "id % 3 AS r").write.partitionBy(
            "r"
        ).parquet(root)
        a.tt_convert(spark, root)
        df = (
            spark.read.format("versioned_parquet")
            .option("path", root)
            .load()
        )
        # adopted files: path values materialize through Arrow
        assert df.count() == 9
        assert df.where("r = 1").agg({"k": "sum"}).collect()[0][0] == 12

    def test_optimize_where_partition_scoped(self, spark, tmp_path):
        """Delta ``OPTIMIZE ... WHERE``: compact ONE partition — only
        files whose recorded partition value satisfies the predicate
        rewrite; everything else carries by manifest reference
        (O(selected partition) commit, the only way to compact a
        100 TB table incrementally)."""
        import json as _json

        root = str(tmp_path / "ow")
        df = spark.range(40).selectExpr("id AS k", "id % 4 AS r")
        # many small files per partition
        a.tt_create(
            spark, df.repartition(10), root, partition_by=["r"]
        )
        m0 = _json.load(open(root + "/_log/v00000000.json"))
        r1_before = [f for f in m0["files"] if m0["stats"][f]["r"] == [1, 1]]
        other_before = [f for f in m0["files"] if f not in set(r1_before)]
        assert len(r1_before) > 1
        v = a.run_raw_sql(
            spark, f"OPTIMIZE '{root}' WHERE r = 1", results_format="list"
        )[0].committed_version
        assert v == 1
        heads = sorted(
            p.name for p in (tmp_path / "ow" / "_log").glob("v*.json")
        )
        m1 = _json.load(open(root + f"/_log/{heads[-1]}"))

        log = TableLog(root)
        files1, stats1 = log.resolve(m1)
        # r=1 compacted into fewer files; every other file untouched
        r1_after = [f for f in files1 if stats1[f]["r"] == [1, 1]]
        assert len(r1_after) < len(r1_before)
        assert set(other_before) <= set(files1)
        # rows identical, time travel intact
        assert a.tt_read(spark, root).count() == 40
        assert sorted(
            r.k for r in a.tt_read(spark, root).where("r = 1").collect()
        ) == sorted(range(1, 40, 4))
        # guardrails: non-partition predicate and unpartitioned table
        with pytest.raises(a.exceptions.AstroSparkError, match="partition"):
            a.tt_optimize(spark, root, where="k > 3")
        flat = str(tmp_path / "flat")
        a.tt_create(spark, spark.range(4).selectExpr("id AS k"), flat)
        with pytest.raises(a.exceptions.AstroSparkError, match="partitioned"):
            a.tt_optimize(spark, flat, where="k = 1")
        # empty scope: no new version
        assert a.tt_optimize(spark, root, where="r = 99") == 1

    def test_substitution_alias_edges(self, spark, tmp_path):
        """The implicit FROM-alias never doubles a user alias
        (backticked included), never touches AS-OF reads, and never
        fires outside SELECT-shaped statements."""
        from astro_spark.operators.raw_sql import (
            _substitute_registered_names as S,
        )

        root = str(tmp_path / "sub")
        a.tt_create(spark, spark.range(3).selectExpr("id AS k"), root)
        a.tt_register(spark, "db.pt", root)
        try:
            cases = [
                ("SELECT * FROM db.pt `x`", f"SELECT * FROM '{root}' `x`"),
                (
                    "SELECT * FROM db.pt VERSION AS OF 0",
                    f"SELECT * FROM '{root}' VERSION AS OF 0",
                ),
                ("SELECT * FROM db.pt", f"SELECT * FROM '{root}' pt"),
                (
                    "DELETE FROM db.pt WHERE k = 1",
                    f"DELETE FROM '{root}' WHERE k = 1",
                ),
                (
                    "SELECT (SELECT 1 FROM x), y FROM q",
                    "SELECT (SELECT 1 FROM x), y FROM q",
                ),
            ]
            for sql, want in cases:
                assert S(spark, sql) == want, sql
        finally:
            a.tt_unregister(spark, "db.pt")

    def test_load_file_partition_by_versioned_target(self, spark, tmp_path):
        """load_file(partition_by=) into a VersionedTable maps to the
        log's PARTITIONED BY (round 13); a disagreement with the
        target's own partition_by raises; other layout levers still
        reject."""
        import json as _json

        src = str(tmp_path / "src.parquet")
        spark.range(9).selectExpr("id AS k", "id % 3 AS r").write.parquet(src)
        root = str(tmp_path / "vt")
        a.load_file(
            spark,
            src,
            output_table=a.VersionedTable(root),
            partition_by=["r"],
        )
        m = _json.load(open(root + "/_log/v00000000.json"))
        assert m["partition_cols"] == ["r"]
        assert a.tt_read(spark, root, where="r = 0").count() == 3
        with pytest.raises(ValueError, match="disagrees"):
            a.load_file(
                spark,
                src,
                output_table=a.VersionedTable(
                    str(tmp_path / "vt2"), partition_by=["k"]
                ),
                partition_by=["r"],
            )
        with pytest.raises(ValueError, match="do not apply"):
            a.load_file(
                spark,
                src,
                output_table=a.VersionedTable(str(tmp_path / "vt3")),
                zorder_by=["k"],
            )

    def test_convert_two_level_hive_layout(self, spark, tmp_path):
        """Multi-level Hive layouts (year=/month=) adopt with BOTH
        partition columns detected in outer→inner order and pruned
        independently."""
        root = str(tmp_path / "ym")
        spark.range(120).selectExpr(
            "id AS k", "2020 + id % 2 AS year", "1 + id % 3 AS month"
        ).write.partitionBy("year", "month").parquet(root)
        a.tt_convert(spark, root)
        import json as _json

        m = _json.load(open(root + "/_log/v00000000.json"))
        assert m["partition_cols"] == ["year", "month"]
        got = a.tt_read(spark, root, where="year = 2021 AND month = 2")
        assert got.count() == 20
        assert len(got.inputFiles()) < len(m["files"])
        # inconsistent layouts refuse
        bad = str(tmp_path / "bad")
        spark.range(3).selectExpr("id AS k", "id AS p").write.partitionBy(
            "p"
        ).parquet(bad + "/a")
        spark.range(3).selectExpr("id AS k").write.parquet(bad + "/b")
        # r14: the stricter full-segment validation catches a/p=0/...
        # (non-partition dir 'a' above a key=value dir) before the
        # key-tuple disagreement does — either way convert refuses
        # with its OWN message, not Spark's basePath error
        with pytest.raises(
            a.exceptions.AstroSparkError,
            match="non-partition directory|disagree",
        ):
            a.tt_convert(spark, bad)

    def test_optimize_where_with_zorder(self, spark, tmp_path):
        """OPTIMIZE WHERE + ZORDER BY compose: the selected partition's
        rows re-cluster on the Morton key while every other partition's
        files carry untouched."""
        root = str(tmp_path / "owz")
        a.tt_create(
            spark,
            spark.range(400).selectExpr(
                "id AS k", "id % 4 AS r", "(id * 37) % 100 AS x"
            ).repartition(8),
            root,
            partition_by=["r"],
            stats_cols=["x"],
        )
        import json as _json

        m0 = _json.load(open(root + "/_log/v00000000.json"))
        untouched = [f for f in m0["files"] if m0["stats"][f]["r"] != [3, 3]]
        v = a.run_raw_sql(
            spark,
            f"OPTIMIZE '{root}' WHERE r = 3 ZORDER BY (x)",
            results_format="list",
        )[0].committed_version
        assert v == 1

        log = TableLog(root)
        _v, m1 = log.head()
        files1, stats1 = log.resolve(m1)
        assert set(untouched) <= set(files1)
        assert a.tt_read(spark, root).count() == 400
        assert sorted(
            x.k for x in a.tt_read(spark, root).where("r = 3").collect()
        ) == sorted(range(3, 400, 4))

    def test_partitioned_schema_evolution(self, spark, tmp_path):
        """merge_schema on a partitioned table: the new column appends
        to the log schema, pre-evolution files (including adopted ones)
        read it as NULL, and the partition layout carries."""
        root = str(tmp_path / "pse")
        spark.range(6).selectExpr("id AS k", "id % 2 AS r").write.partitionBy(
            "r"
        ).parquet(root)
        a.tt_convert(spark, root)
        add = spark.range(2).selectExpr(
            "id + 10 AS k", "CAST(id % 2 AS INT) AS r", "'new' AS tag"
        )
        with pytest.raises(a.exceptions.AstroSparkError, match="merge_schema"):
            a.tt_append(spark, add, root)
        a.tt_append(spark, add, root, merge_schema=True)
        got = a.tt_read(spark, root)
        assert set(got.columns) == {"k", "r", "tag"}
        assert got.where("tag IS NULL").count() == 6  # adopted files
        assert got.where("tag = 'new'").count() == 2
        # pruning still works across the evolved mixed table
        assert a.tt_read(spark, root, where="r = 1").count() == 4
        import json as _json
        import os

        heads = sorted(
            f for f in os.listdir(root + "/_log") if f.endswith(".json")
        )
        m = _json.load(open(f"{root}/_log/{heads[-1]}"))
        assert m["partition_cols"] == ["r"]

    def test_alter_table_add_columns(self, spark, tmp_path):
        """ALTER TABLE ADD COLUMNS (round 13): metadata-only schema
        evolution — existing files read the new columns as NULL, later
        writes may fill them, history time-travels to the narrow
        schema, and registered names route the statement."""
        root = str(tmp_path / "addc")
        a.tt_create(
            spark, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
            root,
        )
        a.tt_register(spark, "db.addc", root)
        try:
            out = a.run_raw_sql(
                spark,
                "ALTER TABLE db.addc ADD COLUMNS (tag STRING, w DOUBLE)",
                results_format="list",
            )
            assert out[0].committed_version == 1
            head = a.tt_read(spark, root)
            assert head.columns == ["k", "v", "tag", "w"]
            assert head.where("tag IS NULL AND w IS NULL").count() == 2
            # a later append may fill the new columns
            a.tt_append(
                spark,
                spark.createDataFrame(
                    [(3, 30, "x", 1.5)], "k long, v long, tag string, w double"
                ),
                root,
            )
            assert a.tt_read(spark, root).where("tag = 'x'").count() == 1
            # time travel reaches the pre-evolution schema
            assert a.tt_read(spark, root, 0).columns == ["k", "v"]
            # duplicate (case-insensitive) and python-surface errors
            with pytest.raises(a.exceptions.AstroSparkError, match="exists"):
                a.tt_add_columns(spark, root, [("TAG", "string")])
            with pytest.raises(ValueError, match="no columns"):
                a.tt_add_columns(spark, root, [])
        finally:
            a.tt_unregister(spark, "db.addc")

    def test_generated_partition_columns(self, spark, tmp_path):
        """GENERATED ALWAYS AS (round 13): the time-partitioned-ingest
        pattern — partition on a derived day column that appends never
        have to carry; a write that DOES supply it must satisfy the
        expression; UPDATE on the source column recomputes it; merge
        sources derive it too."""
        root = str(tmp_path / "gen")
        events = spark.createDataFrame(
            [(1, "2024-03-01 10:00:00"), (2, "2024-03-02 09:30:00")],
            "k long, ts string",
        )
        a.tt_create(
            spark,
            events,
            root,
            partition_by=["day"],
            generated_cols={"day": "CAST(date_trunc('DAY', ts) AS DATE)"},
        )
        got = a.tt_read(spark, root)
        assert set(got.columns) == {"k", "ts", "day"}
        assert got.where("day = DATE '2024-03-01'").count() == 1
        # appends derive the column automatically
        a.tt_append(
            spark,
            spark.createDataFrame(
                [(3, "2024-03-01 23:59:59")], "k long, ts string"
            ),
            root,
        )
        pruned = a.tt_read(spark, root, where="day = '2024-03-01'")
        assert pruned.count() == 2
        # a supplied-but-wrong value refuses before publishing
        from astro_spark.operators.timetravel import ConstraintViolationError

        head_before = a.tt_history(spark, root).count()
        with pytest.raises(ConstraintViolationError, match="GENERATED"):
            a.tt_append(
                spark,
                spark.createDataFrame(
                    [(4, "2024-03-05 01:00:00", "2024-01-01")],
                    "k long, ts string, day string",
                ).selectExpr("k", "ts", "CAST(day AS DATE) AS day"),
                root,
            )
        assert a.tt_history(spark, root).count() == head_before
        # UPDATE on the source column moves the generated partition
        a.tt_update_where(
            spark, root, {"ts": "'2024-03-09 00:00:01'"}, "k = 1"
        )
        assert (
            a.tt_read(spark, root).where("k = 1").first().day.isoformat()
            == "2024-03-09"
        )
        # merge sources derive too
        a.tt_merge(
            spark,
            spark.createDataFrame(
                [(2, "2024-04-01 00:00:00"), (9, "2024-04-02 00:00:00")],
                "k long, ts string",
            ),
            root,
            ["k"],
        )
        byk = {r.k: r.day.isoformat() for r in a.tt_read(spark, root).collect()}
        assert byk[2] == "2024-04-01" and byk[9] == "2024-04-02"
        # history time-travels: v0 still two rows
        assert a.tt_read(spark, root, 0).count() == 2

    def test_temporal_partition_stats_sound(self, spark, tmp_path):
        """DATE/TIMESTAMP bounds serialize as canonical strings and
        prune in TIME space (round 13): plain string literals prune
        date partitions; the midnight prefix edge ('2024-03-01' vs
        '2024-03-01 00:00:00') never mis-prunes; non-canonical literals
        prove nothing (kept — sound)."""
        root = str(tmp_path / "tps")
        events = spark.createDataFrame(
            [(i, f"2024-03-{(i % 3) + 1:02d} 10:00:00") for i in range(30)],
            "k long, ts string",
        ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
        a.tt_create(
            spark,
            events,
            root,
            partition_by=["day"],
            generated_cols={"day": "CAST(date_trunc('DAY', ts) AS DATE)"},
            stats_cols=["ts"],
        )
        import json as _json

        m = _json.load(open(root + "/_log/v00000000.json"))
        st = next(iter(m["stats"].values()))
        assert isinstance(st["day"][0], str) and isinstance(st["ts"][0], str)
        pr = a.tt_read(spark, root, where="day = '2024-03-02'")
        assert pr.count() == 10
        assert len(pr.inputFiles()) < len(m["files"])
        # midnight edge: <= 'date-only' literal keeps the midnight file
        edge = a.tt_read(spark, root, where="ts <= '2024-03-01 10:00:00'")
        assert edge.count() == 10
        # non-canonical literal: exact rows, no mis-prune
        assert a.tt_read(spark, root, where="day >= '2024-3-1'").count() == 30


class TestRound14AdviceFixes:
    """Regression tests for the round-13 ADVICE items."""

    def test_tz_aware_temporal_skip_is_sound(self):
        """Offset-aware stat strings (old Arrow-commit manifests) vs
        naive predicate literals must KEEP the file, never raise
        (ADVICE r13 #1)."""
        from astro_spark.sources.tt_log import _skip_provable

        rng = ["2024-03-01 10:00:00+00:00", "2024-03-02 10:00:00+00:00"]
        assert _skip_provable(rng, None, "2024-01-01 00:00:00") is False
        assert _skip_provable(rng, "2024-12-01 00:00:00", None) is False
        # aware-vs-aware still prunes in time space
        assert _skip_provable(rng, "2024-06-01 00:00:00+00:00", None) is True

    def test_arrow_stats_serialize_naive_local(self, tmp_path):
        """_file_stats_arrow must store tz-aware timestamp bounds as
        naive local wall-time strings (the session path's convention),
        never '+00:00'-suffixed ones (ADVICE r13 #1)."""
        import datetime as dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        from astro_spark.sources.tt_datasource import _file_stats_arrow

        p = tmp_path / "f.parquet"
        ts = [
            dt.datetime(2024, 3, 1, 10, 0, 0, tzinfo=dt.timezone.utc),
            dt.datetime(2024, 3, 2, 11, 30, 0, tzinfo=dt.timezone.utc),
        ]
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
            str(p),
        )
        stats = _file_stats_arrow(str(tmp_path), ["f.parquet"], ["ts"])
        lo, hi = stats["f.parquet"]["ts"]
        assert "+" not in lo and "+" not in hi
        exp_lo = ts[0].astimezone().replace(tzinfo=None)
        assert lo == str(exp_lo)

    def test_select_list_literal_never_rewritten(self, spark, tmp_path):
        """A comma-prefixed string literal that happens to name a
        versioned root must survive untouched in SELECT lists and IN
        lists; only FROM-list positions rewrite (ADVICE r13 #2)."""
        root = str(tmp_path / "pt")
        a.tt_create(spark, spark.range(4).selectExpr("id AS k"), root)
        rows = a.run_raw_sql(
            spark,
            f"SELECT k, '{root}' AS src FROM '{root}' ORDER BY k",
            results_format="list",
        )
        assert [r.k for r in rows] == [0, 1, 2, 3]
        assert all(r.src == root for r in rows)
        rows = a.run_raw_sql(
            spark,
            f"SELECT k FROM '{root}' "
            f"WHERE '{root}' IN ('x', '{root}') ORDER BY k",
            results_format="list",
        )
        assert [r.k for r in rows] == [0, 1, 2, 3]
        # FROM-list comma position still rewrites (FROM 'p' x, 'p' y)
        rows = a.run_raw_sql(
            spark,
            f"SELECT x.k FROM '{root}' x, '{root}' y "
            "WHERE x.k = y.k ORDER BY x.k",
            results_format="list",
        )
        assert [r.k for r in rows] == [0, 1, 2, 3]

    def test_convert_mixed_depth_rejected_cleanly(self, spark, tmp_path):
        """dt=1/f.parquet + dt=1/extra/f.parquet must fail tt_convert's
        OWN validation, not Spark's opaque 'Conflicting directory
        structures' (ADVICE r13 #3)."""
        root = str(tmp_path / "mx")
        spark.range(3).selectExpr("id AS k", "id % 2 AS dt").write.partitionBy(
            "dt"
        ).parquet(root)
        spark.range(2).selectExpr("id AS k").write.parquet(root + "/dt=0/extra")
        with pytest.raises(
            a.exceptions.AstroSparkError, match="non-partition directory"
        ):
            a.tt_convert(spark, root)

    def test_create_or_replace_drops_partitioning(self, spark, tmp_path):
        """CREATE OR REPLACE without PARTITIONED BY defines the table
        from the statement alone → unpartitioned (ADVICE r13 #4)."""
        import json as _json

        root = str(tmp_path / "corp")
        a.run_raw_sql(
            spark,
            f"CREATE TABLE '{root}' USING DELTA PARTITIONED BY (r) AS "
            "SELECT id AS k, id % 2 AS r FROM range(6)",
        )
        m0 = _json.load(open(root + "/_log/v00000000.json"))
        assert m0["partition_cols"] == ["r"]
        a.run_raw_sql(
            spark,
            f"CREATE OR REPLACE TABLE '{root}' USING DELTA AS "
            "SELECT id AS k, id % 2 AS r FROM range(8)",
        )
        from astro_spark.sources.tt_log import _partition_cols_of

        log = TableLog(root)
        _v, head = log.head()
        assert _partition_cols_of(head) == []
        assert a.tt_read(spark, root).count() == 8

    def test_load_file_layout_mismatch_on_existing(self, spark, tmp_path):
        """partition_by into an EXISTING versioned table must match the
        head manifest's layout, and the caller's handle is never
        mutated (ADVICE r13 #5)."""
        src = str(tmp_path / "src.parquet")
        spark.range(6).selectExpr(
            "id AS k", "id % 2 AS aa", "id % 3 AS bb"
        ).write.parquet(src)
        root = str(tmp_path / "vt")
        a.load_file(
            spark, src, output_table=a.VersionedTable(root), partition_by=["aa"]
        )
        handle = a.VersionedTable(root)
        with pytest.raises(ValueError, match="disagrees with the existing"):
            a.load_file(
                spark,
                src,
                output_table=handle,
                partition_by=["bb"],
                if_exists="append",
            )
        assert handle.partition_by is None  # caller's handle untouched
        # matching layout still appends fine
        a.load_file(
            spark,
            src,
            output_table=handle,
            partition_by=["aa"],
            if_exists="append",
        )
        assert handle.partition_by is None
        assert a.tt_read(spark, root).count() == 12


class TestConcurrentWriters:
    """Round-14: Delta-style WriteSerializable conflict resolution for
    copy-on-write commits (TableLog.commit, kind "rewrite").  The
    interleaved commit is INJECTED at the loser's publish point
    (monkeypatched publish), so every schedule is deterministic — the
    threaded linearizability property lives in test_properties.py."""

    def _seed(self, spark, tmp_path, name="ct"):
        root = str(tmp_path / name)
        a.tt_create(
            spark,
            spark.range(12).selectExpr("id AS k", "id % 3 AS p", "0L AS v"),
            root,
            partition_by=["p"],
        )
        return root

    def _race(self, monkeypatch, interleave):
        """Patch TableLog.publish_manifest so the FIRST publish of a
        COW op runs ``interleave()`` first — the injected commit takes
        the version slot, forcing the outer writer through the rebase."""
        orig = TableLog.publish_manifest
        state = {"armed": True}

        def racing(log, version, manifest):
            if state["armed"] and manifest.get("op") not in (None, "create"):
                state["armed"] = False
                interleave()
            return orig(log, version, manifest)

        monkeypatch.setattr(TableLog, "publish_manifest", racing)

    def test_disjoint_partitions_both_land(self, spark, tmp_path, monkeypatch):
        root = self._seed(spark, tmp_path)
        self._race(
            monkeypatch,
            lambda: a.tt_update_where(spark, root, {"v": "v + 100"}, "p = 1"),
        )
        v = a.tt_update_where(spark, root, {"v": "v + 1"}, "p = 0")
        assert v == 2  # rebased past the interleaver's version 1
        got = {
            (r.p, r.v)
            for r in a.tt_read(spark, root).select("p", "v").distinct().collect()
        }
        assert got == {(0, 1), (1, 100), (2, 0)}
        hist = a.tt_history(spark, root)
        assert hist.count() == 3  # v0 create + both updates

    def test_same_partition_conflicts(self, spark, tmp_path, monkeypatch):
        from astro_spark.operators.timetravel import ConcurrentWriteError

        root = self._seed(spark, tmp_path)
        self._race(
            monkeypatch,
            lambda: a.tt_update_where(spark, root, {"v": "v + 100"}, "p = 0"),
        )
        with pytest.raises(ConcurrentWriteError, match="rewrote"):
            a.tt_update_where(spark, root, {"v": "v + 1"}, "p = 0")
        # the interleaver's commit is intact, the loser left no trace
        got = {
            (r.p, r.v)
            for r in a.tt_read(spark, root).select("p", "v").distinct().collect()
        }
        assert got == {(0, 100), (1, 0), (2, 0)}
        # re-run against the new snapshot now composes
        a.tt_update_where(spark, root, {"v": "v + 1"}, "p = 0")
        assert {
            r.v for r in a.tt_read(spark, root).where("p = 0").collect()
        } == {101}

    def test_metadata_change_conflicts(self, spark, tmp_path, monkeypatch):
        from astro_spark.operators.timetravel import ConcurrentWriteError

        root = self._seed(spark, tmp_path)
        self._race(
            monkeypatch,
            lambda: a.tt_set_properties(spark, root, {"owner": "other"}),
        )
        with pytest.raises(ConcurrentWriteError, match="metadata"):
            a.tt_update_where(spark, root, {"v": "v + 1"}, "p = 0")

    def test_interleaved_append_survives_delete(
        self, spark, tmp_path, monkeypatch
    ):
        """WriteSerializable: an append racing a delete both land — the
        delete operates on its snapshot, the appended rows were never
        in its scope, and the rebased manifest carries them."""
        root = self._seed(spark, tmp_path)
        self._race(
            monkeypatch,
            lambda: a.tt_append(
                spark,
                spark.range(3).selectExpr(
                    "id + 100 AS k", "0L AS p", "7L AS v"
                ),
                root,
            ),
        )
        v = a.tt_delete_where(spark, root, "p = 2")
        assert v == 2
        got = a.tt_read(spark, root)
        assert got.where("p = 2").count() == 0
        assert got.where("k >= 100").count() == 3  # append survived

    def test_merge_rebases_past_disjoint_writer(
        self, spark, tmp_path, monkeypatch
    ):
        root = self._seed(spark, tmp_path)
        self._race(
            monkeypatch,
            lambda: a.tt_delete_where(spark, root, "p = 2"),
        )
        src = spark.range(2).selectExpr("id * 3 AS k", "0L AS p", "9L AS v")
        v = a.tt_merge(spark, src, root, ["k"])  # touches p=0 files only
        assert v == 2
        got = a.tt_read(spark, root)
        assert got.where("p = 2").count() == 0  # delete survived
        assert {r.v for r in got.where("k IN (0, 3)").collect()} == {9}

    def test_lost_create_ends_alike_on_both_commit_paths(
        self, spark, tmp_path, monkeypatch
    ):
        """A commit of given files to an absent root creates version 0;
        when a rival's v0 lands first, the session path
        (tt_commit_files) and the Spark-free path (_commit_files_arrow)
        both raise ConcurrentWriteError and leave the rival's table
        untouched — one rule, because both go through the same create
        commit."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from astro_spark.operators.timetravel import (
            ConcurrentWriteError,
            tt_commit_files,
        )
        from astro_spark.sources.tt_datasource import _commit_files_arrow

        schema = (
            '{"type":"struct","fields":[{"name":"k","type":"long",'
            '"nullable":true,"metadata":{}}]}'
        )
        orig = TableLog.publish_manifest

        def racing(log, version, manifest):
            if version == 0 and manifest.get("op") != "rival":
                orig(log, 0, {"files": [], "n_files": 0, "op": "rival",
                              "ts": 0.0, "schema": schema})
            return orig(log, version, manifest)

        monkeypatch.setattr(TableLog, "publish_manifest", racing)
        paths = {
            "session": lambda root, files: tt_commit_files(spark, root, files),
            "arrow": lambda root, files: _commit_files_arrow(
                root, files, "append"
            ),
        }
        ends = {}
        for name, commit in paths.items():
            root = str(tmp_path / name)
            os.makedirs(f"{root}/files/c")
            pq.write_table(
                pa.table({"k": pa.array([1], pa.int64())}),
                f"{root}/files/c/part-0.parquet",
            )
            try:
                outcome = commit(root, ["files/c/part-0.parquet"])
            except ConcurrentWriteError:
                outcome = "ConcurrentWriteError"
            log = TableLog(root)
            ends[name] = (
                outcome,
                [log.manifest(v)["op"] for v in log.versions()],
            )
        assert ends["session"] == ends["arrow"]
        assert ends["arrow"] == ("ConcurrentWriteError", ["rival"])

    @pytest.mark.parametrize(
        "kind", ["replace", "append", "rewrite-disjoint", "rewrite-same"]
    )
    def test_threads_racing_for_one_version(self, tmp_path, kind):
        """8 threads behind a barrier each commit on the same head
        version through TableLog.commit (manifests only — the commit
        never opens a data file).  Exactly one wins the version; the
        other 7 follow their kind's policy: a replace (or a rewrite of
        the same file) raises ConcurrentWriteError, an append or a
        rewrite of a disjoint file rebases and lands later.  The log
        holds one manifest per landed commit."""
        import sys
        import threading

        from astro_spark.exceptions import ConcurrentWriteError

        n = 8
        log = TableLog(str(tmp_path / "race"))
        seed = [f"files/seed/part-{i}.parquet" for i in range(n)]
        log.commit("create", "create", files=seed, header={"schema": "{}"})
        base = log.head()
        barrier = threading.Barrier(n)
        results: list[object] = [None] * n

        def run(i: int) -> None:
            files = [f"files/w{i}/part-0.parquet"]
            barrier.wait(timeout=30)
            try:
                if kind == "replace":
                    results[i] = log.commit("replace", f"w{i}", base, files=files)
                elif kind == "append":
                    results[i] = log.commit(
                        "append", f"w{i}", files=files,
                        attempt=lambda prev: ({}, {}),
                    )
                else:
                    gone = seed[i] if kind == "rewrite-disjoint" else seed[0]
                    results[i] = log.commit(
                        "rewrite", f"w{i}", base, files=files, removed=[gone]
                    )
            except ConcurrentWriteError as exc:
                results[i] = exc

        threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        landed = sorted(r for r in results if isinstance(r, int))
        lost = [r for r in results if isinstance(r, ConcurrentWriteError)]
        assert len(landed) + len(lost) == n
        if kind in ("replace", "rewrite-same"):
            assert landed == [1] and len(lost) == n - 1
        else:
            assert landed == list(range(1, n + 1)) and not lost
        assert log.versions() == [0] + landed
        winners = {f"w{i}" for i, r in enumerate(results) if isinstance(r, int)}
        assert {log.manifest(v)["op"] for v in landed} == winners
        if kind in ("append", "rewrite-disjoint"):
            head_files = set(log.resolve(log.head()[1])[0])
            assert {f"files/w{i}/part-0.parquet" for i in range(n)} <= head_files


class TestLineageFacets:
    """Round-14 (VERDICT r13 #5): OpenLineage facet parity — the one
    reference module with no counterpart (lineage/facets.py:1-143).
    Each of the four ELT operators emits an OperatorLineage-shaped dict
    (inputs/outputs with dataSource + schema + outputStatistics facets)
    into the opt-in session buffer."""

    @pytest.fixture(autouse=True)
    def _lineage_session(self, spark):
        from astro_spark import lineage

        lineage.enable(spark)
        lineage.clear(spark)
        yield
        lineage.disable(spark)
        lineage.clear(spark)

    def test_load_file_facets(self, spark, sf_dir):
        from astro_spark import lineage

        t = a.Table("lin_region")
        a.load_file(spark, f"{sf_dir}/region.parquet", output_table=t)
        ev = lineage.last(spark)
        assert ev["operator"] == "load_file"
        inp = ev["inputs"][0]
        assert inp["facets"]["dataSource"]["uri"].endswith("region.parquet")
        assert inp["facets"]["input_file_facet"]["number_of_files"] >= 1
        out = ev["outputs"][0]
        assert out["facets"]["outputStatistics"]["rowCount"] == 5
        names = {f["name"] for f in out["facets"]["schema"]["fields"]}
        assert "r_regionkey" in names
        # zero overhead when disabled: no event appended
        lineage.disable(spark)
        n = len(lineage.events(spark))
        a.load_file(spark, f"{sf_dir}/region.parquet")
        assert len(lineage.events(spark)) == n

    def test_transform_facets(self, spark, sf_dir, nation_table):
        from astro_spark import lineage

        out = a.run_transform(
            spark,
            "SELECT n_regionkey, COUNT(*) AS n FROM {{t}} GROUP BY 1",
            {"t": nation_table},
        )
        ev = lineage.last(spark)
        assert ev["operator"] == "transform"
        assert "GROUP BY" in ev["job_facets"]["sql"]["query"]
        assert "{{" not in ev["job_facets"]["sql"]["query"]  # rendered
        assert ev["outputs"][0]["facets"]["outputStatistics"]["rowCount"] == 5
        assert out.name in ev["outputs"][0]["name"]

    def test_merge_facets(self, spark, sf_dir):
        from astro_spark import lineage

        spark.sql("DROP TABLE IF EXISTS lin_tgt")
        spark.sql("DROP TABLE IF EXISTS lin_src")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"
        ).write.saveAsTable("lin_tgt")
        spark.createDataFrame(
            [(2, "B"), (3, "c")], "k int, v string"
        ).write.saveAsTable("lin_src")
        a.merge(
            spark,
            a.Table("lin_src"),
            a.Table("lin_tgt"),
            target_conflict_columns=["k"],
            if_conflicts="update",
        )
        ev = lineage.last(spark)
        assert ev["operator"] == "merge"
        src = ev["inputs"][0]["facets"]["table_facet"]
        assert src["source_table_rows"] == 2
        assert src["if_conflicts"] == "update"
        tgt = ev["outputs"][0]["facets"]
        assert tgt["outputStatistics"]["rowCount"] == 3  # post-merge
        assert tgt["target_merge_facet"]["target_conflict_columns"] == ["k"]

    def test_export_facets(self, spark, sf_dir, tmp_path):
        from astro_spark import lineage

        df = read_table(spark, sf_dir, "nation")
        path = str(tmp_path / "lin_nation.csv")
        a.export_to_file(spark, df, path, single_file=True)
        ev = lineage.last(spark)
        assert ev["operator"] == "export_to_file"
        out = ev["outputs"][0]["facets"]
        assert out["outputStatistics"]["rowCount"] == 25
        assert out["outputStatistics"]["size"] > 0
        assert out["export_file_facet"]["if_exists"] == "replace"
        assert out["export_file_facet"]["file_type"] == "csv"
        # events are JSON-serializable plain dicts (the whole point)
        import json as _json

        _json.dumps(lineage.events(spark))


class TestDirCompaction:
    """Round-14: explicit file lists collapse to fully-covered parent
    dirs above spark.astro.tt.dirCompactMin (found by the 100k-file
    partition sweep: ~1.8 ms/path of py4j+listing cost at plan time)."""

    def test_compact_paths_full_and_partial(self, spark, tmp_path):
        from astro_spark.operators.timetravel import _compact_paths

        root = str(tmp_path / "dc")
        a.tt_create(
            spark,
            spark.range(40).selectExpr("id AS k", "id * 2 AS v")
            .repartition(8),
            root,
        )
        import json as _json

        m = _json.load(open(root + "/_log/v00000000.json"))
        files = m["files"]
        assert len(files) == 8
        # full cover: the whole commit dir collapses to one path
        compact = _compact_paths(spark, root, files)
        assert len(compact) == 1
        assert not compact[0].endswith(".parquet")
        # partial cover (a file removed from the LIST but still on
        # disk, the post-delete pre-vacuum state): explicit fallback
        partial = _compact_paths(spark, root, files[:-1])
        assert sorted(partial) == sorted(files[:-1])

    def test_compacted_read_equals_explicit(self, spark, tmp_path):
        """With dirCompactMin forced to 1, reads resolve through dirs —
        rows, pruning semantics, and post-delete correctness unchanged."""
        root = str(tmp_path / "dc2")
        a.tt_create(
            spark,
            spark.range(300).selectExpr(
                "id AS k", "id % 3 AS p", "id * 2 AS v"
            ).repartition(6),
            root,
            partition_by=["p"],
        )
        spark.conf.set("spark.astro.tt.dirCompactMin", "1")
        try:
            got = a.tt_read(spark, root)
            assert got.count() == 300
            assert got.agg(F.sum("v")).first()[0] == 2 * sum(range(300))
            pruned = a.tt_read(spark, root, where="p = 1")
            assert pruned.count() == 100
            # copy-on-write leaves removed files on disk: the touched
            # dir must NOT collapse (it would resurrect deleted rows)
            a.tt_delete_where(spark, root, "k < 30")
            after = a.tt_read(spark, root)
            assert after.count() == 270
            assert after.where("k < 30").count() == 0
        finally:
            spark.conf.unset("spark.astro.tt.dirCompactMin")
