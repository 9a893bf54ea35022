"""The benchmark workloads: ``elt_dag`` and ``incremental``.

A workload is staged in a child process (``perfbench/stage.py``): it
writes its seeded inputs (``stage``) and replays them in DuckDB for the
expected results (``replay``), then travels to the measured process by
pickle.  There ``bind`` attaches it to the session and the runner calls
``run_pass`` repeatedly.  A pass drives ``astro_spark``'s public API the
way an Airflow DAG task sequence would, issuing every library call
through ``ctx.call(layer, fn, ...)`` so it is timed, counted and (in a
traced run) tagged.  ``check`` compares the pass's final tables with the
expected results; it runs after the pass, outside the timed region.
"""

from __future__ import annotations

import math
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import astro_spark as a
import inputs
import reference
from astro_spark.functions import dedup, oracles, similarity
from astro_spark.functions.constants import EMBEDDING_DIM
from astro_spark.sources.tt_datasource import register
from astro_spark.streaming import load_file_stream, load_file_stream_changes, sessionize_stream

# (span name, module, function) wrapped in a traced run
TRACED_FUNCTIONS = [
    ("sources.read", "astro_spark.sources.readers", "read_file"),
    ("sources.write", "astro_spark.sources.writers", "write_dataframe_to_file"),
    ("operators.cdc", "astro_spark.operators.cdc", "apply_changes"),
    ("operators.dml", "astro_spark.operators.dml", "delete_rows"),
    ("operators.dml", "astro_spark.operators.dml", "delete_rows_by_keys"),
    ("operators.dml", "astro_spark.operators.dml", "update_rows"),
]

# fingerprint of a (key, price) relation; identical SQL in Spark and DuckDB
FP_SQL = (
    "SELECT COUNT(*) AS n, SUM({k}) AS sum_k, "
    "SUM(CAST(FLOOR({v} * 100 + 0.5) AS BIGINT)) AS sum_cents, "
    "SUM(({k} * 31 + CAST(FLOOR({v} * 100 + 0.5) AS BIGINT)) % 1000003) AS keyed "
    "FROM {t}"
)


def _fp(rows) -> tuple:
    return tuple(int(x or 0) for x in rows)


def spark_fp(spark, table: str, k: str, v: str) -> tuple:
    return _fp(spark.sql(FP_SQL.format(k=k, v=v, t=table)).collect()[0])


def duck_fp(con, table: str, k: str, v: str) -> tuple:
    return _fp(con.execute(FP_SQL.format(k=k, v=v, t=table)).fetchone())


def arrow_fp(table: pa.Table, k: str, v: str) -> tuple:
    """FP_SQL over an Arrow table (``fmod`` truncates like SQL's ``%``)."""
    keys = table.column(k).to_numpy().astype(np.int64)
    cents = np.floor(table.column(v).to_numpy() * 100 + 0.5).astype(np.int64)
    return (len(keys), int(keys.sum()), int(cents.sum()),
            int(np.fmod(keys * 31 + cents, 1000003).sum()))


def same_rows(got, want, tol: float = 1e-9) -> bool:
    """Order-insensitive row-set equality with a relative float tolerance."""
    got = sorted(tuple(r) for r in got)
    want = sorted(tuple(r) for r in want)
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=tol, abs_tol=tol):
                    return False
            elif x != y:
                return False
    return True


def _read_parquet_dir(path: str, columns: list[str]) -> pa.Table | None:
    """A written parquet directory, read independently of Spark; None if
    the pass did not write it."""
    try:
        return pq.read_table(path, columns=columns)
    except (OSError, pa.ArrowInvalid):
        return None


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    # one thread: staging overlaps the measured session's start
    con.execute("SET threads = 1")
    return con


class Workload:
    name = ""

    def __init__(self, size: str):
        self.rows = inputs.SIZES[size]
        self.in_dir: Path | None = None
        self.sizes: dict[str, int] = {}
        self.input_bytes = 0  # bytes of staged input one pass consumes

    def _write(self, table, path: Path, key: str | None = None) -> str:
        inputs.write(table, str(path))
        if key:
            self.sizes[key] = self.sizes.get(key, 0) + table.num_rows
        return str(path)

    def file(self, *parts: str) -> str:
        return str(self.in_dir.joinpath(*parts))

    def _sum_bytes(self, paths) -> int:
        total = 0
        for p in paths:
            p = Path(p)
            total += sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) if p.is_dir() else p.stat().st_size
        return total

    def replay(self) -> None:
        """Compute the expected results (staging process, DuckDB)."""

    def bind(self, spark) -> None:
        """Attach to the measured session."""

    def live_files(self, ctx, state) -> list[str]:
        spark = ctx.spark
        files = []
        for t in spark.catalog.listTables():
            if not t.isTemporary:
                files += spark.table(t.name).inputFiles()
        return files


# ---------------------------------------------------------------- elt_dag

Q1 = """
SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       SUM(l_extendedprice) AS sum_base_price,
       SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       COUNT(*) AS count_order
FROM {li} WHERE l_shipdate <= TIMESTAMP '2025-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

Q3 = """
SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
FROM {cust} c JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {li} l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '2025-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '2025-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 20
"""

Q5 = """
SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM {cust} c JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {li} l ON l.l_orderkey = o.o_orderkey
JOIN {supp} s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN {nation} n ON s.s_nationkey = n.n_nationkey
JOIN {region} r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '2024-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '2025-01-01 00:00:00'
GROUP BY n_name
"""

N_DELTAS = 4


class EltDag(Workload):
    """load_file -> transform (q1/q3/q5 CTAS) -> merge -> append ->
    checks -> export over TPC-H-shaped tables, then a curation stage
    (MinHash-LSH and containment near-duplicate pairs and a brute-force
    cosine top-k, each written out as a parquet pair set), then cleanup."""

    name = "elt_dag"
    TABLES = ("lineitem", "orders", "customer", "nation", "region", "supplier")
    PAIRS = ("minhash", "containment", "topk")
    PAIR_COLS = {"minhash": ["id_a", "id_b", "jaccard"],
                 "containment": ["id_a", "id_b", "containment"],
                 "topk": ["query_id", "neighbor_id", "cos_sim", "rank"]}

    def stage(self, rng: np.random.Generator, d: Path) -> None:
        self.in_dir, self.sizes = d, {}
        star = inputs.star_tables(rng, self.rows["orders"])
        for name in self.TABLES:
            self._write(star[name], d / f"{name}.parquet", name)
        n = self.rows["orders"]
        first_new = int(star["orders"].column("o_orderkey").to_numpy().max()) + 4
        for k in range(N_DELTAS):
            delta = inputs.orders_delta(rng, star["orders"], n // 20, n // 100,
                                        first_new + k * 8 * n)
            self._write(delta, d / f"delta{k}.parquet")
            new = inputs.orders_delta(rng, star["orders"], 0, n // 50,
                                      first_new + (k * 8 + 4) * n)
            self._write(new, d / f"new{k}.parquet")
        self._write(inputs.documents(rng, self.rows["documents"]), d / "documents.parquet", "documents")
        self._write(inputs.embeddings(rng, self.rows["embeddings"], EMBEDDING_DIM),
                    d / "embeddings.parquet", "embeddings")
        self.n_queries = int(rng.integers(8, 17))
        self.input_bytes = self._sum_bytes(
            [self.file(f"{t}.parquet") for t in self.TABLES + ("documents", "embeddings")]
            + [self.file("delta0.parquet"), self.file("new0.parquet")])

    def replay(self) -> None:
        con = _duck()
        for name in self.TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.file(name + '.parquet')}')")
        names = dict(li="lineitem", orders="orders", cust="customer", supp="supplier",
                     nation="nation", region="region")
        self.expect = {
            "q1": con.execute(Q1.format(**names)).fetchall(),
            "q3": con.execute(Q3.format(**names)).fetchall(),
            "q5": con.execute(Q5.format(**names)).fetchall(),
        }
        docs = con.execute(f"SELECT doc_id, text FROM read_parquet('{self.file('documents.parquet')}')").fetchall()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{self.file('embeddings.parquet')}')")
        self.expect["minhash"] = reference.minhash_pairs(docs)
        self.expect["containment"] = reference.containment_pairs(docs)
        self.expect["topk"] = con.execute(
            oracles.brute_topk_sql(k=5, max_query_id=self.n_queries)).fetchall()
        for k in range(N_DELTAS):
            con.execute(f"""CREATE TABLE merged{k} AS
                SELECT * FROM orders WHERE o_orderkey NOT IN
                  (SELECT o_orderkey FROM read_parquet('{self.file(f'delta{k}.parquet')}'))
                UNION ALL SELECT * FROM read_parquet('{self.file(f'delta{k}.parquet')}')
                UNION ALL SELECT * FROM read_parquet('{self.file(f'new{k}.parquet')}')""")
            self.expect[f"merged{k}"] = duck_fp(con, f"merged{k}", "o_orderkey", "o_totalprice")

    def run_pass(self, ctx, p: int) -> dict:
        spark, call = ctx.spark, ctx.call
        k = p % N_DELTAS
        t = {name: a.Table(f"{name}_t") for name in self.TABLES}
        for name in self.TABLES:
            call("operators.load_file", a.load_file, spark,
                 a.File(self.file(f"{name}.parquet")), output_table=t[name])
        csv_path = ctx.path("customer.csv")
        call("operators.export", a.export_to_file, spark, t["customer"], a.File(csv_path))
        cust_csv = a.Table("customer_csv", temp=True)
        schema = spark.table(t["customer"].name).schema
        call("operators.load_file", a.load_file, spark, a.File(csv_path),
             output_table=cust_csv, schema=schema, csv_options={"header": "true"})
        params = {"li": t["lineitem"], "orders": t["orders"], "cust": cust_csv,
                  "supp": t["supplier"], "nation": t["nation"], "region": t["region"]}
        ph = {key: "{{" + key + "}}" for key in params}
        for q, sql in (("q1", Q1), ("q3", Q3), ("q5", Q5)):
            call("operators.transform", a.run_transform, spark, sql.format(**ph),
                 params, output_table=a.Table(q))
        delta, new = a.Table("orders_delta"), a.Table("orders_new")
        call("operators.load_file", a.load_file, spark,
             a.File(self.file(f"delta{k}.parquet")), output_table=delta)
        call("operators.merge", a.merge, spark, delta, t["orders"], ["o_orderkey"],
             if_conflicts="update")
        call("operators.load_file", a.load_file, spark,
             a.File(self.file(f"new{k}.parquet")), output_table=new)
        call("operators.append", a.append, spark, new, t["orders"])
        call("operators.checks", a.check_column, spark, t["orders"], {
            "o_orderkey": {"null_check": {"equal_to": 0}, "unique_check": {"equal_to": 0}},
            "o_totalprice": {"min": {"geq_to": 0}},
        })
        call("operators.checks", a.check_table, spark, t["orders"], {
            "positive_price": {"check_statement": "MIN(o_totalprice) > 0"},
            "has_rows": {"check_statement": "COUNT(*) > 0"},
        })
        call("operators.export", a.export_to_file, spark, t["orders"],
             a.File(ctx.path("orders_export"), filetype="parquet"), single_file=False)
        self._curate(ctx)
        call("operators.cleanup", a.cleanup, spark)
        return {"k": k}

    def _curate(self, ctx) -> None:
        spark, call = ctx.spark, ctx.call

        def write_pairs(fn, df, name, *args, **kwargs):
            a.export_to_file(spark, fn(df, *args, **kwargs),
                             a.File(ctx.path(name), filetype="parquet"), single_file=False)

        docs = call("operators.load_file", a.load_file, spark, a.File(self.file("documents.parquet")))
        call("functions.dedup", write_pairs, dedup.minhash_lsh_pairs, docs, "minhash")
        call("functions.dedup", write_pairs, dedup.containment_pairs, docs, "containment")
        emb = call("operators.load_file", a.load_file, spark, a.File(self.file("embeddings.parquet")))
        queries = emb.where(f"vec_id < {self.n_queries}").limit(self.n_queries) if emb is not None else None
        call("functions.similarity", write_pairs, similarity.brute_force_topk, emb, "topk",
             queries, k=5)

    def check(self, ctx, state) -> list[tuple[str, bool]]:
        spark, k = ctx.spark, state["k"]
        out = [(q, same_rows(spark.table(q).collect(), self.expect[q]))
               for q in ("q1", "q3", "q5")]
        want = self.expect[f"merged{k}"]
        out.append(("orders_merged", spark_fp(spark, "orders_t", "o_orderkey", "o_totalprice") == want))
        exported = _read_parquet_dir(ctx.path("orders_export"), ["o_orderkey", "o_totalprice"])
        out.append(("orders_export", exported is not None
                    and arrow_fp(exported, "o_orderkey", "o_totalprice") == want))
        for name in self.PAIRS:
            pairs = _read_parquet_dir(ctx.path(name), self.PAIR_COLS[name])
            got = None if pairs is None else list(zip(*(c.to_pylist() for c in pairs.columns)))
            out.append((name, got is not None and same_rows(got, self.expect[name])))
            if got is not None and name != "topk":
                state["pairs_out"] = state.get("pairs_out", 0) + len(got)
        return out

    def live_files(self, ctx, state) -> list[str]:
        dirs = ["orders_export", *self.PAIRS]
        return super().live_files(ctx, state) + [
            str(f) for d in dirs for f in Path(ctx.path(d)).glob("*.parquet")]


# ---------------------------------------------------------------- incremental, part 1

N_COMMITS = 4


class VersionedCommits(Workload):
    """A versioned_parquet table taking ~1k-row commits interleaved with
    time-travel reads and version diffs, then vacuum."""

    name = "versioned_commits"

    def stage(self, rng: np.random.Generator, d: Path) -> None:
        self.in_dir, self.sizes = d, {}
        n = self.rows["vt_orders"]
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        orders = inputs.star_tables(rng, n)["orders"]
        base = orders.select(cols)
        self._write(base, d / "base.parquet", "orders")
        kinds = ["append", "update", "delete", "merge"] * (N_COMMITS // 4)
        rng.shuffle(kinds)
        # deletes take distinct residues below 40: a repeated one would
        # match no row (no new version), and rows with residue r + 40 keep
        # every update (residue r mod 40) matching
        delete_res = iter(4 * rng.choice(10, kinds.count("delete"), replace=False))
        max_key = 4 * n
        script, files = [], [d / "base.parquet"]
        batch = max(50, n // 15)
        for i, kind in enumerate(kinds):
            if kind in ("append", "merge"):
                src = inputs.orders_delta(rng, orders, batch // 2 if kind == "merge" else 0,
                                          batch // 2 if kind == "merge" else batch,
                                          max_key + 4 * i * batch)
                path = self._write(src.select(cols), d / f"c{i:02d}.parquet")
                files.append(Path(path))
                script.append((kind, path))
            else:
                # scattered keys: ~1/10 (update) or ~1/20 (delete) of the
                # rows, spread over every data file
                if kind == "update":
                    script.append((kind, f"o_orderkey % 40 = {4 * int(rng.integers(0, 10))}"))
                else:
                    script.append((kind, f"o_orderkey % 80 = {int(next(delete_res))}"))
            version = i + 1
            if i % 2 == 1:
                script.append(("read", int(rng.integers(0, version))))
            if i == N_COMMITS - 1:
                script.append(("diff", int(rng.integers(0, version)), version))
        self.script = script
        self.input_bytes = self._sum_bytes(files)

    def bind(self, spark) -> None:
        register(spark)

    def replay(self) -> None:
        con = _duck()
        con.execute(f"CREATE TABLE v0 AS SELECT * FROM read_parquet('{self.file('base.parquet')}')")
        v = 0
        self.expect = {"reads": [], "diffs": []}
        for step in self.script:
            kind = step[0]
            if kind in ("append", "update", "delete", "merge"):
                prev, v = f"v{v}", v + 1
                if kind == "append":
                    sql = f"SELECT * FROM {prev} UNION ALL SELECT * FROM read_parquet('{step[1]}')"
                elif kind == "merge":
                    src = f"read_parquet('{step[1]}')"
                    sql = (f"SELECT * FROM {prev} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {src}) "
                           f"UNION ALL SELECT * FROM {src}")
                elif kind == "update":
                    sql = (f"SELECT o_orderkey, o_custkey, "
                           f"CASE WHEN {step[1]} THEN 'U' ELSE o_orderstatus END AS o_orderstatus, "
                           f"CASE WHEN {step[1]} THEN o_totalprice + 1.25 ELSE o_totalprice END "
                           f"AS o_totalprice FROM {prev}")
                else:
                    sql = f"SELECT * FROM {prev} WHERE NOT ({step[1]})"
                con.execute(f"CREATE TABLE v{v} AS {sql}")
            elif kind == "read":
                self.expect["reads"].append(duck_fp(con, f"v{step[1]}", "o_orderkey", "o_totalprice"))
            else:
                a_, b_ = f"v{step[1]}", f"v{step[2]}"
                rows = con.execute(f"""
                    SELECT 'added', COUNT(*) FROM {b_} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {a_})
                    UNION ALL SELECT 'removed', COUNT(*) FROM {a_} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {b_})
                    UNION ALL SELECT 'changed', COUNT(*) FROM {a_} x JOIN {b_} y USING (o_orderkey)
                      WHERE x.o_custkey IS DISTINCT FROM y.o_custkey
                         OR x.o_orderstatus IS DISTINCT FROM y.o_orderstatus
                         OR x.o_totalprice IS DISTINCT FROM y.o_totalprice""").fetchall()
                self.expect["diffs"].append({s: c for s, c in rows if c})
        self.expect["head"] = duck_fp(con, f"v{v}", "o_orderkey", "o_totalprice")

    def run_pass(self, ctx, p: int) -> dict:
        spark, call = ctx.spark, ctx.call
        root = ctx.path("orders_vt")
        reads, diffs = [], []

        def fingerprint(df):
            df.createOrReplaceTempView("vt_read")
            return spark_fp(spark, "vt_read", "o_orderkey", "o_totalprice")

        def read_format(version):
            df = (spark.read.format("versioned_parquet").option("path", root)
                  .option("versionAsOf", str(version)).load())
            return fingerprint(df)

        def diff_counts(v0, v1):
            rows = a.tt_diff(spark, root, ["o_orderkey"], v0, v1).groupBy("diff_status").count().collect()
            return {r[0]: r[1] for r in rows}

        base = call("operators.load_file", a.load_file, spark, a.File(self.file("base.parquet")))
        if base is not None:
            call("operators.timetravel", a.tt_create, spark,
                 base.repartitionByRange(8, "o_orderkey"), root)
        n_reads = 0
        for step in self.script:
            kind = step[0]
            if kind in ("append", "merge"):
                src = call("operators.load_file", a.load_file, spark, a.File(step[1]))
                if kind == "append":
                    call("operators.timetravel", a.tt_append, spark, src, root)
                else:
                    call("operators.timetravel", a.tt_merge, spark, src, root, ["o_orderkey"])
            elif kind == "update":
                call("operators.timetravel", a.tt_update_where, spark, root,
                     {"o_orderstatus": "'U'", "o_totalprice": "o_totalprice + 1.25"}, step[1])
            elif kind == "delete":
                call("operators.timetravel", a.tt_delete_where, spark, root, step[1])
            elif kind == "read":
                # alternate the function API and the versioned_parquet data source
                if n_reads % 2 == 0:
                    reads.append(call("operators.timetravel",
                                      lambda v: fingerprint(a.tt_read(spark, root, v)), step[1]))
                else:
                    reads.append(call("sources.read", read_format, step[1]))
                n_reads += 1
            else:
                diffs.append(call("operators.timetravel", diff_counts, step[1], step[2]))
        call("operators.timetravel", a.tt_vacuum, spark, root, keep_last=1)
        return {"root": root, "reads": reads, "diffs": diffs}

    def check(self, ctx, state) -> list[tuple[str, bool]]:
        out = [(f"read{i}", got == want)
               for i, (got, want) in enumerate(zip(state["reads"], self.expect["reads"]))]
        out += [(f"diff{i}", got == want)
                for i, (got, want) in enumerate(zip(state["diffs"], self.expect["diffs"]))]
        a.tt_read(ctx.spark, state["root"]).createOrReplaceTempView("vt_head")
        out.append(("head", spark_fp(ctx.spark, "vt_head", "o_orderkey", "o_totalprice")
                    == self.expect["head"]))
        return out

    def live_files(self, ctx, state) -> list[str]:
        return a.tt_read(ctx.spark, state["root"]).inputFiles()


# ---------------------------------------------------------------- incremental, part 2


class StreamIngest(Workload):
    """availableNow drains: file-stream load with several micro-batches,
    CDC with tombstones, and the stateful sessionizer."""

    name = "stream_ingest"

    def stage(self, rng: np.random.Generator, d: Path) -> None:
        self.in_dir, self.sizes = d, {}
        n = self.rows["events"]
        ev = inputs.events(rng, n)
        n_files = 4  # two micro-batches at two files per trigger
        bounds = np.linspace(0, n, n_files + 1).astype(int)
        files = []
        for i in range(n_files):
            files.append(self._write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]),
                                     d / "events" / f"{i:03d}.parquet", "events"))
        cols = ["event_id", "event_type", "value"]
        ids = ev.column("event_id").to_numpy()
        base = ev.select(cols).filter(pa.array(ids % 3 == 0))
        files.append(self._write(base, d / "cdc_base.parquet"))
        # one micro-batch per change file: upserts with tombstones (a fused
        # copy-on-write commit), then tombstones only (operators.dml)
        n_chg = 2
        for i in range(n_chg):
            n_up = n // 20 if i == 0 else 0
            pick = rng.choice(n, n_up + n // 100, replace=False)
            ops = np.where(np.arange(len(pick)) < n_up, "U", "D")
            chg = ev.select(cols).take(pick)
            chg = chg.set_column(2, "value", pa.array(
                chg.column("value").to_numpy() + np.round(rng.uniform(0, 5, len(pick)), 2)))
            chg = chg.append_column("op", pa.array(ops.tolist()))
            files.append(self._write(chg, d / "changes" / f"{i:02d}-chg.parquet", "changes"))
        # the file source drains oldest-first by modification time
        for i, f in enumerate(sorted((d / "changes").iterdir())):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
        self.n_event_files, self.n_change_files = n_files, n_chg
        self.input_bytes = self._sum_bytes(files)

    def bind(self, spark) -> None:
        self.ev_schema = spark.read.parquet(self.file("events")).schema
        self.chg_schema = spark.read.parquet(self.file("changes")).schema

    def replay(self) -> None:
        con = _duck()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.file('events')}/*.parquet')")
        self.expect = {"events": duck_fp(con, "events", "event_id", "value")}
        con.execute(f"CREATE TABLE cdc AS SELECT * FROM read_parquet('{self.file('cdc_base.parquet')}')")
        for f in sorted(Path(self.file("changes")).iterdir()):
            src = f"read_parquet('{f}')"
            con.execute(f"DELETE FROM cdc WHERE event_id IN (SELECT event_id FROM {src})")
            con.execute(f"INSERT INTO cdc SELECT event_id, event_type, value FROM {src} WHERE op = 'U'")
        self.expect["cdc"] = duck_fp(con, "cdc", "event_id", "value")
        self.expect["sessions"] = con.execute("""
            WITH x AS (SELECT user_id, ts, event_id,
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                       FROM events),
            g AS (SELECT user_id, ts,
                    SUM(CASE WHEN prev IS NULL OR floor(epoch(ts))::BIGINT - floor(epoch(prev))::BIGINT > 1800
                        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid FROM x),
            s AS (SELECT user_id, sid, min(floor(epoch(ts))::BIGINT) AS s0,
                    max(floor(epoch(ts))::BIGINT) AS s1, count(*)::BIGINT AS n FROM g GROUP BY 1, 2),
            last AS (SELECT user_id, max(sid) AS m FROM s GROUP BY 1)
            SELECT s.user_id, s0, s1, n FROM s JOIN last ON s.user_id = last.user_id AND s.sid < last.m
            """).fetchall()

    def run_pass(self, ctx, p: int) -> dict:
        spark, call = ctx.spark, ctx.call
        parquet = a.FileType.PARQUET
        call("streaming.load_stream", load_file_stream, spark,
             a.File(self.file("events"), filetype=parquet), a.Table("events_stream"),
             schema=self.ev_schema, checkpoint_dir=ctx.path("ckpt_load"),
             max_files_per_trigger=2)
        target = a.Table("cdc_target")
        call("operators.load_file", a.load_file, spark,
             a.File(self.file("cdc_base.parquet")), output_table=target)
        call("streaming.load_stream", load_file_stream_changes, spark,
             a.File(self.file("changes"), filetype=parquet), target, ["event_id"],
             op_col="op", schema=self.chg_schema, checkpoint_dir=ctx.path("ckpt_cdc"),
             max_files_per_trigger=1)
        sessions = call("streaming.sessions",
                        lambda: sessionize_stream(spark, self.file("events"), schema=self.ev_schema,
                                                  shuffle_partitions=4).collect())
        return {"sessions": sessions}

    def check(self, ctx, state) -> list[tuple[str, bool]]:
        spark = ctx.spark
        sessions = state["sessions"]
        return [
            ("events_stream", spark_fp(spark, "events_stream", "event_id", "value") == self.expect["events"]),
            ("cdc_target", spark_fp(spark, "cdc_target", "event_id", "value") == self.expect["cdc"]),
            ("sessions", sessions is not None and same_rows(sessions, self.expect["sessions"])),
        ]

    def live_files(self, ctx, state) -> list[str]:
        spark = ctx.spark
        return spark.table("events_stream").inputFiles() + spark.table("cdc_target").inputFiles()


# ---------------------------------------------------------------- incremental


class Incremental(Workload):
    """The versioned-commit script, then the streaming drains, in one pass.
    Both shapes are dominated by fixed per-commit and per-micro-batch
    cost; sharing one workload keeps the benchmark's run count inside its
    time budget while each keeps its own inputs, checks and layers."""

    name = "incremental"

    def __init__(self, size: str):
        super().__init__(size)
        self.parts = (VersionedCommits(size), StreamIngest(size))

    def stage(self, rng: np.random.Generator, d: Path) -> None:
        self.in_dir = d
        for part in self.parts:
            part.stage(rng, d / part.name)
        self.sizes = {k: v for part in self.parts for k, v in part.sizes.items()}
        self.input_bytes = sum(part.input_bytes for part in self.parts)

    def replay(self) -> None:
        for part in self.parts:
            part.replay()

    def bind(self, spark) -> None:
        for part in self.parts:
            part.bind(spark)

    def run_pass(self, ctx, p: int) -> dict:
        return {part.name: part.run_pass(ctx, p) for part in self.parts}

    def check(self, ctx, state) -> list[tuple[str, bool]]:
        return [(f"{part.name}.{name}", ok) for part in self.parts
                for name, ok in part.check(ctx, state[part.name])]

    def live_files(self, ctx, state) -> list[str]:
        return [f for part in self.parts for f in part.live_files(ctx, state[part.name])]


WORKLOADS = {w.name: w for w in (EltDag, Incremental)}
