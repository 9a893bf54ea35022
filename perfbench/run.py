"""astro_spark benchmark runner.

    python3 perfbench/run.py --workload elt_dag --seed 1 --seconds 1 --trace 0

One client, one thread, closed loop: each operator call is issued only
after the previous one returns, on one ``SparkSession`` at
``local[<cpus>]``.  A run stages the seeded inputs and their
DuckDB-replayed expected results in a child process
(``perfbench/stage.py``) while the session starts, then sets up
(page-cache read, an untimed warm-up pass over a tiny copy of the
inputs) and repeats full workload passes until ``--seconds`` have
elapsed (at least ``MIN_PASSES``).  Each pass starts
from empty output directories; its final tables are checked against the
expected results after the pass, outside the timed region.

Timings are best-of-passes: ``wall_s`` is the fastest timed pass and
``op_p50_ms`` the median over a pass's calls of each call's fastest
latency across the timed passes.  On a shared host interference only
ever adds time; a call or pass it hits moves a mean or a median, but not
the fastest of the passes unless it hits them all.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced passes and prints the per-layer metrics of the
traced ones plus the tracing overhead.  The last stdout line is the
JSON result; the full stamped record (stamps, sample counts, every
metric) is appended to ``.perfbench/results.jsonl`` (``--out``) for
``perfbench/compare.py``.  Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the cold pass runs over tiny inputs: its cost is mostly fixed (class
# loading, code generation, Python workers), so it warms the same code
# paths at ~2/3 the cost of a full-size pass.  The passes after it still
# speed up (JIT).  Two timed passes keep a run near a minute on 4 shared
# cores; a third added ~10 s and did not steady the figures when the
# host was busy.
MIN_PASSES = 2
WARMUP_PASSES = 1
MIN_TRACED_PASSES = 3
# a fixed heap and young generation keep the JVM's peak RSS from
# depending on when the collector chose to resize them
DRIVER_MEM = "1g"
JAVA_OPTS = f"-Xms{DRIVER_MEM} -Xmn256m"
PROTOCOL = (
    "inputs and expected results staged in a child process; "
    "staging overlaps session start; "
    f"setup=session start + page-cache read + {WARMUP_PASSES} tiny-input warm-up pass "
    f"(checks excluded); >= {MIN_PASSES} timed passes, best-of-passes timings; "
    f"driver memory {DRIVER_MEM}, {JAVA_OPTS}; other session settings at "
    "get_session defaults; passes reset outputs; checks untimed"
)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(ROOT / "BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def percentile(values: list[float], q: int) -> float:
    """Harrell-Davis estimate of the q-th percentile: a Beta-weighted mean
    of all order statistics.  A pass makes only 16-24 calls whose
    latencies form clusters (cheap loads, commits, stream drains); a
    plain sample median jumps across the gap between two clusters when a
    seed reorders one call, this estimate moves by that call's weight."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0])
    a, b = (n + 1) * q / 100, (n + 1) * (1 - q / 100)
    # regularized incomplete beta I_t(a, b) at t = i/n, by the trapezoid
    # rule on a fine grid (no scipy here)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(w @ x)


@dataclass
class Op:
    pass_id: int
    layer: str
    seconds: float
    failed: bool
    tag: str | None


class Ctx:
    """What a workload pass sees: the session, its directories, and
    ``call`` — the one way a pass invokes the library."""

    def __init__(self, spark, out_dir: Path, tracer):
        from measure import DiskLedger

        self.spark = spark
        self.sc = spark.sparkContext
        self.out_dir = out_dir
        self.tracer = tracer
        self.traced = False
        self.pass_id = -1
        self.ops: list[Op] = []
        self.ledger = DiskLedger(str(out_dir))
        self.excluded = 0.0
        self.bytes_written = 0
        self.files_written = 0

    def call(self, layer: str, fn, *args, **kwargs):
        """Time one public library call.  A raised error is counted as a
        failed call and the pass continues (the result is None)."""
        tag = span = None
        if self.traced:
            span = self.tracer.open(layer)
            # pyspark 4.1.2's listener wrapper fails to decode the
            # QueryStartedEvent of a stream started under a job tag, so
            # drains run untagged and their jobs count as untagged
            if not layer.startswith("streaming."):
                tag = f"pb_{self.pass_id}_{len(self.ops)}"
                self.sc.addJobTag(tag)
        failed = True
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            failed = False
            return out
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            dt = time.perf_counter() - t0
            if span is not None:
                self.tracer.close(span, failed)
            if tag is not None:
                self.sc.removeJobTag(tag)
            self.ops.append(Op(self.pass_id, layer, dt, failed, tag))
            t1 = time.perf_counter()
            b, n = self.ledger.delta()
            self.bytes_written += b
            self.files_written += n
            self.excluded += time.perf_counter() - t1

    def path(self, *parts: str) -> str:
        return str(self.out_dir.joinpath(*parts))


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: Path, cpus: int) -> None:
    """Point every temp/scratch location of Python, PySpark and the JVM
    inside the work directory, before any of them is imported."""
    for d in ("tmp", "local", "out", "in"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "out" / "tmp")
    (work / "out" / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata_*
    # and no temp files outside the checkout
    (work / "local" / "jtmp").mkdir(parents=True, exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'local' / 'jtmp'}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for var in ("SPARK_GRAFT_WAREHOUSE", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None


def _source_sha() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "astro_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _start_session(work: Path, cpus: int):
    import astro_spark as a

    return a.get_session(
        "perfbench",
        master=f"local[{cpus}]",
        warehouse_dir=str(work / "out" / "warehouse"),
        extra_conf={
            "spark.driver.extraJavaOptions": JAVA_OPTS,
            "spark.local.dir": str(work / "local"),
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
            "spark.ui.port": "0",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _reset_outputs(ctx: Ctx) -> None:
    """Drop everything a pass created so the next one starts empty."""
    spark = ctx.spark
    for q in spark.streams.active:
        q.stop()
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
        else:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    for child in ctx.out_dir.iterdir():
        if child.is_dir():
            shutil.rmtree(child, ignore_errors=True)
        else:
            child.unlink()
    for d in ("warehouse", "tmp"):
        (ctx.out_dir / d).mkdir(exist_ok=True)
    ctx.ledger.reset()


@dataclass
class PassResult:
    pass_id: int
    traced: bool
    wall_s: float
    t0_epoch: float
    t1_epoch: float
    write_amp: float
    space_amp: float
    checks: int
    mismatches: list[str]
    pairs_out: int
    bytes_written: int
    files_written: int
    steal_s: float


def run_pass(wl, ctx: Ctx, pass_id: int, traced: bool) -> PassResult:
    from measure import cpu_steal_s, file_bytes

    ctx.pass_id = pass_id
    ctx.traced = traced
    ctx.excluded = 0.0
    ctx.bytes_written = ctx.files_written = 0
    tracer = ctx.tracer
    if traced:
        tracer.enabled = True
        tracer.pass_id = pass_id
        root_span = tracer.open("pass")
    steal0 = cpu_steal_s()
    e0 = time.time()
    t0 = time.perf_counter()
    state = wl.run_pass(ctx, pass_id)
    t1 = time.perf_counter()
    e1 = time.time()
    steal = cpu_steal_s() - steal0
    if traced:
        tracer.close(root_span)
        tracer.enabled = False
    ctx.traced = False
    wall = (t1 - t0) - ctx.excluded
    checks = wl.check(ctx, state)
    mismatches = [name for name, ok in checks if not ok]
    live = file_bytes(wl.live_files(ctx, state))
    on_disk = ctx.ledger.on_disk()
    return PassResult(
        pass_id, traced, wall, e0, e1,
        write_amp=ctx.bytes_written / wl.input_bytes,
        space_amp=on_disk / live if live else float("nan"),
        checks=len(checks), mismatches=mismatches,
        pairs_out=state.get("pairs_out", 0) if isinstance(state, dict) else 0,
        bytes_written=ctx.bytes_written, files_written=ctx.files_written, steal_s=steal,
    )


def _jvm_pid(sc) -> int | None:
    proc = getattr(sc._gateway, "proc", None)
    if proc is None:
        return None
    try:
        with open(f"/proc/{proc.pid}/comm") as fh:
            if fh.read().strip() == "java":
                return proc.pid
    except OSError:
        return None
    return None


def layer_seconds(ops: list[Op], pass_ids: set[int]) -> dict[str, float]:
    """Per-pass mean of the time spent in each layer's calls."""
    out: dict[str, float] = {}
    for o in ops:
        if o.pass_id in pass_ids:
            out[o.layer] = out.get(o.layer, 0.0) + o.seconds / len(pass_ids)
    return out


def layer_metrics(ctx: Ctx, passes: list[PassResult], jobs_by_pass,
                  listener_by_pass, start_s: float) -> dict[str, float]:
    """Per-pass means of every per-layer metric over the traced passes."""
    from measure import union_length

    traced = [p for p in passes if p.traced]
    n = len(traced)
    ids = {p.pass_id for p in traced}
    m: dict[str, float] = {name: 0.0 for name in metric_units("per_layer")}
    m["session.start_s"] = start_s
    self_t = ctx.tracer.self_times()
    spans = [s for s in ctx.tracer.spans if s.pass_id in ids]
    op_of_tag = {op.tag: op.layer for op in ctx.ops if op.pass_id in ids}
    op_spans = [s for s in spans if s.name.startswith("operators.")]

    def innermost_op(epoch: float) -> str | None:
        """The operator span open when an untagged job was submitted
        (streaming drains run untagged; their CDC and DML calls are
        spans).  REST times have millisecond resolution."""
        t = epoch - ctx.tracer.epoch_offset
        open_ = [s for s in op_spans if s.start - 0.001 <= t <= s.end + 0.001]
        return max(open_, key=lambda s: s.start).name if open_ else None

    for s in spans:
        if s.name.startswith("operators."):
            m[f"{s.name}.calls"] += 1
            m[f"{s.name}.failed"] += s.failed
            m[f"{s.name}.busy_s"] += s.end - s.start
        elif s.name in ("sources.read", "sources.write"):
            m[f"{s.name}_s"] += s.end - s.start
        elif s.name.startswith(("streaming.", "functions.")):
            m[f"{s.name}.busy_s"] += s.end - s.start
        group = s.name.split(".")[0]
        if f"{group}.self_s" in m:
            m[f"{group}.self_s"] += self_t[s.span_id]
    for p in traced:
        m["sources.bytes_written"] += p.bytes_written
        m["sources.files_written"] += p.files_written
        m["functions.pairs_out"] += p.pairs_out
        jobs, stages = jobs_by_pass[p.pass_id]
        # the pull also returns the jobs of the untimed checks that follow
        # the pass; keep those submitted inside the pass (REST times are ms)
        jobs = [j for j in jobs if j["_t0"] is not None
                and p.t0_epoch - 0.001 <= j["_t0"] <= p.t1_epoch + 0.001]
        stages = {sid: stages[sid] for j in jobs for sid in j.get("stageIds", []) if sid in stages}
        intervals = []
        for j in jobs:
            m["spark.jobs"] += 1
            m["spark.tasks"] += j.get("numTasks", 0)
            m["spark.stages"] += len(j.get("stageIds", []))
            layer = next((op_of_tag[t] for t in j.get("jobTags", []) if t in op_of_tag), None)
            if layer is None:
                m["spark.jobs_untagged"] += 1
                layer = innermost_op(j["_t0"])
            if layer is not None and layer.startswith("operators."):
                m[f"{layer}.jobs"] += 1
                m[f"{layer}.tasks"] += j.get("numTasks", 0)
            if j["_t0"] is not None and j["_t1"] is not None:
                intervals.append((max(j["_t0"], p.t0_epoch), min(j["_t1"], p.t1_epoch)))
        for st in stages.values():
            m["spark.executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            m["spark.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            m["spark.gc_s"] += st.get("jvmGcTime", 0) / 1e3
            m["spark.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            m["spark.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            m["spark.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        m["driver.gap_s"] += p.wall_s - union_length(intervals)
        lst = listener_by_pass.get(p.pass_id)
        if lst:
            m["streaming.batches"] += lst["batches"]
            m["streaming.rows_in"] += lst["rows_in"]
            for k, v in lst["phase_ms"].items():
                m[f"streaming.phase.{k}_s"] += v / 1e3
    for k in m:
        if k != "session.start_s":
            m[k] /= n
    untraced_wall = statistics.median(p.wall_s for p in passes if not p.traced)
    traced_wall = statistics.median(p.wall_s for p in traced)
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.traced_wall_s"] = traced_wall
    m["trace.overhead_pct"] = 100.0 * (traced_wall - untraced_wall) / untraced_wall
    return m


def _start_staging(args, in_dir: Path) -> subprocess.Popen:
    """Stage the workload in a child process (see ``perfbench/stage.py``)."""
    in_dir.mkdir(parents=True, exist_ok=True)
    return subprocess.Popen([sys.executable, str(HERE / "stage.py"), args.workload,
                             str(args.seed), args.size, str(in_dir)], stdout=sys.stderr)


def _staged(child: subprocess.Popen, in_dir: Path):
    """Wait for the staging child; the measured and the warm-up copy."""
    import stage

    rc = child.wait(timeout=600)
    if rc != 0:
        raise RuntimeError(f"staging failed with exit code {rc}")
    with open(in_dir / stage.PICKLE, "rb") as fh:
        return pickle.load(fh)


def best_call_ms(ops: list[Op], pass_ids: list[int]) -> list[float]:
    """Each call's fastest latency over the given passes, in ms.  Every
    pass makes the same calls in the same order; if a failure made them
    differ, every call of every pass is kept."""
    per_pass = [[o.seconds * 1e3 for o in ops if o.pass_id == p] for p in pass_ids]
    if len({len(c) for c in per_pass}) != 1:
        return [x for c in per_pass for x in c]
    return [min(c) for c in zip(*per_pass)]


def bench(args, work: Path) -> dict:
    import workloads
    from measure import RestPuller, Tracer, instrument, make_progress_listener, peak_rss_mb

    cpus = _nproc()
    child = _start_staging(args, work / "in")
    spark = None
    try:
        # set-up: session start, binding, page-cache read and the warm-up
        # passes' timed regions (their checks and output resets excluded)
        t = time.perf_counter()
        spark = _start_session(work, cpus)
        spark.range(1).count()  # first job: executor and scheduler up
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        wl, warm_wl = _staged(child, work / "in")
        stage_wait_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_wl.bind(spark)
        wl.bind(spark)
        for p in sorted(wl.in_dir.rglob("*")):
            if p.is_file():
                p.read_bytes()  # page cache warm
        setup_s = start_s + time.perf_counter() - t
        tracer = Tracer()
        ctx = Ctx(spark, work / "out", tracer)
        listener = None
        if args.trace:
            instrument(tracer, workloads.TRACED_FUNCTIONS)
            listener = make_progress_listener()
            spark.streams.addListener(listener)
        _reset_outputs(ctx)
        warm = []
        for _ in range(WARMUP_PASSES):
            warm.append(run_pass(warm_wl, ctx, -1, traced=False))
            _reset_outputs(ctx)
        setup_s += sum(w.wall_s for w in warm)

        rest = None
        if args.trace:
            rest = RestPuller(spark.sparkContext.uiWebUrl, spark.sparkContext.applicationId)
            rest.new_jobs()  # skip set-up jobs
        passes: list[PassResult] = []
        jobs_by_pass, listener_by_pass = {}, {}
        min_passes = MIN_TRACED_PASSES if args.trace else MIN_PASSES
        deadline = time.perf_counter() + args.seconds
        while len(passes) < min_passes or time.perf_counter() < deadline:
            i = len(passes)
            # untraced, traced, untraced, ...: a linear warm-up trend
            # across passes cancels out of the tracing overhead
            traced = bool(args.trace) and i % 2 == 1
            if listener is not None:
                listener.reset()
                listener.active = traced
            res = run_pass(wl, ctx, i, traced)
            if traced:
                jobs_by_pass[i] = rest.new_jobs()
                time.sleep(0.2)  # listener events are delivered asynchronously
                listener.active = False
                listener_by_pass[i] = {"batches": listener.batches, "rows_in": listener.rows_in,
                                       "phase_ms": dict(listener.phase_ms)}
            elif rest is not None:
                rest.new_jobs()
            passes.append(res)
            _reset_outputs(ctx)

        pids = [os.getpid()] + [p for p in [_jvm_pid(spark.sparkContext)] if p]
        rss = peak_rss_mb(pids)
        stamps = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "sizes": wl.sizes, "input_bytes": wl.input_bytes,
            "cpus": cpus, "run_seconds": args.seconds, "trace": args.trace,
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "spark_conf": {k: spark.conf.get(k, None) for k in (
                "spark.driver.memory", "spark.driver.extraJavaOptions",
                "spark.sql.shuffle.partitions")},
            "python": sys.version.split()[0],
            "git_commit": _git_commit(), "source_sha": _source_sha(),
            "protocol": PROTOCOL,
        }
        timed = [p for p in passes if not p.traced]
        lat_ms = best_call_ms(ctx.ops, [p.pass_id for p in timed])
        # correctness covers the warm-up passes too
        n_ops = len(ctx.ops)
        n_raised = sum(1 for o in ctx.ops if o.failed)
        n_checks = sum(p.checks for p in warm + passes)
        mismatches = [f"pass{p.pass_id}:{m}" for p in warm + passes for m in p.mismatches]
        end_to_end = {
            "setup_s": setup_s,
            "wall_s": min(p.wall_s for p in timed),
            "op_p50_ms": percentile(lat_ms, 50),
            "write_amp": statistics.median(p.write_amp for p in timed),
            "space_amp": statistics.median(p.space_amp for p in timed),
            "peak_rss_mb": rss,
        }
        record = {
            "stamps": stamps,
            # a pass makes 16-24 calls, too few for a steady p90 (it rests
            # on 2-3 calls), so it is recorded but not an end-to-end metric
            "samples": {"passes": len(timed), "op_calls": len(lat_ms),
                        "wall_median_s": statistics.median(p.wall_s for p in timed),
                        "op_p90_ms": percentile(lat_ms, 90),
                        "layer_s": layer_seconds(ctx.ops, {p.pass_id for p in timed}),
                        "wall_s": [p.wall_s for p in timed],
                        # CPU time the hypervisor gave other guests during
                        # each pass: a slow pass with high steal was the host
                        "steal_s": [p.steal_s for p in timed],
                        "op_ms": [[round(o.seconds * 1e3, 3) for o in ctx.ops if o.pass_id == p.pass_id]
                                  for p in timed],
                        "warmup_wall_s": [p.wall_s for p in warm],
                        "warmup_op_ms": [round(o.seconds * 1e3, 3) for o in ctx.ops if o.pass_id < 0],
                        "stage_wait_s": stage_wait_s, "start_s": start_s},
            "attempted": n_ops + n_checks,
            "failed": n_raised + len(mismatches),
            "failed_op_ratio": (n_raised + len(mismatches)) / (n_ops + n_checks),
            "mismatches": mismatches,
            "end_to_end": end_to_end,
        }
        if args.trace:
            record["per_layer"] = layer_metrics(ctx, passes, jobs_by_pass,
                                                listener_by_pass, start_s)
            spans_path = work.parent / f"spans-{args.workload}-{args.seed}.jsonl"
            tracer.dump(str(spans_path))
            record["spans_file"] = str(spans_path.relative_to(ROOT))
        if listener is not None:
            spark.streams.removeListener(listener)
        return record
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        if spark is not None:
            _stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("tiny", "default"), default="default")
    ap.add_argument("--out", default=None, help="results JSONL (default .perfbench/results.jsonl)")
    args = ap.parse_args(argv)

    if not (ROOT / "astro_spark" / "__init__.py").is_file():
        print(f"perfbench: no astro_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    base = ROOT / ".perfbench"
    for stale in base.glob("work-*"):  # left by a killed run
        if not Path(f"/proc/{stale.name.removeprefix('work-')}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    work = base / f"work-{os.getpid()}"
    _prepare_env(work, _nproc())
    try:
        import workloads  # imports astro_spark: only after the environment is set

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        record = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = Path(args.out) if args.out else base / "results.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    with open(out, "a") as fh:
        fh.write(json.dumps(record) + "\n")

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {k: {"value": record[kind][k], "unit": u} for k, u in metric_units(kind).items()}
    s = record["samples"]
    print(f"perfbench {args.workload} seed={args.seed}: {s['passes']} timed passes, "
          f"{s['op_calls']} operator calls, failed {record['failed']}/{record['attempted']}"
          + (f", mismatches {record['mismatches']}" if record["mismatches"] else ""),
          file=sys.stderr)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
