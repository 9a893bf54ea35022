"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

1. Pins the plain-Python MinHash/containment replays to the DuckDB
   oracles on a small corpus.
2. Checks that every per-layer metric of BENCHMARK.json is covered by the
   layer map in ``layers.json``.
3. Runs every workload once at ``--size tiny`` with ``--trace 1`` and
   ``incremental`` once with ``--trace 0``, each for the minimum number
   of passes (``--seconds 0``), and asserts that each run's last stdout
   line names every metric with its unit, that the correctness check
   passed, and that the layers the workload exercises report non-zero
   figures.

Takes about three minutes on 4 cores.
"""

from __future__ import annotations

import fnmatch
import json
import math
import subprocess
import sys
import tempfile
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

# per-layer metrics each workload must drive above zero
EXERCISED = {
    "elt_dag": ["operators.load_file.calls", "operators.transform.busy_s", "operators.merge.jobs",
                "operators.append.calls", "operators.checks.calls", "operators.export.calls",
                "operators.cleanup.calls", "sources.read_s", "sources.write_s",
                "functions.dedup.busy_s", "functions.similarity.busy_s", "functions.pairs_out",
                "spark.jobs", "spark.shuffle_write_bytes", "driver.gap_s"],
    "incremental": ["operators.timetravel.calls", "operators.timetravel.jobs",
                    "sources.read_s", "sources.bytes_written", "spark.tasks",
                    "streaming.load_stream.busy_s", "streaming.sessions.busy_s",
                    "streaming.batches", "streaming.rows_in", "streaming.phase.addBatch_s",
                    "operators.cdc.calls", "operators.cdc.jobs", "operators.dml.calls",
                    "operators.dml.jobs"],
}


def check_reference() -> None:
    import duckdb

    import inputs
    import reference
    from astro_spark.functions import oracles
    from workloads import same_rows

    docs = inputs.documents(np.random.default_rng(7), 200)
    con = duckdb.connect()
    con.register("documents", docs)
    pairs = list(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    assert same_rows(reference.minhash_pairs(pairs), con.execute(oracles.minhash_pairs_sql()).fetchall(), 0)
    assert same_rows(reference.containment_pairs(pairs), con.execute(oracles.containment_sql()).fetchall(), 0)


def check_layer_map(spec: dict) -> None:
    with open(HERE / "layers.json") as fh:
        patterns = [p for rule in json.load(fh)["map"] for p in rule["metrics"]]
    for m in spec["per_layer"]:
        assert any(fnmatch.fnmatch(m["name"], p) for p in patterns), f"{m['name']} not in layers.json"


def run(workload: str, trace: int, out: str) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "0", "--size", "tiny", "--trace", str(trace), "--out", out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(res: dict, metrics: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    assert set(res["metrics"]) == {m["name"] for m in metrics}
    for m in metrics:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"]), (m, got)


def main() -> int:
    sys.path.insert(0, str(HERE))
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    check_reference()
    check_layer_map(spec)
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench") as d:
        out = str(Path(d) / "results.jsonl")
        for w in spec["workloads"]:
            res = run(w["name"], 1, out)
            check_result(res, spec["per_layer"])
            for name in EXERCISED[w["name"]]:
                assert res["metrics"][name]["value"] > 0, (w["name"], name)
            print(f"{w['name']}: traced run ok, tracing overhead "
                  f"{res['metrics']['trace.overhead_pct']['value']:+.1f}%")
        check_result(run("incremental", 0, out), spec["end_to_end"])
        with open(out) as fh:
            for rec in map(json.loads, fh):
                for m in spec["end_to_end"]:
                    assert rec["end_to_end"][m["name"]] > 0, (rec["stamps"]["workload"], m["name"])
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
