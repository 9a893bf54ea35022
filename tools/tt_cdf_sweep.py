#!/usr/bin/env python
"""CDF driver-side set-algebra sweep (VERDICT r12 #8).

``tt_changes`` is O(live files) per version on the DRIVER: each version
in the range costs one checkpoint resolve (parquet → python list) plus
two set builds and two list comprehensions over the full file list.
The r12 file-count sweep priced it at 2.1 s (5k files) → 6.8 s (50k,
real churn).  This tool pushes the decade to 500k entries WITHOUT
building 500k data files: the snapshot is a checkpoint of synthetic
manifest entries plus one real one-row file per churn commit, so the
measured cost is exactly the per-version resolve + multiset algebra
the VERDICT flagged — if the line bends super-linearly, the diff moves
into an Arrow compute kernel; if it stays linear, the 10^6-file
projection closes the item.

Usage:
    python tools/tt_cdf_sweep.py [--entries 50000,500000] [--churn 10]
                                 [--repeat 3]

One JSON line per size plus a summary with the 10^6 projection.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def build(spark, root: str, n_entries: int, churn: int) -> int:
    """A versioned table whose snapshot carries ``n_entries`` synthetic
    checkpoint entries (never read — churn only ever touches the real
    one-row files), then ``churn`` single-file swap commits.  Returns
    the version the change feed should start from."""
    import astro_spark as a
    from astro_spark.operators import timetravel as tt
    from astro_spark.sources.tt_log import TableLog

    a.tt_create(
        spark, spark.createDataFrame([(0, 0)], "k long, v long"), root
    )
    log = TableLog(root, spark)
    m0 = log.manifest(0)
    real = list(m0["files"])
    fakes = [
        f"files/synthetic/part-{i:07d}.parquet" for i in range(n_entries)
    ]
    ckpt = log.write_checkpoint(fakes + real, {})
    log.publish_manifest(
        1,
        {
            "base": ckpt,
            "add": [],
            "remove": [],
            "n_files": n_entries + len(real),
            "op": "synthetic-snapshot",
            "ts": time.time(),
            "schema": m0["schema"],
        },
    )
    prev_real = real[0]
    for i in range(churn):
        new = tt._write_data_files(
            spark,
            spark.createDataFrame([(i + 1, i + 1)], "k long, v long")
            .coalesce(1),
            log,
        )
        m_prev = log.manifest(1 + i)
        body = log.body_delta(m_prev, new, [prev_real], {})
        log.publish_manifest(
            2 + i,
            {**body, "op": "churn", "ts": time.time(), "schema": m0["schema"]},
        )
        prev_real = new[0]
    return 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entries", default="50000,500000")
    ap.add_argument("--churn", type=int, default=10)
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()
    sizes = [int(x) for x in args.entries.split(",")]

    import astro_spark as a

    spark = a.get_session("tt_cdf_sweep")
    work = tempfile.mkdtemp(prefix="astro_cdf_")
    rows = []
    try:
        for n in sizes:
            root = f"{work}/t_{n}"
            start = build(spark, root, n, args.churn)
            best = float("inf")
            for _ in range(args.repeat):
                t0 = time.perf_counter()
                got = a.tt_changes(spark, root, start).count()
                best = min(best, time.perf_counter() - t0)
            row = {
                "entries": n,
                "churn_versions": args.churn,
                "change_rows": got,
                "changes_sec": round(best, 3),
                "sec_per_million_entries_per_version": round(
                    best / args.churn / (n / 1e6), 3
                ),
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
        lo, hi = rows[0], rows[-1]
        ratio = hi["changes_sec"] / max(lo["changes_sec"], 1e-9)
        scale = hi["entries"] / lo["entries"]
        summary = {
            "entry_ratio": scale,
            "time_ratio": round(ratio, 2),
            "linear_or_better": ratio <= scale * 1.2,
            "projected_1e6_sec": round(
                hi["changes_sec"] * (1e6 / hi["entries"]), 1
            ),
        }
        print(json.dumps({"summary": summary}), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
