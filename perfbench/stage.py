"""Stage one workload: its seeded inputs and expected results.

    python3 perfbench/stage.py WORKLOAD SEED SIZE DIR

Writes the workload's inputs under DIR, replays them in DuckDB for the
expected results, and pickles the staged workload to
``DIR/workload.pickle``.  A second copy at the ``tiny`` size, from its
own stream of the same seed, is staged under ``DIR/warmup`` for the
warm-up pass and pickled beside it.  ``perfbench/run.py`` runs this in a child
process, so input generation and the replays add neither time nor
memory to the process it measures.
"""

from __future__ import annotations

import pickle
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

PICKLE = "workload.pickle"
WARMUP_DIR = "warmup"


def main(argv: list[str]) -> int:
    import workloads

    name, seed, size, d = argv
    staged = []
    for stream, size_, sub in ((0, size, ""), (1, "tiny", WARMUP_DIR)):
        wl = workloads.WORKLOADS[name](size_)
        wl.stage(np.random.default_rng([int(seed), stream]), Path(d) / sub)
        wl.replay()
        staged.append(wl)
    with open(Path(d) / PICKLE, "wb") as fh:
        pickle.dump(staged, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
