"""Pin the oracle's expected outputs for every corpus seed.

Writes ``perfbench/expected.json``: for each workload and each seed in
``0 .. corpus.SEEDS-1``, the sha256 and length of the merged artifact,
the committed ``(kind, status)`` row counts and the documents and task
rows the timed job commits, all derived by ``perfbench/oracle.py``
without Spark. Every run compares against these and nothing else. Re-run
only after a change to ``perfbench/corpus.py``, never after a change to
the program::

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.corpus import SEEDS, WORKLOADS, build_corpus  # noqa: E402
from perfbench.oracle import expected_outputs  # noqa: E402


def _pin(key: tuple[str, int]) -> dict:
    return expected_outputs(build_corpus(*key)).pin()


def main() -> int:
    keys = [(w, s) for w in WORKLOADS for s in range(SEEDS)]
    with ProcessPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(_pin, keys, chunksize=8))
    pinned: dict[str, dict] = {w: {} for w in WORKLOADS}
    for (w, s), pin in zip(keys, results):
        pinned[w][str(s)] = pin
    with open(os.path.join(ROOT, "perfbench", "expected.json"), "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
