"""Recompute ``pins.json``: the reference fingerprints the checks compare to.

    python3 perfbench/pin.py        # from the repository root, ~5 minutes

``longtail[<tenth>]``: the full rebuild of the long-tail corpus whose fresh
delta is that tenth — run_pipeline with
committed parquet stages (the CLI path) over base ∪ delta. ingest_delta's
final state must equal its nodes/edges/mentions (the equivalence contract of
plans/incremental.py), and extract_stream's raw tables must equal its
episodes_raw/mentions_raw/triples_raw. The seed picks the tenth as
``seed % 10``, so the ten entries pin every seed.

Re-pin only for a change that is meant to alter the graph, and say so in
CHANGES.md; a change that claims to keep outputs must leave this file alone.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.getcwd())  # the repository root

import corpus  # noqa: E402
import worker  # noqa: E402
from fingerprint import fingerprint  # noqa: E402


def main() -> int:
    scratch = os.path.join(os.path.dirname(worker.PINS), "_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="pin-", dir=scratch)
    try:
        spark = worker.start_session(work, trace=False)
        from graphiti_spark.plans.pipeline import run_pipeline

        pins: dict = {"longtail": {}}
        names = ("nodes", "edges", "mentions", "episodes_raw", "mentions_raw", "triples_raw")
        for tenth in range(corpus.N_TENTHS):
            d = os.path.join(work, str(tenth))
            base, delta, _, _ = worker.longtail_pages(spark, d, tenth, 0)
            pages = worker.materialize(
                base.unionByName(delta), os.path.join(d, "pages"), tenth, worker.PAGE_FILES
            )
            out = run_pipeline(spark, spark.read.parquet(pages), output_dir=os.path.join(d, "kg"))
            pins["longtail"][str(tenth)] = {n: fingerprint(out[n]) for n in names}
            print(tenth, pins["longtail"][str(tenth)], flush=True)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(worker.PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
