#!/usr/bin/env python3
"""Generate the inputs of one benchmark run, and the registry oracles'
expected digests, in a process of their own.

    python3 perfbench/prepare.py --out DIR --seed N --sf 0.01 \\
        [--oracles q1,q2,...] [--ingest]

``run.py`` starts this before the Spark session and waits for it, so the
generator and DuckDB never count in the memory peak of the process tree
it measures.  Writes, under ``DIR``: the ten registry tables; with
``--oracles``, ``expected.json`` mapping each registry op to the digest
of its DuckDB oracle; with ``--ingest``, ``raw/`` holding the ingest
CSV batch and the KPI history it merges into.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--oracles", default="")
    p.add_argument("--ingest", action="store_true")
    args = p.parse_args(argv)

    datagen.write_tables(args.out, args.seed, args.sf)
    if args.oracles:
        import oracle
        from data_pipeline_for_e_commerce_shop_spark.queries import ORACLES

        expected = {n: oracle.registry_digest(ORACLES[n], args.out)
                    for n in args.oracles.split(",")}
        with open(os.path.join(args.out, "expected.json"), "w") as f:
            json.dump(expected, f)
    if args.ingest:
        datagen.write_medallion_batch(args.out, os.path.join(args.out, "raw"), args.seed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
