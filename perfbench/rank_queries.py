#!/usr/bin/env python3
"""Rank every q/t registry query by its warm phase split.

    python3 perfbench/rank_queries.py > perfbench/.run/ranking.tsv

Generates the `analytics` workload's inputs (the fixed data seed) and runs
`graftbench.RankQueries` over them: one cold pass over all `q*`/`t*`
queries, then one traced pass. Prints one tab-separated line per query:
latency, construct, plan and exec seconds, construction and execution
jobs. README.md describes how the workload's `q`/`t` queries were picked
from it.
"""
import os
import shutil
import subprocess

import run


def main():
    cp = run.build()
    base = os.path.join(run.RUN_DIR, "rank")
    shutil.rmtree(base, ignore_errors=True)
    data, tmp = os.path.join(base, "data"), os.path.join(base, "tmp")
    run.datagen.write(data, run.DATA_SEED, run.TABLES["analytics"])
    os.makedirs(tmp)
    try:
        subprocess.run(run.java_cmd(cp, tmp, "graftbench.RankQueries", ["--data", data]),
                       cwd=base, check=True, stdin=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
