#!/usr/bin/env python3
"""Record the expected result digests of the `analytics` workload's queries.

    python3 perfbench/oracle_digests.py

Generates the workload's inputs (fixed data seed, see run.py), runs every
query once in the engine, and for each query with a DuckDB oracle runs the
oracle over the same parquet files and digests its result with the same
canonical rendering as `Digest.scala`. A query is recorded as
`"source": "duckdb"` when the engine's digest equals the oracle's; a query
without an oracle is recorded from the engine as `"source": "self"`. An
engine/oracle mismatch is an error: nothing is written. Output:
`expected_digests.json`.
"""
import datetime
import decimal
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys

import duckdb

import run

EPOCH = datetime.datetime(1970, 1, 1)


def render(v):
    """Canonical text of one value; mirrors `Digest.render` in Scala."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        d = float(v)
        if d == 0.0:
            d = 0.0
        return format(struct.unpack(">Q", struct.pack(">d", d))[0], "016x")
    if isinstance(v, str):
        return f"{len(v)}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def render_row(names, row):
    return "|".join(f"{len(n)}:{n}={render(v)}"
                    for n, v in sorted(zip(names, row), key=lambda p: p[0]))


def digest(names, rows):
    """Order-independent digest: sum of per-row SHA-256 prefixes mod 2^64."""
    total, n = 0, 0
    for r in rows:
        h = hashlib.sha256(render_row(names, r).encode("utf-8")).digest()
        total += int.from_bytes(h[:8], "big", signed=True)
        n += 1
    return f"{total % (1 << 64):016x}:{n}"


def main():
    tables = {t: sf for w in run.QUERY_WORKLOADS for t, sf in run.TABLES[w].items()}
    cp = run.build()
    base = os.path.join(run.RUN_DIR, "digests")
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    run.datagen.write(data, run.DATA_SEED, tables)
    engine_file = os.path.join(base, "engine.json")
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp)
    subprocess.run(run.java_cmd(cp, tmp, "graftbench.RecordDigests",
                                ["--data", data, "--out", engine_file]),
                   cwd=base, check=True, stdin=subprocess.DEVNULL)
    with open(engine_file) as f:
        engine = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in sorted(tables):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out, bad = {}, []
    for name, e in sorted(engine.items()):
        sql = e["oracle"]
        if sql is None:
            out[name] = {"digest": e["digest"], "source": "self"}
            print(f"self    {name}  {e['digest']}")
            continue
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        want = digest(names, cur.fetchall())
        if want != e["digest"]:
            bad.append(name)
            print(f"DIFFERS {name}  engine {e['digest']}  duckdb {want}")
        else:
            out[name] = {"digest": want, "source": "duckdb"}
            print(f"duckdb  {name}  {want}")
    shutil.rmtree(base, ignore_errors=True)
    if bad:
        sys.exit(f"engine and oracle disagree on {bad}; nothing written")
    with open(run.EXPECTED, "w") as f:
        json.dump({"data_seed": run.DATA_SEED, "tables": tables,
                   "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
