"""Inputs and expected results of one benchmark run.

    python3 perfbench/prepare.py --workload NAME --seed N

Writes the seed's generated input (``rf_fit``; reused when present) or
names the bundled corpus, runs each key's registry oracle through DuckDB
on the same files, and prints one JSON line: the input directory, the
canonical expected result per key and the tables the oracles read.
``run.py`` runs this in a child process, so data generation and DuckDB
never touch the measured process's memory or timings.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CORPUS = HERE / "data" / "sf0.01"
RF_ROWS = 10_000


def input_dir(dataset: str, seed: int) -> Path:
    if dataset == "corpus":
        return CORPUS
    import datagen

    digest = hashlib.sha1((HERE / "datagen.py").read_bytes()).hexdigest()[:10]
    tag = f"labeled-s{seed}-{digest}"
    out = WORK / "data" / tag
    if (out / "_SUCCESS").exists():
        return out
    tmp = WORK / "data" / f".{tag}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    size = datagen.write_labeled(str(tmp), seed, RF_ROWS)
    (tmp / "_SUCCESS").write_text(json.dumps(size))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))
    import random_forest_using_hadoop_spark as engine
    from oracle import Oracle
    from run import WORKLOADS

    wl = WORKLOADS[args.workload]
    data = input_dir(wl.dataset, args.seed)
    engine.load_all()
    missing = [k for k in wl.keys if k not in engine.REGISTRY]
    if missing:
        print(f"keys not in registry: {missing}", file=sys.stderr)
        return 3
    oracles = {k: engine.REGISTRY[k].oracle for k in set(wl.keys)}
    db = Oracle(str(data))
    expected = {k: db.expected(sql) for k, sql in sorted(oracles.items()) if sql}
    tables = sorted({t for sql in oracles.values() for t in db.tables_read(sql or "")})
    db.close()
    print(json.dumps({
        "data": str(data),
        "expected": expected,
        "tables": tables or db.tables,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
