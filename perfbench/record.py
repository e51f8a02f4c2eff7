"""Record the benchmark's reference values into `expected.json`.

    python3 perfbench/record.py

Builds the input layout afresh, stores the SHA-256 of every table file,
then runs each analytics query twice and stores its output digest (row
count and the two summed 32-bit halves of the per-row xxhash64).  A query
whose two digests differ is reported and not recorded: the benchmark
only checks outputs that are deterministic.

Re-record only when the data generator or the query set changes; a
change to the engine must reproduce the recorded digests.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    run._env_hygiene()
    key = f"sf{run.SCALE:g}"
    data_root = os.path.join(run.BUILD, "data")
    sf_dir = os.path.join(data_root, key)
    shutil.rmtree(sf_dir, ignore_errors=True)
    datagen.ensure_layout(data_root, run.SCALE, None)
    out = {"data": {key: datagen.checksums(sf_dir)}, "digests": {key: {}}}
    spark = run._start_session()
    w = workloads.Analytics(sf_dir, os.path.join(run.BUILD, "work", "record"))
    w.prepare(spark)
    status = 0
    for names in workloads.FAMILIES.values():
        for name in names:
            got = [list(workloads.digest_frame(w.frame(name)).first()) for _ in range(2)]
            if got[0] != got[1]:
                print(f"{name}: not deterministic {got}", file=sys.stderr)
                status = 1
                continue
            out["digests"][key][name] = got[0]
            print(name, got[0])
    spark.stop()
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return status


if __name__ == "__main__":
    sys.exit(main())
