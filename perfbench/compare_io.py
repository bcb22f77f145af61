#!/usr/bin/env python3
"""Check that two traced runs made the same file-system calls, batch by batch.

    python3 perfbench/compare_io.py <spans-a.jsonl> <spans-b.jsonl>

Each argument is a span file written by a traced run (--trace 1) of
perfbench/run.py. The batch spans carry the per-batch `lake.io.*` counts of
the counting file system. The batches both runs reached are compared in
order; the script prints every difference and exits 1 if there is one.
"""

import json
import sys


def batches(path):
    with open(path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    out = [s for s in spans if s["name"] == "batch"]
    out.sort(key=lambda s: s["batch_id"])
    return [(s["batch_id"], {k: v for k, v in s.items() if k.startswith("lake.io.")}) for s in out]


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    a, b = batches(sys.argv[1]), batches(sys.argv[2])
    n = min(len(a), len(b))
    diffs = 0
    for (ida, ca), (idb, cb) in zip(a[:n], b[:n]):
        if ida != idb or ca != cb:
            diffs += 1
            print(f"batch {ida}/{idb}: {ca} != {cb}")
    print(f"{n} batches compared ({len(a)} and {len(b)} in the files), {diffs} differ")
    return 1 if diffs or n == 0 else 0


if __name__ == "__main__":
    sys.exit(main())
