#!/usr/bin/env python3
"""Record the analytics workload's expected per-key digests.

    python3 perfbench/record_digests.py

Runs one analytics pass in each of two separate processes, from the
repository root, and writes ``perfbench/analytics_digests.json``. A key
whose hash differs between the two identical runs is a determinism
defect: it stays in the workload but is checked by row count only, and
is listed under ``row_count_only`` with the reason.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def one_pass(path: str) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "analytics_stable",
         "--seed", "0", "--seconds", "0", "--record-digests", path],
        check=True,
    )
    with open(path) as f:
        return json.load(f)


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as d:
        a = one_pass(os.path.join(d, "a.json"))
        b = one_pass(os.path.join(d, "b.json"))
    if a["errors"] or b["errors"]:
        print("keys failed:", a["errors"] + b["errors"], file=sys.stderr)
        return 1
    if a["keys"].keys() != b["keys"].keys():
        print("runs differ in their key sets", file=sys.stderr)
        return 1
    row_count_only = {}
    for k, da in a["keys"].items():
        db = b["keys"][k]
        if da["rows"] != db["rows"]:
            print(f"{k}: row count differs between identical runs", file=sys.stderr)
            return 1
        if da["hash"] != db["hash"]:
            row_count_only[k] = "value hash differs between two identical runs"
    out = {"cores": a["cores"], "keys": a["keys"], "row_count_only": row_count_only}
    with open(os.path.join(BENCH_DIR, "analytics_digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(a['keys'])} keys recorded, {len(row_count_only)} row-count-only")
    return 0


if __name__ == "__main__":
    sys.exit(main())
