#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the stored output checks.

  python3 perfbench/expected.py

Dumps every benchmark query's output with graft.Verify over the
benchmark's data, checks the dump with tools/check.py (the DuckDB-oracle
procedure), and only if every query passes records each query's row count
and content digest. Run it from the repository root, and only when a
query's correct output changes.
"""
import json
import shutil
import subprocess
import sys

import run


def main():
    dump = run.WORK / "verify"
    shutil.rmtree(dump, ignore_errors=True)
    doc = run.harness("digests", 0, 0, 0, ["--verify", str(dump)])
    if doc["failed"]:
        sys.exit(f"perfbench: queries failed in the dump: {doc['info']['errors']}")
    check = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"),
                            str(run.DATA), str(dump)])
    if check.returncode != 0:
        sys.exit("perfbench: the dump does not match the DuckDB oracle; expected.json unchanged")
    out = {"data": str(run.DATA.relative_to(run.ROOT)), "queries": doc["info"]["queries"]}
    (run.HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(out['queries'])} expected outputs")


if __name__ == "__main__":
    main()
