#!/usr/bin/env python3
"""Bench-output contract check (r12 revision).

The round driver json-parses the bench process's output. r11's PERF
artifact proved that NO chunked variant ever parsed driver-side
("parsed": null in every BENCH_r*.json back to r1, whose output was the
exact one-line contract differing only by sbt's "[info] " logger
prefix). Since r12 the bench therefore prints, with the logger prefix
removed (build.sbt run/outputStrategy := StdoutOutput), ONE raw JSON
line:

    {"metric":"total","value":N,"unit":"sec",...,"contended":B,
     "queries":{"<name>":sec,...},"sf":"..."}

This script proves that contract against a bench log:

    python3 tools/tail_check.py <bench_log>

The last parseable JSON line of the log must carry
metric/value/unit/queries/sf and the `contended` stamp, parse RAW (no
sbt prefix), and its queries map must match BENCH_FULL.json exactly.

Exit 0 = the check passes.
"""
import json
import re
import sys


def parse_json_lines(text):
    """Yield (obj, was_prefixed) for every line that json-parses after
    optionally stripping an sbt logger prefix."""
    for line in text.splitlines():
        stripped = re.sub(r"^\[(info|error)\] ", "", line).strip()
        if not stripped.startswith("{"):
            continue
        try:
            yield json.loads(stripped), stripped != line.strip()
        except json.JSONDecodeError:
            continue  # not JSON after all


def check_contract(raw, full):
    """The last parseable JSON line must be the full contract line."""
    last = None
    for obj, prefixed in parse_json_lines(raw):
        last = (obj, prefixed)
    if last is None:
        return "no parseable JSON line in the log"
    obj, prefixed = last
    missing = [k for k in ("metric", "value", "unit", "queries", "sf")
               if k not in obj]
    if missing:
        return f"last JSON line missing contract keys: {missing}"
    if prefixed:
        return ("last JSON line still carries an sbt logger prefix — "
                "run/outputStrategy regression (the driver parses raw lines)")
    if obj["unit"] != "sec":
        return f"unit is {obj['unit']!r}, contract says 'sec'"
    if obj["queries"] != full["queries"]:
        a, b = obj["queries"], full["queries"]
        diff = {k for k in set(a) | set(b) if a.get(k) != b.get(k)}
        return f"queries map differs from BENCH_FULL.json on {sorted(diff)[:5]}"
    if "contended" not in obj:
        return "contract line missing the 'contended' stamp"
    return None


def main() -> int:
    raw = open(sys.argv[1], encoding="utf-8", errors="replace").read()

    # locate the artifact via the contract line (any parseable one)
    full_path = None
    contended = False
    for obj, _ in parse_json_lines(raw):
        if obj.get("metric") == "total":
            full_path = obj.get("full_artifact", full_path)
            contended = obj.get("contended", contended)
    if full_path is None:
        print("FAIL: no contract line found at all")
        return 1
    full = json.load(open(full_path, encoding="utf-8"))

    err = check_contract(raw, full)
    if err:
        print(f"FAIL (contract line): {err}")
        return 1
    flag = " [CONTENDED]" if contended else ""
    print(f"OK: contract line carries all {len(full['queries'])} entries raw{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
