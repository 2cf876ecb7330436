#!/usr/bin/env bash
# Per-suite wall seconds of the last ScalaTest run, slowest first, then
# the total, read from the JUnit XML reports sbt writes.
#
# Usage: scripts/suite_times.sh [reports-dir] [top-n]
#   reports-dir defaults to target/test-reports; top-n (default: all)
#   limits the per-suite lines. The total always covers every suite.
set -euo pipefail
repo=$(cd "$(dirname "$0")/.." && pwd)
dir=${1:-$repo/target/test-reports}
top=${2:-0}
shopt -s nullglob
reports=("$dir"/*.xml)
[ ${#reports[@]} -gt 0 ] || { echo "suite_times: no reports in $dir" >&2; exit 2; }
python3 - "$top" "${reports[@]}" <<'EOF'
import sys
import xml.etree.ElementTree as ET

top = int(sys.argv[1])
rows = []
for path in sys.argv[2:]:
    root = ET.parse(path).getroot()
    for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
        bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
        rows.append((float(s.get("time", 0)), s.get("name"), int(s.get("tests", 0)), bad))
rows.sort(reverse=True)
for t, name, n, bad in rows[:top] if top > 0 else rows:
    print(f"{t:9.1f} s  {n:4d} tests  {bad:3d} failed  {name}")
print(f"{sum(r[0] for r in rows):9.1f} s  {sum(r[2] for r in rows):4d} tests  "
      f"{sum(r[3] for r in rows):3d} failed  total over {len(rows)} suites")
EOF
