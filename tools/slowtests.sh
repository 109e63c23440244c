#!/usr/bin/env bash
# Test-time report from the JUnit XML that `sbt test` leaves in
# target/test-reports: the N slowest test cases (default 15), then each
# suite's total time, slowest first, and the sum over all suites.
#
# Usage: tools/slowtests.sh [N]
set -euo pipefail
cd "$(dirname "$0")/.."
python3 - "${1:-15}" <<'PY'
import glob, sys
import xml.etree.ElementTree as ET

n = int(sys.argv[1])
cases, suites = [], []
for f in sorted(glob.glob('target/test-reports/*.xml')):
    root = ET.parse(f).getroot()
    for s in ([root] if root.tag == 'testsuite' else root.iter('testsuite')):
        name = s.get('name', f)
        suites.append((float(s.get('time', 0)), name, len(s.findall('testcase'))))
        for c in s.iter('testcase'):
            cases.append((float(c.get('time', 0)), name, c.get('name', '')))
if not suites:
    sys.exit('no reports in target/test-reports (run the tests first)')
print(f'== {min(n, len(cases))} slowest of {len(cases)} cases (s)')
for t, s, c in sorted(cases, reverse=True)[:n]:
    print(f'{t:9.1f}  {s.split(".")[-1]}: {c}')
print(f'== {len(suites)} suites (s, cases)')
for t, s, k in sorted(suites, reverse=True):
    print(f'{t:9.1f}  {k:4d}  {s}')
print(f'{sum(t for t, _, _ in suites):9.1f}  {len(cases):4d}  total')
PY
