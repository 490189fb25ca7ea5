#!/bin/bash
# Regenerate COVERAGE.md's totals header from ground truth so the claim
# sheet can never drift from the registry again (it lagged in r9 and r10):
#   - query/oracle counts from the registry itself (graft.tools.Coverage)
#   - test/suite counts from a FRESH `sbt test` run (pass a saved log as
#     $1 to reuse one instead of re-running the 7-minute suite)
# Rewrites the block between the totals:begin/end markers in COVERAGE.md
# and the query/oracle/test counts in README.md's Status list.
set -euo pipefail
cd "$(dirname "$0")/.."

counts=$(sbt -batch "runMain graft.tools.Coverage" 2>/dev/null | grep '^COVERAGE ' | tail -1)
nq=$(sed -E 's/.*queries=([0-9]+).*/\1/' <<<"$counts")
no=$(sed -E 's/.*oracles=([0-9]+).*/\1/' <<<"$counts")
nro=$(sed -E 's/.*rows_only=([0-9]+).*/\1/' <<<"$counts")

testlog="${1:-}"
if [[ -z "$testlog" ]]; then
  testlog=$(mktemp)
  sbt -batch test >"$testlog" 2>&1 || { tail -20 "$testlog"; exit 1; }
fi
nt=$(grep -Eo 'Total number of tests run: [0-9]+' "$testlog" | tail -1 | grep -Eo '[0-9]+')
ns=$(grep -Eo 'Suites: completed [0-9]+' "$testlog" | tail -1 | grep -Eo '[0-9]+')

line="**Totals: ${nq} registered queries — ${no} ✓oracle, ${nro} rows-only; every oracle is a DuckDB hash-compare at sf0.01 (sketch/ANN queries pin exact counterparts plus error-contract booleans, see §2.9 notes). ${nt} ScalaTest tests (${ns} suites), all green. 4 native Catalyst expressions with codegen (JsonGetScalar, CosineSimilarity, MinHashSignature, LshBucketBits) and 6 StaticInvoke-wired kernels (pq_argmin, ivf_argmax, ivf_probes, sq8_dequant, sorted_overlap, simhash_signature).**"

python3 - "$line" "$nq" "$no" "$nt" <<'EOF'
import re, sys
line, nq, no, nt = sys.argv[1:]
p = 'COVERAGE.md'
s = open(p).read()
new = re.sub(r'(<!-- totals:begin[^>]*-->\n).*?(\n<!-- totals:end -->)',
             lambda m: m.group(1) + line + m.group(2), s, flags=re.S)
assert new != s or line in s, 'totals markers not found'
open(p, 'w').write(new)
print('COVERAGE.md totals header updated:', line[:80], '...')
p = 'README.md'
s = open(p).read()
for pat, n in [(r'\*\*\d+ (\S+ queries\*\*)', rf'**{nq} \1'),
               (r'\*\*all \d+ hash-match', f'**all {no} hash-match'),
               (r'\*\*\d+ ScalaTest tests\*\*', f'**{nt} ScalaTest tests**')]:
    s, k = re.subn(pat, n, s)
    assert k == 1, f'README.md: expected one match for {pat}, found {k}'
open(p, 'w').write(s)
print(f'README.md Status counts updated: {nq} queries, {no} oracles, {nt} tests')
EOF
