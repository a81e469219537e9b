#!/usr/bin/env bash
# One-command pre-commit gate: unit/e2e suite, the benchmark harness's own
# tests, driver-config oracle rehearsal at sf0.01, and the sf0.1 benchmark.
set -euo pipefail
cd "$(dirname "$0")/.."
# Leak check (VERDICT r5 item 9): fixtures must stay free of real-vendor
# CONTACT ADDRESSES (public crawler product tokens are legitimate
# classifier inputs; the r5 LEAKCHECK hit was a contact email). Greps
# the WORKING TREE so a hit never reaches a commit; synthetic example
# domains (example.com, b.io, ...) stay allowed for the PII tests.
if grep -rInE '@(anthropic|openai|bytedance|google|meta|huawei|apple|amazon)\.[a-z]+' \
    --include='*.py' --include='*.md' advanced_elb_logs_etl_spark/ tests/ tools/ \
    __spark_entry__.py bench.py 2>/dev/null; then
  echo "LEAKCHECK: real-vendor contact address in tree" >&2
  exit 1
fi
# ... and of builder-identifying contact URLs in fixtures of any type
# (VERDICT r6 item 8). Scoped to anthropic domains: the canonical PUBLIC
# UA strings of other vendors' crawlers embed their bot-info URLs
# (google.com/bot.html, apple.com/go/applebot, ...) and are legitimate
# classifier fixtures, same adjudication as the product tokens.
if grep -rInE 'https?://[a-z0-9.-]*anthropic\.[a-z]+' \
    tests/ advanced_elb_logs_etl_spark/ tools/ __spark_entry__.py bench.py 2>/dev/null; then
  echo "LEAKCHECK: builder-identifying contact URL in fixtures/tree" >&2
  exit 1
fi
# Oracle type-policy gate (VERDICT r10 items 2+7): DESCRIBE every
# registered oracle in DuckDB and fail on any declared output type
# outside the verified allowlist (BIGINT/DOUBLE/VARCHAR/BOOLEAN/
# INTEGER/DATE/TIMESTAMP).  This is the standing authoring-time audit
# that kills the HUGEINT class (un-cast sum(BIGINT) widened to int128,
# which the driver's pandas fetch renders float64 and hash-mismatches);
# the companion float-PRECISION audit is the full-precision repr hash
# inside oracle_sim/test_oracle_parity themselves (r9 policy).
python tools/oracle_sim.py --type-gate-only
python -m pytest tests/ -x -q
# The benchmark harness imports program functions by name; a change that
# breaks it should fail here, not at benchmark time.
python -m pytest perfbench -q
SPARK_GRAFT_ORACLE_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q
python tools/plan_lint.py
python bench.py 2>/dev/null | tail -1
