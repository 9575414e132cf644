#!/bin/bash
# Adversarial-corpus second gate (round-10 verdict #2).
#
# Regenerates the planted corpus (deterministic, ~30 s) and runs the
# full query catalog through the SAME harness as the driver gate —
# but on inputs where every data-dependent branch fires: PII regexes
# (incl. \x0b-class whitespace boundaries), NFD/CJK/zero-width unicode,
# NaN/±Inf/1e308 event values, exact session-gap boundaries, identical
# -timestamp ties, null group keys (source/lang/event_type/segment/
# priority), 150-doc mega-buckets that bind the CLIQUE+STAR cap,
# benchmark 5-gram contamination plants, empty TPC-H groups.
#
# Run as part of the end-of-session pin cycle, after the sf0.01 gate.
# Expect: N pass / 0 fail (N = the full catalog size).
set -e
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/graft_adv}
sbt -batch "Test/runMain graft.AdvGenMain $OUT" >/dev/null
python3 tools/check_correctness.py "$OUT" "${OUT}_verify"
