#!/bin/sh
# Run the dtype-strict driver-replica gate over the ENTIRE registry
# (window AND backlog) under the bare driver-identical session, and
# record the log. Run once per session before the final commit; the
# committed GATELOG is the round's evidence that out-of-window queries
# were re-verified, not just "remembered".
#
#   sh tools/full_gate.sh [round_tag]     # writes GATELOG_<tag>.txt
#
# `tr` and `grep` both line-buffer, so the log fills one result line at
# a time and a run cut short keeps every result it printed.
set -e
cd "$(dirname "$0")/.."
tag="${1:-local}"
ORACLE_VANILLA=1 python -u tools/check_oracle.py 2>&1 \
  | stdbuf -oL tr '\r' '\n' | grep --line-buffered -E "^(ok|FAIL|ERR|rows-only|[0-9]+ ok)" \
  | tee "GATELOG_${tag}.txt"
