#!/usr/bin/env bash
# One-shot local replica of every correctness/determinism gate, for a
# given scale factor (default sf0.01). Builds, dumps all queries (each
# dump fails on any native-function re-registration warning), then
# runs: DuckDB oracle diff, -0.0 cell lint, DuckDB thread-sweep
# stability, and (if a second CPU count is given) the Spark
# parallelism-sweep diff between two dumps. First, before the build, a
# lint that every scaladoc in src/main attaches to the definition below
# it, a check that src/main writes its order-pinned double sum once, and
# a check that graft's native tier is installed at its two sites only.
#
# Usage: tools/run_gates.sh [sfDir] [cpusA] [cpusB]
#   tools/run_gates.sh                          # sf0.01, single 4-way dump
#   tools/run_gates.sh /root/testdata/sf0.1     # sf0.1
#   tools/run_gates.sh /root/testdata/sf0.01 4 32   # + 4-vs-32 Spark sweep
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
CPUS_A="${2:-4}"
CPUS_B="${3:-}"
TAG="$(basename "$SF")"
OUT_A="/tmp/graft_gates_${TAG}_${CPUS_A}"

# A `*/` line directly followed by a `/**` line leaves the first scaladoc
# attached to nothing: the definition below gets the second doc, or none.
echo "== scaladoc attachment =="
awk 'FNR == 1 { prev = "" }
     prev ~ /\*\/[[:space:]]*$/ && $0 ~ /^[[:space:]]*\/\*\*/ {
       print FILENAME ":" FNR - 1; bad = 1 }
     { prev = $0 }
     END { exit bad }' $(find src/main -name '*.scala' | sort)

# Every order-pinned double sum goes through Stats.orderedSum, so its
# lambda is the only `(acc, r) -> acc` fold left in src/main; a second
# match is a hand-written copy of the device.
echo "== one ordered fold =="
folds=$(grep -rn '(acc, r) -> acc' src/main || true)
echo "$folds"
if [[ "$(grep -c . <<<"$folds")" != 1 || "$folds" != *Stats.scala:*'acc + $term'* ]]; then
  echo "expected exactly one '(acc, r) -> acc' fold, in Stats.orderedSum" >&2
  exit 1
fi

# A session enters graft through GraftSession.local or SparkEntry.queries,
# and each installs the native tier (GraftExtensions.register) there; an
# install call anywhere else, specs included, is a copy of that rule.
echo "== one install site =="
installs=$(grep -rn 'GraftExtensions.register(' src/main || true)
echo "$installs"
if [[ "$(grep -c . <<<"$installs")" != 2 \
      || "$installs" != *GraftSession.scala:* \
      || "$installs" != *SparkEntry.scala:* ]]; then
  echo "expected exactly two GraftExtensions.register calls in src/main," \
    "in GraftSession.scala and SparkEntry.scala" >&2
  exit 1
fi
if grep -rn 'GraftExtensions.register(' src/test; then
  echo "specs get the native tier from GraftSession.local; no spec installs it" >&2
  exit 1
fi
if grep -rn 'ensureRegistered' src; then
  echo "ensureRegistered is gone; GraftExtensions.register installs the as-of tier" >&2
  exit 1
fi

echo "== build =="
sbt -batch Test/compile | tail -1

# Run a Verify dump; fail on a per-query failure line OR a non-zero
# sbt/Verify exit (a crash that prints no '[verify]...failed' line must
# not slip through as a partial dump — ADVICE r11: the old
# `| grep ... && exit 1 || true` masked PIPESTATUS under pipefail).
run_verify() {
  local cpus="$1" out="$2" rc=0
  rm -rf "$out"
  SPARK_GRAFT_CPUS="$cpus" sbt -batch "runMain graft.Verify $SF $out" \
    >/tmp/graft_gates_verify.log 2>&1 || rc=$?
  grep -E '\[verify\]' /tmp/graft_gates_verify.log || true
  if [[ "$rc" != 0 ]]; then
    echo "Verify exited rc=$rc (see /tmp/graft_gates_verify.log)" >&2
    exit "$rc"
  fi
  if grep -qE '\[verify\].*failed' /tmp/graft_gates_verify.log; then
    echo "Verify reported per-query failures" >&2
    exit 1
  fi
  # Every SparkEntry.queries call installs graft's native functions again
  # on its session; the registry logs this line whenever a name's
  # (info, builder) pair is not the stored one, i.e. when the pair is
  # rebuilt per call instead of read from the one `functions` val.
  local replaced
  replaced=$(grep -c 'replaced a previously registered function' \
    /tmp/graft_gates_verify.log || true)
  echo "re-registration lines: $replaced"
  if [[ "$replaced" != 0 ]]; then
    echo "native functions were re-registered with a new (info, builder)" >&2
    exit 1
  fi
}

echo "== verify dump ($TAG, local[$CPUS_A]) =="
run_verify "$CPUS_A" "$OUT_A"

echo "== oracle diff =="
python3 tools/oracle_check.py "$SF" "$OUT_A" | tail -1

echo "== -0.0 lint =="
python3 tools/negzero_oracle_lint.py "$SF" "$OUT_A" | tail -1

echo "== DuckDB thread sweep =="
python3 tools/oracle_stability.py "$SF" "$OUT_A" | tail -1

if [[ -n "$CPUS_B" ]]; then
  OUT_B="/tmp/graft_gates_${TAG}_${CPUS_B}"
  echo "== verify dump ($TAG, local[$CPUS_B]) =="
  run_verify "$CPUS_B" "$OUT_B"
  echo "== Spark parallelism sweep ($CPUS_A vs $CPUS_B) =="
  python3 tools/spark_stability.py "$OUT_A" "$OUT_B" | tail -1
fi

echo "== all gates done =="
