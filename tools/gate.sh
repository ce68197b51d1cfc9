#!/usr/bin/env bash
# Snapshot gate: refuse to declare the tree commit-worthy unless the build
# compiles and the sf0.001 smoke passes. Run before any end-of-round commit:
#   tools/gate.sh            # compile + smoke + report-freshness (~2 min)
#   tools/gate.sh --quick    # compile + smoke only (mid-round iteration)
#   tools/gate.sh --full     # fresh test suite + perfbench self-tests +
#                            # Verify+oracle at sf0.01
#   tools/gate.sh --serving  # compile + the serving-path specs only
#                            # (replay waves, the driver-side merge,
#                            # incremental delivery, the result cache,
#                            # HTTP/SSE,
#                            # the manifest build the set-up runs, and
#                            # segment pruning with its regex planner)
#                            # + perfbench's Test/compile
# Every mode but --serving first checks that no main builds its own
# SparkSession (LocalTuning.session is the one recipe) and that no main
# builds a path in java.io.tmpdir (Tables.artifact is the one mechanism).
# Exit 0 = safe to snapshot; nonzero = DO NOT COMMIT the snapshot.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ "${1:-}" = "--serving" ]; then
  # fast loop on the serving path; NOT a snapshot gate (no smoke, no
  # oracle), so it never ends in "gate: PASS"
  echo "== gate: sbt Test/compile + serving specs =="
  sbt -batch Test/compile "testOnly graft.ReplayWaveSpec \
    graft.DriverMergeSpec graft.IncrementalDeliverySpec graft.ResultCacheSpec \
    graft.HttpApiSpec \
    graft.api.SseStallSpec graft.api.SseErrorSpec graft.AstFuzzSpec \
    graft.SegmentIndexSpec graft.ManifestFileIndexSpec \
    graft.TrigramPropertySpec graft.SegmentPruningPropertySpec"
  # perfbench compiles against the manifest API (SegmentIndex.build,
  # ManifestFileIndex.segmentsOf/relation, SegmentIndex.prune)
  echo "== gate: perfbench Test/compile =="
  (cd perfbench && sbt --batch Test/compile)
  echo "== gate: serving specs green (not a snapshot gate) =="
  exit 0
fi

if [ "${1:-}" != "--quick" ] && [ "${1:-}" != "--full" ]; then
  # a red test introduced by a late commit must not ship unnoticed
  # (r14: committed reports predated the last four source commits):
  # default mode refuses to bless the tree unless every test report is
  # newer than every source file. --full regenerates them; --quick is
  # for mid-round loops that will run --full before snapshotting.
  echo "== gate: test-report freshness vs src =="
  if [ ! -d target/test-reports ] || [ -z "$(ls -A target/test-reports 2>/dev/null)" ]; then
    echo "GATE FAIL: no test reports - run tools/gate.sh --full"; exit 1
  fi
  newest_report=$(ls -t target/test-reports/* | head -1)
  stale=$(find src -name '*.scala' -newer "$newest_report" | head -5)
  if [ -n "$stale" ]; then
    echo "GATE FAIL: source changed after the last test run:"; echo "$stale"
    echo "run tools/gate.sh --full to regenerate reports"; exit 1
  fi
fi

# one harness session recipe: every main builds its SparkSession from
# LocalTuning.session, so a hand-rolled builder (whose conf drifts from
# Bench's) fails the gate
echo "== gate: SparkSession.builder() only in LocalTuning.scala =="
builders=$(grep -rn --include='*.scala' 'SparkSession\.builder()' src/main/scala \
  | grep -v '^src/main/scala/graft/LocalTuning\.scala:' \
  | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*)' || true)
if [ -n "$builders" ]; then
  echo "GATE FAIL: build sessions with graft.LocalTuning.session:"
  echo "$builders"; exit 1
fi

# one ingest-artifact mechanism: derived dirs come from Tables.artifact /
# Tables.scratchDir under the context's Spark temp dir, so a path built
# from java.io.tmpdir (shared by every process, never cleaned) fails the
# gate
echo "== gate: temp paths only in Tables.scala =="
tmppaths=$(grep -rnE --include='*.scala' 'java\.io\.tmpdir|createTempDirectory|tmpDirFor' src/main/scala \
  | grep -v '^src/main/scala/graft/Tables\.scala:' \
  | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*)' || true)
if [ -n "$tmppaths" ]; then
  echo "GATE FAIL: build derived dirs with graft.Tables.artifact or scratchDir:"
  echo "$tmppaths"; exit 1
fi

echo "== gate: sbt Test/compile =="
if [ "${1:-}" = "--full" ]; then
  # stale reports from deleted/renamed specs would pollute the green-state
  # evidence (report set must == spec set at snapshot time)
  rm -rf target/test-reports
fi
sbt -batch Test/compile

echo "== gate: sf0.001 smoke (SparkEntry.entry rows>0, all queries run) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gate_smoke" >/tmp/gate_smoke.log 2>&1 \
  || { tail -30 /tmp/gate_smoke.log; echo "GATE FAIL: smoke Verify crashed"; exit 1; }
n=$(ls /tmp/gate_smoke | wc -l)
[ "$n" -ge 60 ] || { echo "GATE FAIL: only $n query outputs (expected >=60)"; exit 1; }

echo "== gate: DuckDB parse of every oracle SQL (EXPLAIN, no exec) =="
python3 tools/parse_oracles.py /tmp/gate_smoke /root/testdata/sf0.001 \
  || { echo "GATE FAIL: unparseable oracle SQL"; exit 1; }

if [ "${1:-}" = "--full" ]; then
  echo "== gate: full test suite (fresh report dir) =="
  sbt -batch test || { echo "GATE FAIL: test suite red"; exit 1; }

  echo "== gate: serving benchmark self-tests (generator, stats, SSE reading) =="
  python3 perfbench/test_gen.py || { echo "GATE FAIL: perfbench generator tests"; exit 1; }
  (cd perfbench && sbt --batch test) || { echo "GATE FAIL: perfbench tests"; exit 1; }

  echo "== gate: Verify + oracle at sf0.01 =="
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_verify" >/tmp/gate_verify.log 2>&1 \
    || { tail -30 /tmp/gate_verify.log; echo "GATE FAIL: Verify crashed"; exit 1; }
  python3 tools/check.py /tmp/gate_verify /root/testdata/sf0.01 | tee /tmp/gate_check.log
  grep -q " 0 fail" /tmp/gate_check.log || { echo "GATE FAIL: oracle failures"; exit 1; }
fi

# round checklist: the driver's bench writes BENCH_latest_full.json into
# the repo (Bench self-persists) — if one exists and is newer than the
# last committed BENCH_r*_full.json, remind the round to commit it under
# its round name so the full per-query artifact survives (r10's full
# output lived only in /tmp and a reboot would have destroyed it)
if [ -f BENCH_latest_full.json ]; then
  echo "== gate: note — rename BENCH_latest_full.json to BENCH_r<N>_full.json and commit =="
fi

echo "== gate: PASS =="
