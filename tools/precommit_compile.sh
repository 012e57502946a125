#!/bin/sh
# Pre-commit compile guard — the round-11 lesson encoded as process.
#
# Round 11 ended with 555 turns of good work scoring ZERO because the
# final snapshot commit shipped a mid-edit file that had never met a
# compiler (one missing import in DetSamplesAggregate.scala emptied
# CORRECTNESS_r11 and failed BENCH_r11 outright). This hook makes that
# class of loss structurally impossible: any commit that touches Scala
# sources must compile first.
#
# Install (idempotent):   sh tools/precommit_compile.sh --install
# The hook skips the (slow) sbt run when no staged path ends in .scala
# or .sbt, so doc/artifact commits stay instant. Bypass for a genuine
# emergency with `git commit --no-verify` — but then the snapshot rule
# still applies: never end a round without `sbt -batch compile` green.

set -e
cd "$(git rev-parse --show-toplevel)"

if [ "$1" = "--install" ]; then
  cat > .git/hooks/pre-commit <<'HOOK'
#!/bin/sh
exec sh tools/precommit_compile.sh
HOOK
  chmod +x .git/hooks/pre-commit
  echo "[precommit] installed .git/hooks/pre-commit -> tools/precommit_compile.sh"
  exit 0
fi

if git diff --cached --name-only | grep -qE '\.(scala|sbt)$'; then
  echo "[precommit] staged Scala/sbt changes - running sbt compile (Test/compile)"
  if ! sbt -batch "Test/compile" > /tmp/graft_precommit_compile.log 2>&1; then
    tail -40 /tmp/graft_precommit_compile.log
    echo "[precommit] COMPILE FAILED - commit blocked (full log: /tmp/graft_precommit_compile.log)"
    exit 1
  fi
  echo "[precommit] compile green"
fi

# perfbench is its own sbt build over RootProject(".."): a change to
# src/main that drops something perfbench calls compiles above but
# breaks every benchmark run, so build perfbench too.
if git diff --cached --name-only | grep -q '^src/main/'; then
  echo "[precommit] staged src/main changes - running sbt compile in perfbench/"
  if ! (cd perfbench && sbt --batch compile) > /tmp/graft_precommit_perfbench.log 2>&1; then
    tail -40 /tmp/graft_precommit_perfbench.log
    echo "[precommit] PERFBENCH COMPILE FAILED - commit blocked (full log: /tmp/graft_precommit_perfbench.log)"
    exit 1
  fi
  echo "[precommit] perfbench compile green"
fi
exit 0
