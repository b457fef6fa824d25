#!/usr/bin/env bash
# Runs the named ScalaTest suites n times in a row in ONE sbt session and
# stops at the first red run: the repeated-run gate for fixpoint operators,
# whose defects can be intermittent.
#
#   scripts/repeat_specs.sh <n> <Suite> [Suite...]
#   scripts/repeat_specs.sh 5 graft.BfsSpec graft.DagLevelsSpec graft.SccSpec
#
# Suites are names as `testOnly` takes them (globs such as *SccSpec work).
# Uses the offline sbt settings of the tier-1 command unless SBT_OPTS is set.
set -euo pipefail

if [ "$#" -lt 2 ] || ! [[ "$1" =~ ^[1-9][0-9]*$ ]]; then
  echo "usage: $0 <n> <Suite> [Suite...]" >&2
  exit 2
fi
n="$1"
shift

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

# sbt --batch runs the commands in order and skips the rest after the
# first one that fails, so a red run ends the session
cmds=()
for i in $(seq 1 "$n"); do
  cmds+=("testOnly $*")
done
cd "$(dirname "$0")/.."
sbt --batch -Dsbt.log.noformat=true "${cmds[@]}"
