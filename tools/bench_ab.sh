#!/usr/bin/env bash
# Same-day A/B bench: benches TWO commits interleaved on this machine,
# RIGHT NOW, so ambient drift (±30-60% across days was measured in
# rounds 11/12/14) can never masquerade as a regression or a win.
#
#   tools/bench_ab.sh <old-ref> [new-ref=HEAD] [sf-dir] [passes]
#
# Each side is a pristine `git clone` of this repo at its ref with its
# OWN sbt target (no lock contention with a foreground sbt), compiled
# once, then run via spark-submit pass-by-pass in A/B/A/B order with
# SPARK_GRAFT_BENCH_RUNS=1 per invocation — the interleaving happens at
# the COMMIT level, which is the whole point. Summary (per-query median
# across passes, ratio, verdict) comes from tools/bench_ab_summarize.py.
set -euo pipefail

OLD_REF="${1:?usage: bench_ab.sh <old-ref> [new-ref] [sf-dir] [passes]}"
NEW_REF="${2:-HEAD}"
SF_DIR="${3:-/root/testdata/sf0.1}"
PASSES="${4:-3}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/bench-ab.XXXXXX")"
SPARK_SUBMIT="${SPARK_SUBMIT:-/opt/spark/bin/spark-submit}"
CPUS="${SPARK_GRAFT_CPUS:-32}"

build() { # $1 = side name, $2 = ref
  local side="$1" sha
  sha="$(git -C "$REPO" rev-parse --verify "$2^{commit}")"
  echo "[ab] clone+build $side = ${sha:0:7}" >&2
  git clone -q "$REPO" "$WORK/$side"
  # a commit no branch reaches (git stash create) is not cloned: fetch it
  git -C "$WORK/$side" fetch -q "$REPO" "$sha"
  git -C "$WORK/$side" checkout -q "$sha"
  # sbt package, NOT a hand-rolled jar of the classes dir: plain compile
  # does not copy src/main/resources, so the hand jar would drop
  # META-INF/services (the `graft` DataSourceRegister entry) and every
  # datasource-reading query dies with DATA_SOURCE_NOT_FOUND
  (cd "$WORK/$side" && sbt -batch package >"$WORK/$side-build.log" 2>&1) ||
    { echo "[ab] $side build failed — see $WORK/$side-build.log" >&2; exit 1; }
  cp "$WORK/$side"/target/scala-2.13/*.jar "$WORK/$side.jar"
}

build old "$OLD_REF"
build new "$NEW_REF"

run_pass() { # $1 = side, $2 = pass number
  local side="$1" p="$2"
  echo "[ab] pass $p/$PASSES: $side" >&2
  # run from the side's own clone: Bench records `git rev-parse HEAD` of
  # its working directory as bench_detail's "git", which must name the
  # commit the jar was built from
  (cd "$WORK/$side" &&
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_RUNS=1 SPARK_GRAFT_BENCH_WARMUP=1 \
  SPARK_GRAFT_BENCH_DETAIL="$WORK/$side-p$p.json" \
  "$SPARK_SUBMIT" --master "local[$CPUS]" \
    --driver-memory "${SPARK_DRIVER_MEM:-8g}" \
    --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
    --conf spark.sql.session.timeZone=UTC \
    --class graft.Bench "$WORK/$side.jar") \
    >"$WORK/$side-p$p.log" 2>&1 ||
    { echo "[ab] $side pass $p FAILED — see $WORK/$side-p$p.log" >&2; exit 1; }
}

# commit-level interleaving: old/new alternate within every pass so a
# background-load spike lands on both sides of the SAME pass
for p in $(seq 1 "$PASSES"); do
  run_pass old "$p"
  run_pass new "$p"
done

python3 "$REPO/tools/bench_ab_summarize.py" "$WORK" "$PASSES" \
  "$(git -C "$REPO" rev-parse --short "$OLD_REF")" \
  "$(git -C "$REPO" rev-parse --short "$NEW_REF")"
echo "[ab] raw artifacts kept under $WORK" >&2
