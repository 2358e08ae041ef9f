#!/usr/bin/env bash
# Parent-vs-change A/B of the NRT freshness benchmark (nrtbench/), run
# interleaved on this machine so ambient drift lands on both sides.
#
#   tools/nrt_ab.sh <parent-ref> [change-ref=HEAD] [pairs=10] [seconds=10]
#
# Each side is a `git clone` of this repo at its ref (any commit id the
# repo holds, e.g. one from `git stash create` for an uncommitted tree),
# so each builds its own `.bench_build/`. For every workload in
# BENCHMARK.json and seeds 101..(100+pairs), both sides run
#   python3 nrtbench/run.py --workload <w> --seed <s> --seconds <S> --trace 0
# alternating which side runs first, then the same pairs with --trace 1
# on seeds 101..103 (each clone keeps their full result files under
# .bench_build/results/). tools/nrt_ab_summarize.py then prints, per
# end-to-end metric, both medians, the parent's IQR, the change's win
# count and whether the change is worse than the parent by more than the
# metric's BENCHMARK.json bound; and both sides' medians of every traced
# per-layer count (Spark jobs, tasks, files, store calls). Reads
# nrtbench/ and BENCHMARK.json of each clone and changes neither.
set -euo pipefail

PARENT_REF="${1:?usage: nrt_ab.sh <parent-ref> [change-ref] [pairs] [seconds]}"
CHANGE_REF="${2:-HEAD}"
PAIRS="${3:-10}"
RUN_SECONDS="${4:-10}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
WORK="${NRT_AB_WORK:-$(mktemp -d /tmp/nrt-ab.XXXXXX)}"
mkdir -p "$WORK/out"

clone() { # $1 = side name, $2 = ref
  local side="$1" sha
  sha="$(git -C "$REPO" rev-parse --verify "$2^{commit}")"
  echo "[nrt-ab] clone $side = ${sha:0:7}" >&2
  rm -rf "${WORK:?}/$side"
  git clone -q "$REPO" "$WORK/$side"
  # a commit no branch reaches (git stash create) is not cloned: fetch it
  git -C "$WORK/$side" fetch -q "$REPO" "$sha"
  git -C "$WORK/$side" checkout -q "$sha"
}

clone parent "$PARENT_REF"
clone change "$CHANGE_REF"

WORKLOADS="$(python3 -c 'import json,sys; print(" ".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"]))' "$WORK/change/BENCHMARK.json")"

run() { # $1 = side, $2 = workload, $3 = seed, $4 = trace; the last stdout line is the result JSON
  local side="$1" w="$2" s="$3" t="$4" out="$WORK/out/$1-$2-s$3"
  [ "$t" -eq 0 ] || out="$out-t$t"
  echo "[nrt-ab] $w seed $s trace $t: $side" >&2
  local rc=0
  (cd "$WORK/$side" &&
    python3 nrtbench/run.py --workload "$w" --seed "$s" --seconds "$RUN_SECONDS" --trace "$t") \
    >"$out.log" 2>"$out.err" || rc=$?
  echo "$rc" >"$out.rc"
  [ "$rc" -eq 0 ] || echo "[nrt-ab] $side $w seed $s trace $t exited $rc — see $out.err" >&2
}

pairs() { # $1 = trace, $2 = number of seeds from 101
  local w p s
  for w in $WORKLOADS; do
    for p in $(seq 1 "$2"); do
      s=$((100 + p))
      # alternate which side runs first, so a drift in ambient load does
      # not always favour the same side
      if [ $((i % 2)) -eq 0 ]; then run parent "$w" "$s" "$1"; run change "$w" "$s" "$1"
      else run change "$w" "$s" "$1"; run parent "$w" "$s" "$1"; fi
      i=$((i + 1))
    done
  done
}

i=0
pairs 0 "$PAIRS"
pairs 1 3

python3 "$REPO/tools/nrt_ab_summarize.py" "$WORK/out" "$WORK/change/BENCHMARK.json" \
  "$(git -C "$REPO" rev-parse --short "$PARENT_REF")" \
  "$(git -C "$REPO" rev-parse --short "$CHANGE_REF")"
echo "[nrt-ab] raw run logs kept under $WORK/out" >&2
