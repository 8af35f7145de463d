#!/bin/bash
# Sample one JVM with jstack and count the dumps caught in a subprocess that
# Hadoop forked (a thread inside org.apache.hadoop.util.Shell: chmod,
# readlink, ls, ...), with the org.apache.hadoop.fs frames that called it.
# Usage:
#   tools/forkscan.sh <pid> [n]     n dumps of JVM <pid>, about one a second (default 60)
#   tools/forkscan.sh bench [n]     the same for the running `java ... perfbench.Main`
# Prints the share of dumps with a Shell frame, the Shell threads per dump,
# and the top caller chains over all such threads: the three nearest
# org.apache.hadoop.fs frames under the Shell frames, nearest first (or the
# nearest frame of any package when no fs frame called it, or the Shell frame
# itself at the bottom of a thread that Shell started).
set -euo pipefail
. "$(dirname "$0")/jvm.sh"
target="$(jvm_pid "${1:?usage: tools/forkscan.sh <pid>|bench [n]}")"
n="${2:-60}"

dir="$(mktemp -d)"
trap 'rm -rf "$dir"' EXIT
taken=0
for i in $(seq 1 "$n"); do
  if ! jstack "$target" > "$dir/$i.txt" 2>/dev/null; then
    rm -f "$dir/$i.txt"
    break  # the JVM exited
  fi
  taken=$((taken + 1))
  sleep 0.8
done
if [ "$taken" -eq 0 ]; then
  echo "forkscan: no dump of pid $target" >&2
  exit 1
fi

awk -v taken="$taken" '
  function flush() {
    if (inshell) {
      threads++; hit[cur] = 1
      chain = ""
      for (k = 1; k <= nfs && k <= 3; k++) chain = chain (k > 1 ? " <- " : "") fs[k]
      # no fs frame: a Shell stderr-reader thread, or a caller outside fs
      callers[chain == "" ? "(no fs frame) " (below == "" ? shell : below) : chain]++
    }
    inshell = 0; nfs = 0; below = ""
  }
  FNR == 1 { flush() }
  /^"/ { flush(); cur = FILENAME; next }
  /^[ \t]+at / {
    frame = $2; sub(/\(.*/, "", frame)
    if (frame ~ /^org\.apache\.hadoop\.util\.Shell/) { inshell = 1; nfs = 0; below = ""; shell = frame; next }
    if (inshell && below == "") below = frame
    if (inshell && frame ~ /^org\.apache\.hadoop\.fs\./) {
      sub(/^org\.apache\.hadoop\.fs\./, "", frame)
      if (nfs == 0 || fs[nfs] != frame) fs[++nfs] = frame  # one entry per recursion
    }
  }
  END {
    flush()
    dumps = 0; for (f in hit) dumps++
    printf "dumps: %d, with a Shell frame: %d (%.0f%%), Shell threads per dump: %.2f\n",
      taken, dumps, 100 * dumps / taken, threads / taken
    for (c in callers) printf "%6d  %s\n", callers[c], c | "sort -rn | head -10"
  }
' "$dir"/*.txt
