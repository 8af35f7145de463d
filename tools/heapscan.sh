#!/bin/bash
# One live-heap histogram of a JVM (`jmap -histo:live`, which runs a full GC
# first), summarised.
# Usage:
#   tools/heapscan.sh <pid> [n]     JVM <pid>, top n classes (default 15)
#   tools/heapscan.sh bench [n]     the same for the running `java ... perfbench.Main`
# Prints the live total, the top n classes by bytes, the bytes held in long[]
# (Spark's Tungsten pages, such as a BytesToBytesMap's, are long[]) and the
# number of live BytesToBytesMap instances.
set -euo pipefail
. "$(dirname "$0")/jvm.sh"
target="$(jvm_pid "${1:?usage: tools/heapscan.sh <pid>|bench [n]}")"
n="${2:-15}"

histo="$(jmap -histo:live "$target")"
awk -v n="$n" '
  # data rows: " rank:  instances  bytes  class [module]"
  $1 ~ /^[0-9]+:$/ {
    rows++
    if (rows <= n) top[rows] = sprintf("%10.1f MB %10d  %s", $3 / 1048576, $2, $4)
    if ($4 == "[J") longs += $3
    if ($4 == "org.apache.spark.unsafe.map.BytesToBytesMap") maps += $2
  }
  $1 == "Total" { total = $3 }
  END {
    printf "live: %.1f MB, long[]: %.1f MB, BytesToBytesMap instances: %d\n",
      total / 1048576, longs / 1048576, maps
    print "     bytes  instances  class"
    for (i = 1; i <= rows && i <= n; i++) print top[i]
  }
' <<< "$histo"
