# Sourced by the JVM probes in tools/ (forkscan.sh, heapscan.sh).
# jvm_pid <pid>|bench: prints <pid> as given, or for `bench` the pid of the
# one running perfbench JVM, found as the java process whose argument list
# holds the main class `perfbench.Main` itself (the calling shell's command
# line only mentions it inside one argument). Fails unless exactly one
# such JVM runs.
jvm_pid() {
  if [ "$1" != bench ]; then
    echo "$1"
    return
  fi
  local pids=() p
  for p in $(pgrep -x java || true); do
    if tr '\0' '\n' < "/proc/$p/cmdline" 2>/dev/null | grep -qx 'perfbench.Main'; then
      pids+=("$p")
    fi
  done
  if [ "${#pids[@]}" -ne 1 ]; then
    echo "${0##*/}: expected one perfbench.Main JVM, found ${#pids[@]}" >&2
    return 1
  fi
  echo "${pids[0]}"
}
