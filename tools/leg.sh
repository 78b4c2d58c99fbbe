#!/usr/bin/env bash
# Dev-only bench-leg launcher: one graft.Bench sweep over <sfDir> that
# writes its per-query record to <side.json>.
#   Usage: tools/leg.sh <side.json> <sfDir> [ENV=VALUE ...]
#   e.g.   tools/leg.sh bench_sf30_buildside.json /tmp/graft_sf30 \
#            SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ATTEMPTS=1 SPARK_DRIVER_MEM=8g
# A relative <side.json> resolves under the repo root. Each ENV=VALUE is
# exported before launch (SPARK_GRAFT_CONF, SPARK_GRAFT_BENCH_ONLY,
# LEG_MIN_FREE_GB, QUIET_* ...); Spark's own confs ride on
# SPARK_GRAFT_JAVA_OPTS, e.g. a zstd leg passes
# SPARK_GRAFT_JAVA_OPTS=-Dspark.io.compression.codec=zstd. The leg runs against
# a frozen copy of target/scala-2.13/classes (unless SPARK_GRAFT_CLASSES
# names one), so a recompile cannot swap classes under a running JVM.
# Everything below, and the bench itself, logs to /tmp/leg_<side>.log.
set -euo pipefail
cd "$(dirname "$0")/.."

usage() { echo "usage: tools/leg.sh <side.json> <sfDir> [ENV=VALUE ...]" >&2; exit 2; }
[ $# -ge 2 ] || usage
side=$1 sfdir=$2
shift 2
for kv in "$@"; do
  [[ $kv =~ ^[A-Za-z_][A-Za-z0-9_]*= ]] || { echo "[leg] not ENV=VALUE: '$kv'" >&2; usage; }
  export "$kv"
done
case $side in /*) ;; *) side="$PWD/$side" ;; esac
name=$(basename "$side" .json)
export SPARK_GRAFT_SF_DIR="$sfdir" SPARK_GRAFT_BENCH_SIDE="$side"
if [ -z "${SPARK_GRAFT_CLASSES:-}" ]; then
  export SPARK_GRAFT_CLASSES="/tmp/graft_classes_$name"
  rm -rf "$SPARK_GRAFT_CLASSES"
  cp -r target/scala-2.13/classes "$SPARK_GRAFT_CLASSES"
fi
log="/tmp/leg_$name.log"
echo "[leg] $name: logging to $log" >&2
exec >"$log" 2>&1

# ENOSPC guard (r18, after the r17 sf100 loss to a 13 GB orphaned
# blockmgr dir): sweep scratch dirs no live JVM owns, then fail FAST —
# naming the biggest eaters — if /tmp headroom is below the rung's
# measured working set (LEG_MIN_FREE_GB; default 20, sf100-class legs
# set 55+: concurrent shuffle+spill there measured up to ~50 GB).
MIN_FREE_GB=${LEG_MIN_FREE_GB:-20}
if [ "$(ps -eo args | grep -c '^java .*graft')" -eq 0 ]; then
  for d in /tmp/blockmgr-* /tmp/spark-*; do
    [ -d "$d" ] || continue
    echo "[leg] sweeping orphaned scratch dir $d ($(du -sh "$d" 2>/dev/null | cut -f1))"
    rm -rf "$d"
  done
fi
FREE_GB=$(df -BG --output=avail /tmp | tail -1 | tr -dc 0-9)
if [ "$FREE_GB" -lt "$MIN_FREE_GB" ]; then
  echo "[leg] ENOSPC GUARD: /tmp has ${FREE_GB} GB free < required ${MIN_FREE_GB} GB — refusing to launch. Biggest /tmp eaters:"
  du -sm /tmp/* 2>/dev/null | sort -rn | head -8
  exit 28  # ENOSPC
fi
echo "[leg] disk guard ok: ${FREE_GB} GB free >= ${MIN_FREE_GB} GB required"

# Quiet-window wait: poll the standalone host sentinels
# (tools/host_probe.java) until two consecutive samples read quiet.
# Thresholds are this host's measured quiet baselines (spin ~68-72 ms,
# par ~74-90 ms, mem ~13-15 ms) with a small allowance; a degraded host
# parks here instead of committing a 30-120 min leg to a window that
# contaminates it. QUIET_SPIN_MS / QUIET_PAR_MS / QUIET_MEM_MS override
# the thresholds; QUIET_MAX_WAIT_S (default 1800) gives up and runs
# anyway LOUDLY (the leg still self-records its own probes).
SPIN_MAX=${QUIET_SPIN_MS:-73}
PAR_MAX=${QUIET_PAR_MS:-95}
MEM_MAX=${QUIET_MEM_MS:-16}
MAX_WAIT=${QUIET_MAX_WAIT_S:-1800}
t0=$(date +%s)
streak=0
while true; do
  line=$(java tools/host_probe.java 1)
  spin=$(sed -E 's/.*"spin_ms":([0-9.]+).*/\1/' <<<"$line")
  par=$(sed -E 's/.*"par_ms":([0-9.]+).*/\1/' <<<"$line")
  mem=$(sed -E 's/.*"mem_ms":([0-9.]+).*/\1/' <<<"$line")
  ok=$(awk -v s="$spin" -v p="$par" -v m="$mem" \
       -v S="$SPIN_MAX" -v P="$PAR_MAX" -v M="$MEM_MAX" \
       'BEGIN{print (s<=S && p<=P && m<=M) ? 1 : 0}')
  echo "[leg] $(date +%H:%M:%S) $line ok=$ok streak=$streak"
  if [ "$ok" = 1 ]; then
    streak=$((streak+1))
    [ "$streak" -ge 2 ] && break
  else
    streak=0
  fi
  if [ $(( $(date +%s) - t0 )) -ge "$MAX_WAIT" ]; then
    echo "[leg] WAIT BUDGET EXHAUSTED (${MAX_WAIT}s) — launching anyway; the leg's own probe record adjudicates"
    break
  fi
  sleep 20
done
echo "[leg] launching $name at $(date +%H:%M:%S)"
exec tools/run_bench.sh
