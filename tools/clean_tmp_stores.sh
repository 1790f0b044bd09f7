#!/bin/bash
# Reclaim /tmp served-artifact stores (r14; r13 verdict "What's wrong" #2).
#
# Served stores live at /tmp/graft_<family>/<applicationId>/<corpus-md5>
# (graft.sources.Served); a fresh session always rebuilds its own keys,
# so any store older than MAX_AGE_HOURS belongs to a dead session and is
# pure accumulation (1.2 GB/round measured in r13). The bench
# artifact's tmp_store_bytes line tracks growth; this script reclaims it.
#
# Usage: tools/clean_tmp_stores.sh [max_age_hours]   (default 24)
set -e
MAX_AGE_H="${1:-24}"
MAX_AGE_MIN=$((MAX_AGE_H * 60))
total_before=$(du -sb /tmp/graft_* 2>/dev/null | awk '{s+=$1} END {print s+0}')
# depth 2 = the per-application dirs under each family root
find /tmp -maxdepth 1 -type d -name 'graft_*' 2>/dev/null | while read -r root; do
  find "$root" -mindepth 1 -maxdepth 1 -type d -mmin "+$MAX_AGE_MIN" \
    -exec rm -rf {} + 2>/dev/null || true
  # drop now-empty family roots
  rmdir "$root" 2>/dev/null || true
done
total_after=$(du -sb /tmp/graft_* 2>/dev/null | awk '{s+=$1} END {print s+0}')
echo "tmp graft stores: $total_before -> $total_after bytes (reclaimed $((total_before - total_after)))"
