#!/bin/bash
# Prints the largest JVM heap, in GiB, this machine can back with physical
# memory: MemTotal minus headroom for everything outside the heap (direct
# buffers, metaspace, code cache, the OS page cache the parquet scans lean
# on), the larger of 2 GiB and a quarter of MemTotal. Never below 1 GiB.
# Prints nothing when /proc/meminfo is unreadable, so a caller keeps its
# own model. On a 15.7 GiB (MemTotal) box this prints 12.
awk '/^MemTotal:/ {
  g = int($2 / 1048576); room = g / 4 < 2 ? 2 : int(g / 4)
  cap = g - room; print (cap < 1 ? 1 : cap) }' /proc/meminfo 2>/dev/null
