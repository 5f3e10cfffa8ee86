#!/bin/bash
# Heap-sized one-pass bench runner (VERDICT r11 ask #2): the full 296-query
# board must complete rc=0 in ONE process at any SF, so the JVM heap is
# sized from the input's PARQUET ROW COUNT before launch (byte stats are
# encoding-blind — see graft.Scale; the r11 sf10 board died OOM at 248/296
# on sbt's default 8 GiB and had to be stitched with a 96 GiB tail).
#
# Model, calibrated on the r11/r12 evidence: ~5 GiB per million input
# rows, floored at 16 GiB (the sf0.1 board's envelope), capped by physical
# memory (tools/heap_cap.sh) and CAPPED AT 48 GiB —
# the r12 sf10 board proved bigger heaps actively harmful (see the cap
# comment below: 104 GiB inflated object-heavy faces 2-9x via accumulated
# GC debt) while 48 GiB clears the worst collect_list ETL face with
# margin. SPARK_GRAFT_HEAP_G overrides the model for larger experiments.
#
# Usage: tools/run_bench.sh <sfDir> [onlyPrefixes] [logPrefix]
#   e.g. nohup tools/run_bench.sh /tmp/testdata_sf10 > /tmp/bench_sf10.log 2>&1 &
set -e
cd "$(dirname "$0")/.."
SFDIR="${1:?usage: run_bench.sh <sfDir> [onlyPrefixes] [logPrefix]}"
ONLY="${2:-}"
TAG="${3:-$(basename "$SFDIR")}"
CLS="target/scala-2.13/classes"

ROWS=$(python3 - "$SFDIR" <<'EOF'
import sys, glob, pyarrow.parquet as pq
total = 0
for p in glob.glob(f"{sys.argv[1]}/*.parquet"):
    try:
        total += pq.ParquetDataset(p).read(columns=[]).num_rows
    except Exception:
        for f in glob.glob(f"{p}/*.parquet"):
            total += pq.ParquetFile(f).metadata.num_rows
print(total)
EOF
)
# Cap at 48 GiB: bigger heaps are NOT safer-but-slower, they are actively
# harmful — the r12 sf10 chain leg at 104 GiB inflated every object-heavy
# face (HOF expressions, gram pipelines) 2-9x vs quiet fresh-JVM
# re-profiles (sim_ann_ivf 22.6 s on-board vs ~2.6 s solo at ANY fresh
# heap 8-104g): a long-lived huge heap accumulates GC debt across 296
# queries that System.gc() quiesce does not claw back. The OOM constraint
# runs the other way only for the collect_list ETL faces (8 GiB died
# inside transit_mongo_export at sf10); 48 GiB clears them with margin.
# SPARK_GRAFT_HEAP_G overrides for experiments.
# The model's 16 GiB floor and 48 GiB ceiling both assume a large host; the
# heap is also capped by physical memory (tools/heap_cap.sh), since a heap
# the machine cannot back swaps or gets the JVM killed instead of failing
# fast. The override is not capped.
HEAP=${SPARK_GRAFT_HEAP_G:-$(python3 -c "import math,sys; r=int(sys.argv[1]); print(max(16, min(48, math.ceil(r/1e6*5))))" "$ROWS")}
MEMCAP=$(tools/heap_cap.sh)
if [ -z "$SPARK_GRAFT_HEAP_G" ] && [ -n "$MEMCAP" ] && [ "$HEAP" -gt "$MEMCAP" ]; then
  HEAP=$MEMCAP
fi
echo "[run_bench] $SFDIR rows=$ROWS heap=${HEAP}g (physical cap ${MEMCAP:-none}g) only='$ONLY'"

AO="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

set +e
# Keep SPARK_GRAFT_ONLY unset on full runs for hygiene. (Bench.parseOnly
# now treats set-but-empty / whitespace / "," as a FULL run and writes the
# committed sidecar — the r12 silent-skip is fixed and spec-pinned by
# BenchContractSpec — so this unset is belt-and-braces, not load-bearing.)
[ -n "$ONLY" ] && export SPARK_GRAFT_ONLY="$ONLY" || unset SPARK_GRAFT_ONLY
SPARK_GRAFT_SF_DIR="$SFDIR" \
  java $AO -Xmx${HEAP}g -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC -cp "$CLS:/opt/spark/jars/*" \
    graft.Bench > "/tmp/bench_${TAG}.out" \
    2> >(grep --line-buffered '^\[bench\]' > "/tmp/bench_${TAG}.progress")
RC=$?
cp -f target/bench.json "/tmp/bench_${TAG}.json" 2>/dev/null || true
echo "[run_bench] rc=$RC wrote /tmp/bench_${TAG}.json"
exit $RC
