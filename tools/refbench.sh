#!/bin/sh
# Throughput comparison: compiled C reference (distwc) vs this engine on
# the reference's own workload (word count over text files, djb2-
# partitioned output). Usage: tools/refbench.sh [sfDir] [replicas]
#   replicas scales the corpus (each replica = one input file).
# Prints the reference's wall seconds and the engine's job seconds.
set -e
SF=${1:-/root/testdata/sf0.1}
REP=${2:-64}
OUT=/tmp/refbench
rm -rf "$OUT"
mkdir -p "$OUT/in" "$OUT/refout"

python3 - "$SF" "$REP" "$OUT" <<'EOF'
import sys, duckdb
sf, rep, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
rows = [r[0] for r in duckdb.sql(f"SELECT text FROM '{sf}/documents.parquet'").fetchall()]
blob = "\n".join(rows) + "\n"
for i in range(rep):
    with open(f"{out}/in/in_{i:03d}.txt", "w") as f:
        f.write(blob)
print(f"corpus: {len(rows)} docs x {rep} replicas = {len(blob) * rep / 1e6:.1f} MB")
EOF

gcc -O2 -o "$OUT/distwc" /root/reference/distwc.c /root/reference/mapreduce.c \
  /root/reference/threadpool.c -lpthread

echo "--- reference (5 mapper threads, 10 reducers) ---"
cd "$OUT/refout"
T0=$(date +%s.%N)
"$OUT/distwc" "$OUT"/in/*.txt
T1=$(date +%s.%N)
echo "reference_wall_sec: $(echo "$T1 $T0" | awk '{printf "%.3f", $1-$2}')"

# local[SPARK_GRAFT_CPUS], default every core; the JSON line reports it
echo "--- graft ---"
cd /root/repo
sbt -batch \
  "runMain graft.RefBench $OUT/in $OUT/graftout" 2>&1 | grep -F '"metric"'
