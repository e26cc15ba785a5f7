#!/bin/bash
# Disk-safe single-receipt runner (r17 verdict #6). The r17 sf100 ledger
# lost q167 twice and q332 once to "No space left on device": five heavy
# receipt jobs shared one spill disk, and a dying job's leaked shuffle
# files starved its successors. This runner:
#   * refuses to start under a free-disk floor (default 40 G),
#   * gives the job its OWN spark.local.dir under tmp/localdirs/,
#   * deletes that dir when the job exits (success or not),
#   * prints free disk before and after.
#
# Usage:
#   scripts/receipt_run.sh <classes_dir> <sfdir> <runs> <qfile> <xmx> \
#     <shuffle_partitions> <query...>
# Example:
#   scripts/receipt_run.sh tmp/r18/classes_snap4 tmp/sf100 1 \
#     tmp/r18/bq_sf100_q332e.json 48g 32 q332_frequent_triples_relative
# Errors append to <qfile>.err next to the receipt.
set -u
cd "$(dirname "$0")/.."
CLASSES=$1 SFDIR=$2 RUNS=$3 QFILE=$4 XMX=$5 SP=$6; shift 6
FLOOR_GB=${RECEIPT_FLOOR_GB:-40}
# The JDK module opens Spark needs outside spark-submit: one copy, the
# jdk17AddOpens block of build.sbt, read here as --add-opens flags.
OPENS=$(sed -n '/^val jdk17AddOpens = Seq(/,/^)/p' build.sbt |
  grep -o '"[^"$]*/[^"$]*"' | tr -d '"' | sed 's/.*/--add-opens &=ALL-UNNAMED/' |
  paste -sd' ')
if [ -z "$OPENS" ]; then
  echo "=== REFUSED: no jdk17AddOpens block in build.sbt ==="
  exit 2
fi
free_gb=$(df --output=avail -BG / | tail -1 | tr -dc 0-9)
echo "=== $* @ $SFDIR runs=$RUNS sp=$SP free=${free_gb}G start $(date -u +%H:%M:%S) ==="
if [ "$free_gb" -lt "$FLOOR_GB" ]; then
  echo "=== REFUSED: free disk ${free_gb}G < floor ${FLOOR_GB}G ==="
  exit 2
fi
ldir=tmp/localdirs/receipt_$$_$RANDOM
mkdir -p "$ldir"
SPARK_GRAFT_SF_DIR=$SFDIR SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
SPARK_GRAFT_BENCH_RUNS=$RUNS SPARK_GRAFT_SHUFFLE_PARTITIONS=$SP \
SPARK_GRAFT_BENCH_QFILE=$QFILE \
java $OPENS -Xmx$XMX -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -Dspark.local.dir="$ldir" \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Bench "$@" 2>>"$QFILE.err"
rc=$?
rm -rf "$ldir"
echo "=== done rc=$rc $(date -u +%H:%M:%S) ==="
df -h / | tail -1
exit $rc
