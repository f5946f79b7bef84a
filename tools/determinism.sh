#!/bin/bash
# Cross-parallelism determinism check: every declared query must produce
# IDENTICAL rows at different core counts (plan changes, shuffle layouts
# and partial-agg orders must not leak into results).
#
# Usage: tools/determinism.sh [sfDir] [key1,key2,...]
# With a key list, only those queries run (at both core counts). Both
# output directories are cleared first, so no query left over from an
# earlier run is compared.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
KEYS=${2:-}
rm -rf /tmp/det_vout4 /tmp/det_vout16
SPARK_GRAFT_CPUS=4 sbt -batch "runMain graft.Verify $SF /tmp/det_vout4 $KEYS" > /tmp/det4.log 2>&1
SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify $SF /tmp/det_vout16 $KEYS" > /tmp/det16.log 2>&1
python3 - <<'EOF'
import duckdb, os, sys
con = duckdb.connect()
names = sorted(d for d in os.listdir('/tmp/det_vout4') if os.path.isdir(f'/tmp/det_vout4/{d}'))
diff = []
for n in names:
    a = con.execute(f"SELECT * FROM read_parquet('/tmp/det_vout4/{n}/*.parquet')").fetchall()
    b = con.execute(f"SELECT * FROM read_parquet('/tmp/det_vout16/{n}/*.parquet')").fetchall()
    if sorted(map(str, a)) != sorted(map(str, b)):
        diff.append(n)
print(f"{len(names)} queries compared; parallelism-sensitive: {diff or 'NONE'}")
sys.exit(1 if diff else 0)
EOF
