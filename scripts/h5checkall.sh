#!/bin/sh
# Cross-check every committed modern-layout HDF5 fixture with the
# independent pure-Python decoder (scripts/h5check_latest.py): decodes
# all data columns through each chunk-index / link / attribute storage
# flavor and compares values against the source parquet table. Repeat
# factors must match the h5make.py invocation recorded in FIXTURES.md.
# Then export a table through the Scala writer and decode it with the
# classic-layout decoder (scripts/h5check.py).
# Usage: scripts/h5checkall.sh [nation.parquet] [lineitem.parquet]
set -e
cd "$(dirname "$0")/.."
N=${1:-/root/testdata/sf0.001/nation.parquet}
R=src/test/resources
python3 scripts/h5check_latest.py $R/nation_latest.hdf5   $N 1
python3 scripts/h5check_latest.py $R/nation_paged.hdf5    $N 1
python3 scripts/h5check_latest.py $R/nation_dense.hdf5    $N 1
python3 scripts/h5check_latest.py $R/nation_ea.hdf5       $N 1
python3 scripts/h5check_latest.py $R/nation_ea_sblk.hdf5  $N 60
python3 scripts/h5check_latest.py $R/nation_bt2.hdf5      $N 1
python3 scripts/h5check_latest.py $R/nation_edgeraw.hdf5  $N 1
python3 scripts/h5check_latest.py $R/nation_ea_paged.hdf5 $N 21
python3 scripts/h5check_latest.py $R/nation_dattr.hdf5    $N 1
# classic-layout vlen strings go through the classic checker, which
# dereferences the GCOL global heap
python3 scripts/h5check.py        $R/nation_vlen.hdf5     $N
echo "all modern-layout fixtures cross-checked"
# classic layout: the Scala WRITER, cross-checked by the independent
# classic reader. graft.ExportOne exports a lineitem table twice —
# chunked at 64 rows (many interleaved chunks per column, shuffle +
# deflate) and contiguous (`plain`) — and h5check.py decodes each and
# compares every column against the parquet. Needs sbt on the PATH.
L=${2:-$(dirname "$N")/../sf0.01/lineitem.parquet}
T=$(mktemp -d)
trap 'rm -rf "$T"' EXIT
sbt --batch -Dsbt.log.noformat=true \
  "runMain graft.ExportOne $L $T/chunked.hdf5" \
  "runMain graft.ExportOne $L $T/plain.hdf5 plain" >"$T/sbt.log" 2>&1 ||
  { tail -20 "$T/sbt.log"; exit 1; }
python3 scripts/h5check.py "$T/chunked.hdf5" "$L"
python3 scripts/h5check.py "$T/plain.hdf5"   "$L"
echo "Scala writer cross-checked in both classic layouts"
