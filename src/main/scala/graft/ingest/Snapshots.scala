package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets.UTF_8

/** Snapshot isolation + time travel over the Parquet block layout — the
  * table-format core the reference's name points at but its code never
  * grew (/root/reference has no manifest, versioning, or commit protocol;
  * blocks become visible the moment the storage adapter writes them,
  * blockManager.go:84-114).
  *
  * Design, scaled down from the Iceberg/Delta idea to what the layout
  * needs:
  *  - data files land under `<base>/data/b_<uuid>/` — INVISIBLE until a
  *    manifest references them, so a failed job leaves garbage, never a
  *    torn table;
  *  - a manifest `_snapshots/vNNNNNNNN.manifest` is one header line
  *    (version, parent, mode) plus the BASE-RELATIVE path of every live
  *    file — the complete state of that version, no chain-walking at read
  *    time. Relative paths make the whole tree RELOCATABLE (rename/copy
  *    the base dir and every snapshot still reads — Delta's choice, vs
  *    Iceberg's absolute URIs which need a rewrite tool to move a table);
  *    absolute lines from older manifests still resolve for back-compat;
  *  - commits serialize the metadata write (resolve parent → compose file
  *    list → atomic manifest move) under a lock file with stale-holder
  *    takeover — the local-FS stand-in for Iceberg's metadata-pointer
  *    CAS; data-file writes stay fully parallel outside the lock;
  *  - readers list manifests and `spark.read.parquet(files…)` — time
  *    travel is "read an older manifest", incremental consumption is a
  *    file-list diff, and snapshot isolation falls out because appends
  *    and overwrites only ever ADD data files;
  *  - row-level deletes live beside the data: a deletion vector's
  *    (file, position) coordinates under `data/dv_<uuid>/` (manifest lines
  *    `dv:`), an equality delete's key tuples under `data/eq_<uuid>/`
  *    (`eq:`). Each such dir holds a `_refs.txt` sidecar naming the data
  *    files it references (rel keys), written before the commit publishes,
  *    so a read finds its dirty files from metadata and builds its plan
  *    without a Spark job; vectors without one (older tables) mark every
  *    live file dirty.
  *
  * Scale notes: a manifest holds file paths only (a 100 TB table at 1 GB
  * files ≈ 10⁵ lines, single-digit MB); the read path hands Spark an
  * explicit file list, so planning cost is listing one manifest instead
  * of a recursive directory walk over the whole table. Footer-stats
  * pruning still applies per file when `sortCols` clusters the data.
  */
object Snapshots
    extends SnapshotMetaOps
    with SnapshotSchemaOps
    with SnapshotCommitOps
    with SnapshotDeleteOps
    with SnapshotLineageOps
    with SnapshotDvScanOps
    with SnapshotReadOps
    with SnapshotRefOps
