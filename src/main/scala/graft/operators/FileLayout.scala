package graft.operators

/** Output file sizing — the small-files problem is the classic 100 TB
  * self-inflicted wound: a 2000-task job writing a 10 GB result emits
  * 2000 × 5 MB files, and every downstream scan pays 2000 opens, 2000
  * footer reads, and a 2000-entry listing. The fix is always the same
  * shape: choose the partition count from the DATA SIZE, not from the
  * task count the upstream shuffle happened to have.
  *
  * [[sizedPartitions]] is that choice. The caller supplies a MEASURED
  * bytes/row rate — parquet size is compression-dependent, so a
  * schema-derived estimate (`DataType.defaultSize`) can be off by
  * 5-20× — as the streaming store's compaction does from the on-disk
  * bytes and row count of the files it rewrites.
  */
object FileLayout {

  /** Partitions so each output file lands near `targetBytes`. */
  def sizedPartitions(rowCount: Long, bytesPerRow: Double, targetBytes: Long): Int = {
    require(bytesPerRow > 0 && targetBytes > 0,
      s"positive sizes required: bytesPerRow=$bytesPerRow targetBytes=$targetBytes")
    math.max(1, math.ceil(rowCount * bytesPerRow / targetBytes)).toInt
  }
}
