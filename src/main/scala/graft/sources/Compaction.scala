package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the lakehouse OPTIMIZE primitive. Streaming
  * ingest and fine-grained partitioning leave behind thousands of tiny
  * parquet files; at 100 TB the resulting per-file open/footer cost and
  * tiny row groups dominate scan time, so periodic row-preserving
  * re-layout into target-sized files is a first-class maintenance op.
  *
  * Scale notes:
  *  - sizing is computed from the data (one count job over footer
  *    statistics — parquet counts don't scan data pages), not guessed;
  *  - the rewrite is `repartitionByRange` on the layout key: one shuffle
  *    that simultaneously fixes file count AND restores clustering, so
  *    min/max row-group pruning on the key works again after compaction
  *    (a round-robin coalesce would fix file count but destroy locality);
  *  - AQE coalescing stays out of the way because the partition count is
  *    explicit.
  */
object Compaction {

  /** Rewrite the parquet dir at `inPath` into `ceil(n/targetRows)`
    * key-range-clustered files at `outPath`; returns the file count
    * written. `targetRows` stands in for a byte target (deterministic
    * across environments, unlike compressed byte sizes); production
    * sizing divides bytes instead — the plan shape is identical.
    */
  def compactByRows(s: SparkSession, inPath: String, outPath: String,
                    keyCol: String, targetRows: Long): Int = {
    val df = Parquet.read(s, inPath)
    val n = df.count()
    val parts = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    df.repartitionByRange(parts, col(keyCol))
      .write.mode("overwrite").parquet(outPath)
    partFileCount(outPath)
  }

  /** Number of data part-files in a parquet dir (metadata-only listing).
    * Local-filesystem listing by design (the layout fixtures live on
    * local disk); a missing or non-directory path fails with a clear
    * message instead of the bare NullPointerException `listFiles`
    * returns null for — production object-store layouts would list via
    * Hadoop `FileSystem.listStatus` with the session's configuration.
    */
  def partFileCount(path: String): Int = {
    val files = new java.io.File(path).listFiles()
    require(files != null, s"not a listable directory: $path")
    files.count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
  }
}
