package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction (beyond the reference — DataFusion reads what it
  * is given; at 100 TB ingest the small-file problem is operational
  * reality: a streaming sink or a 10k-task write leaves files far below
  * the ~128 MB row-group sweet spot, and scan planning then drowns in
  * per-file overhead).
  *
  * Sizing comes from the Hadoop FileSystem API (works on HDFS/S3A, not
  * just local disk — ADVICE r02's ArrowIpc lesson), and the rewrite uses
  * repartition(n) rather than coalesce(n): coalesce would also narrow the
  * parallelism of the READ stage to n tasks, while repartition keeps the
  * scan wide and pays one round-robin shuffle — the right trade when
  * compacting terabytes down to thousands of files.
  */
object Compaction {

  /** Total bytes + file count of the parquet files under `dir`. */
  def stats(spark: SparkSession, dir: String): (Long, Int) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.map(_.getLen).sum, files.length)
  }

  /** Rewrite `inDir` into `outDir` as ceil(totalBytes/targetFileBytes)
    * files. Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long): (Int, Int) = {
    val (totalBytes, before) = stats(spark, inDir)
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inDir).repartition(n)
      .write.mode("overwrite").parquet(outDir)
    (before, stats(spark, outDir)._2)
  }
}
