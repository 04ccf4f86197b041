package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the standing maintenance op of any streaming or
  * multi-file ingest (this engine's landing stream writes one file per
  * input, and the zip extractor's `singleFile=false` mode one file per
  * byte-sized task, which for small archives at 100 TB is still many
  * files): rewrite a parquet dataset into files of roughly `targetBytes`
  * so downstream scans open thousands, not millions, of files at 100 TB.
  *
  * The target file count comes from the filesystem LISTING (no data scan);
  * the single data pass is a round-robin repartition — no key, so no skew
  * — straight into the writer.
  */
object Compaction {

  /** On-disk byte size of a dataset directory — RECURSIVE (content
    * summary), so nested layouts (partitioned datasets, multi-level
    * ingest dirs) size correctly instead of collapsing to zero. */
  def datasetBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** Compact `inDir` into `outDir` targeting ~`targetBytes` per output
    * file. Returns the number of files written. NOTE: reads the dataset as
    * one relation — for a `partitionBy` layout whose partition columns must
    * survive, run compact per partition directory (or re-partitionBy on the
    * write); compacting the root flattens partition columns into the data. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 512L << 20): Int = {
    val bytes = datasetBytes(spark, inDir)
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .repartition(n)
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(outDir)
    n
  }
}
