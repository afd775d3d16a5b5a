package graft.streaming

import scala.concurrent.duration._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** A `batch_id`-partitioned parquet log at `dir` — the one definition of
  * the `dir/batch_id=<n>` layout every foreachBatch sink in [[Streams]]
  * keeps its state and outputs in. Micro-batch `n` owns partition
  * `batch_id=<n>`, so a retry REPLACES its own rows instead of appending
  * duplicates; compacted history lives in [[BatchLog.BaseBatchId]].
  *
  * Replay contract: Structured Streaming only ever replays the LAST
  * uncommitted micro-batch, so excluding the current id ([[prior]]) is
  * what makes a retry see exactly the state its first attempt saw.
  */
final case class BatchLog(dir: String) {
  import BatchLog._

  private def fs(spark: SparkSession): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The only write: tag `df` with `batch_id` and dynamic-overwrite that
    * partition. Dynamic overwrite of an EMPTY frame writes no partition,
    * so a replay whose recomputation is empty would leave the failed
    * attempt's rows readable, and an empty first batch would leave a
    * file-less directory schema inference cannot read. The row count rides
    * the write job as an `observe()` metric (no extra Spark job); when it
    * is 0 the stale `batch_id=<n>` partition is deleted, and a log left
    * with no partitions is removed — absent, never unreadable.
    *
    * Returns the number of rows written.
    */
  def write(df: DataFrame, batchId: Long): Long = {
    val tagged = df.withColumn("batch_id", lit(batchId))
    val obs = Observation()
    graft.sources.Sinks.dynamicOverwrite(
      tagged.observe(obs, count(lit(1)).as("n")), dir, Seq("batch_id"))
    val n = graft.Observations.getWithin(obs, 10.seconds)
      .fold(tagged.count())(_("n").asInstanceOf[Long])
    if (n == 0) {
      val f = fs(df.sparkSession)
      f.delete(new Path(s"$dir/batch_id=$batchId"), true)
      val root = new Path(dir)
      if (f.isDirectory(root) && f.listStatus(root).forall(s => isHidden(s.getPath.getName)))
        f.delete(root, true)
    }
    n
  }

  /** Batch ids with a partition on disk — a directory listing, no Spark job. */
  def batchIds(spark: SparkSession): Seq[Long] = {
    val root = new Path(dir)
    val f = fs(spark)
    if (!f.isDirectory(root)) Nil
    else f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case Partition(id) => id.toLong }
  }

  /** The state every OTHER batch left, without `batch_id`; `None` when no
    * other batch has a partition (absent log, or only this batch's). The
    * exclusion drops whatever a half-finished attempt of THIS batch
    * already landed (a near-dup replay would otherwise pair the batch with
    * its own signatures). Corrupt files fail, and a log without the
    * batch_id partition column (legacy layout) fails named instead of
    * reading as empty.
    */
  def prior(spark: SparkSession, batchId: Long): Option[DataFrame] = {
    val ids = batchIds(spark)
    if (ids.exists(_ != batchId) || (ids.isEmpty && fs(spark).exists(new Path(dir)))) {
      val df = spark.read.parquet(dir)
      require(df.columns.contains("batch_id"),
        s"batch log at $dir lacks the batch_id partition column (legacy layout) " +
          "— migrate it into batch_id=<n> partitions before streaming resumes")
      Some(df.filter(col("batch_id") =!= batchId).drop("batch_id"))
    } else None
  }

  /** Rows of the newest batch before `batchId` — latest-wins state, such
    * as an open sequence carried to the next batch. */
  def latestBefore(spark: SparkSession, batchId: Long): Option[DataFrame] =
    batchIds(spark).filter(_ < batchId).maxOption
      .map(b => spark.read.parquet(s"$dir/batch_id=$b"))

  /** Every batch's rows, without `batch_id`. */
  def read(spark: SparkSession): DataFrame = spark.read.parquet(dir).drop("batch_id")

  /** [[read]], or `None` while the log is absent — for logs a stream may
    * legitimately not have written yet. */
  def readIfExists(spark: SparkSession): Option[DataFrame] =
    graft.sources.Sources.parquetIfExists(spark, dir).map(_.drop("batch_id"))

  /** Fold every partition EXCEPT the newest `keepLast` real batches into
    * the single base partition ([[BaseBatchId]]), leaving read cost
    * bounded by keepLast + 1 partitions instead of growing with total
    * batch count — the one unbounded term in the log-structured streaming
    * story.
    *
    * `merge` re-aggregates the folded rows (identity for row logs like
    * signature indexes; a groupBy re-sum for partial-aggregate logs).
    *
    * Replay safety: `keepLast >= 1` keeps the only partition a replay can
    * touch un-folded, so the replay overwrites its own partition exactly
    * as before compaction. The rewrite itself is one atomic
    * whole-directory swap ([[graft.sources.Sinks.overwriteAtomic]]): the
    * folded base + kept partitions are fully written to a temp dir
    * (reading the live one) before the rename — a crash mid-compaction
    * leaves the uncompacted log intact.
    *
    * Returns true when a fold happened, false when there was nothing to
    * compact.
    */
  def compact(spark: SparkSession, keepLast: Int,
      merge: DataFrame => DataFrame = identity): Boolean = {
    require(keepLast >= 1,
      s"keepLast must cover the micro-batch replay window (>= 1), got $keepLast")
    val ids = batchIds(spark)
    val foldable = ids.filter(_ != BaseBatchId).sorted.dropRight(keepLast)
    if (foldable.isEmpty) return false
    val keepIds = ids.filter(i => i != BaseBatchId && !foldable.contains(i))
    // Partition-value inference may type batch_id int; normalize to long.
    val df = spark.read.parquet(dir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val folded = merge(
      df.filter(col("batch_id") === BaseBatchId ||
        col("batch_id").isin(foldable: _*)).drop("batch_id"))
      .withColumn("batch_id", lit(BaseBatchId))
    val kept = df.filter(col("batch_id").isin(keepIds: _*))
    graft.sources.Sinks.overwriteAtomic(
      folded.unionByName(kept), dir, Seq("batch_id"))
    true
  }
}

object BatchLog {

  /** Reserved batch_id for compacted/base partitions — real micro-batch
    * ids are Spark-assigned and non-negative, so the base never collides
    * with (or is overwritten by) a replayed batch.
    */
  val BaseBatchId: Long = -1L

  private val Partition = """batch_id=(-?\d+)""".r

  /** Spark's own rule for files a parquet read skips (`_SUCCESS`, `.crc`). */
  private def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")
}
