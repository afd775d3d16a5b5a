package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Documents in seeded micro-batches through three of graft's foreachBatch
  * sinks, called directly as `(batch, batchId)` functions with no streaming
  * query. An op is one micro-batch through every sink. The last batch is
  * then replayed under the same id (a `replay` op), and the round ends with
  * one `compactBatchLog` over the near-dup signature index and a read of
  * every read face.
  */
final class StreamWorkload(ctx: Main.Ctx) extends Main.Workload {
  import ctx.{spark, trace}
  private val arrivals = spark.read.parquet(s"${ctx.inputs}/arrivals.parquet")
  private val batches: Seq[Long] =
    arrivals.select("batch").distinct().collect().map(_.getLong(0)).sorted.toSeq

  /** One sink per batch-log write path: `nearDupSink` writes through
    * `Sinks.dynamicOverwrite` directly, the other two through
    * `writeBatchPartition`. */
  private def sinks(dir: String): Seq[(String, (DataFrame, Long) => Unit)] = Seq(
    "near_dup" -> Streams.nearDupSink(spark, s"$dir/near_dup/index", s"$dir/near_dup/pairs") _,
    "span_dedup" -> Streams.spanDedupSink(spark, s"$dir/span_dedup") _,
    "quality_cutoff" -> Streams.qualityCutoffSink(spark, s"$dir/quality_cutoff") _)

  private def faces(dir: String): Seq[(String, () => DataFrame)] = Seq(
    "near_dup" -> (() => spark.read.parquet(s"$dir/near_dup/pairs").drop("batch_id")),
    "span_dedup" -> (() => Streams.readSpans(spark, s"$dir/span_dedup")),
    "quality_cutoff" -> (() => Streams.readQualityKept(spark, s"$dir/quality_cutoff")))

  private def batch(b: Long): DataFrame =
    arrivals.filter(col("batch") === b).select(col("doc_id"), col("text"), col("source"))

  private def feed(dir: String, kind: String, b: Long): Unit = {
    val df = batch(b)
    ctx.op(kind, s"batch$b") {
      sinks(dir).foreach { case (name, sink) =>
        trace.span(s"streaming.sink.$name")(sink(df, b))
      }
    }
  }

  private def snapshot(dir: String): Map[String, Seq[String]] =
    faces(dir).map { case (n, f) =>
      val df = f()
      n -> df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq
    }.toMap

  /** Runs the round; with `check` the replays and the compaction are
    * verified to leave every read face row-identical. */
  private def run(dir: String, check: Boolean): Unit = {
    batches.foreach { b =>
      feed(dir, "batch", b)
      if (b == batches.last) {
        val before = if (check) snapshot(dir) else Map.empty[String, Seq[String]]
        feed(dir, "replay", b)
        if (check) {
          val after = snapshot(dir)
          val diff = before.keys.filter(k => before(k) != after(k))
          ctx.check(s"replay_batch$b", diff.isEmpty,
            s"faces changed by replay: ${diff.mkString(",")}")
        }
      }
    }
    val indexRows = if (check) spark.read.parquet(s"$dir/near_dup/index").count() else 0L
    ctx.op("compact", "near_dup_index") {
      trace.span("streaming.compact") {
        Streams.compactBatchLog(spark, s"$dir/near_dup/index", keepLast = 1)
      }
    }
    if (check) {
      val after = spark.read.parquet(s"$dir/near_dup/index").count()
      ctx.check("compaction_keeps_index_rows", after == indexRows, s"$indexRows -> $after")
    }
    ctx.op("reads", "faces") {
      faces(dir).foreach { case (n, f) => trace.span(s"streaming.read.$n")(f().count()) }
    }
  }

  def warm(): Unit = run(s"${ctx.work}/warm", check = true)

  def timed(dir: String): Unit = run(dir, check = false)
}
