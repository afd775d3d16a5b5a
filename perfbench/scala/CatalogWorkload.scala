package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** A catalog workload: a fixed list of `SparkEntry.queries` entries over
  * the generated tables. An op is one query: the query function builds the
  * plan, then a `noop` write materialises every output column.
  *
  * The warm round writes each output as parquet, with the oracle SQL beside
  * it, for the DuckDB comparison. Traced rounds add `count()` passes after
  * the noop passes for `queries.count_gap_s`.
  */
final class CatalogWorkload(ctx: Main.Ctx) extends Main.Workload {
  import ctx.{spark, trace}
  private val names = ctx.params("queries").split(",").toSeq
  private val all = graft.SparkEntry.queries
  require(names.forall(all.contains),
    s"unknown queries: ${names.filterNot(all.contains).mkString(",")}")
  private val families = Seq(
    "core" -> graft.queries.CoreQueries.defs.keySet,
    "ext" -> graft.queries.ExtQueries.defs.keySet,
    "text" -> graft.queries.TextQueries.defs.keySet,
    "sim" -> graft.queries.SimQueries.defs.keySet)
  private def family(q: String) = families.collectFirst { case (f, ks) if ks(q) => f }.get
  private def build(q: String): DataFrame =
    trace.span("queries.build")(all(q)(spark, ctx.inputs))

  def warm(): Unit = {
    val out = s"${ctx.work}/outputs"
    Files.createDirectories(Paths.get(out))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Main.json(oracle))
    names.foreach { q =>
      ctx.op("warm", q, family(q)) {
        build(q).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      }
    }
  }

  /** Noop passes per round: each query's time is the median of these. */
  private val passes = 3

  /** `passes` noop passes, with the family caches released before every
    * pass after the first. */
  def timed(dir: String): Unit = (1 to passes).foreach { pass =>
    if (pass > 1) release()
    names.foreach { q =>
      ctx.op("query", q, family(q)) {
        val df = build(q)
        trace.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
      }
    }
  }

  /** As many `count()` passes, each after a release. */
  override def countAfter(dir: String): Unit = (1 to passes).foreach { _ =>
    release()
    trace.recording = true
    names.foreach { q =>
      ctx.op("count", q, family(q)) {
        val df = build(q)
        trace.span("queries.count")(df.count())
      }
    }
    trace.recording = false
  }

  private def release(): Unit = {
    val was = trace.recording
    trace.recording = false
    spark.catalog.clearCache()
    graft.Graft.releaseCaches()
    trace.recording = was
  }
}
