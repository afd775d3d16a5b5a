package graftbench

/** The text layer used both ways: the catalog's per-row corpus kernels in
  * one shot ([[CatalogWorkload]]), then the streaming sinks incrementally
  * against growing state ([[StreamWorkload]]), in every round. */
final class CorpusWorkload(ctx: Main.Ctx) extends Main.Workload {
  private val catalog = new CatalogWorkload(ctx)
  private val stream = new StreamWorkload(ctx)

  def warm(): Unit = { catalog.warm(); stream.warm() }

  def timed(dir: String): Unit = { catalog.timed(dir); stream.timed(dir) }

  override def countAfter(dir: String): Unit = catalog.countAfter(dir)
}
