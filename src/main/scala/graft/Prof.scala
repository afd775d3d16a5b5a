package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only step profiler (not part of the driver contract): ad-hoc
  * decompositions of expensive catalog queries into their component jobs,
  * timed in the same session shape as Bench. Select a profile by arg.
  */
object Prof {
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"[prof] $name%-36s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.builder(s"local[$cpus]", Some(cpus.toInt))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val which = if (args.nonEmpty) args(0) else "q67"
    which match {
      case "q67" => q67(spark, sfDir)
      case "q76" => q76(spark, sfDir)
      case "q22" => q22(spark, sfDir)
      case "q75" => q75(spark, sfDir)
      case "q20" => q20(spark, sfDir)
      case other => System.err.println(s"unknown profile $other")
    }
    spark.stop()
  }

  def q22(spark: SparkSession, d: String): Unit = {
    import graft.text.{SimHash, TextFunctions => TF}
    // warm at sf0.001
    SparkEntry.queries("q22_simhash")(spark, "/root/testdata/sf0.001").count()
    Graft.releaseCaches(); spark.catalog.clearCache()
    (1 to 3).foreach { rep =>
      println(s"== rep $rep ==")
      val docs = Tables.documents(spark, d)
      val tf = graft.sources.Sources.widen(docs, col("doc_id"))
        .select(col("doc_id"), explode_outer(TF.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      time("tf build (noop)") {
        tf.write.format("noop").mode("overwrite").save() }
      val fp = SimHash.fingerprints(docs, "doc_id", "text")
      time("fingerprints build+cache") { fp.count() }
      val pairs = SimHash.nearPairs(fp, "doc_id", 3)
      time("nearPairs off cached fp") { pairs.count() }
      time("full q22 fresh (count)") {
        Graft.releaseCaches(); spark.catalog.clearCache()
        SparkEntry.queries("q22_simhash")(spark, d).count()
      }
      Graft.releaseCaches(); spark.catalog.clearCache()
    }
  }

  def q76(spark: SparkSession, d: String): Unit = {
    // warm at sf0.001
    SparkEntry.queries("q76_copurchase")(spark, "/root/testdata/sf0.001").count()
    Graft.releaseCaches(); spark.catalog.clearCache()
    (1 to 3).foreach { rep =>
      println(s"== rep $rep ==")
      val li = Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_partkey"))
      time("scan count") { li.count() }
      val wide = graft.sources.Sources.widen(li, col("l_orderkey"))
      val ps = slice(array_sort(collect_set(col("l_partkey"))), 1, 64)
      val baskets = wide.groupBy(col("l_orderkey")).agg(ps.as("_ps"))
      time("baskets (noop)") {
        baskets.write.format("noop").mode("overwrite").save() }
      val pairs = graft.ops.Baskets.pairsOfSets(baskets, "l_orderkey")
      time("pairs (noop)") {
        pairs.write.format("noop").mode("overwrite").save() }
      val counted = pairs.groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("n_baskets"))
      time("pair counts (noop)") {
        counted.write.format("noop").mode("overwrite").save() }
      time("full q76 (count)") {
        SparkEntry.queries("q76_copurchase")(spark, d).count() }
      // v_b: cut the plan at baskets (localCheckpoint) so the pair
      // expansion + count stage reads codegen-friendly input
      val ck = time("baskets localCheckpoint") { baskets.localCheckpoint() }
      val countedCk = graft.ops.Baskets.pairsOfSets(ck, "l_orderkey")
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("n_baskets"))
      time("v_b pairs+count off checkpoint") {
        countedCk.write.format("noop").mode("overwrite").save() }
      // v_c: join-based pair expansion off the checkpointed baskets
      val ex = ck.select(col("l_orderkey"), posexplode(col("_ps")).as(Seq("i", "item")))
      val cj = ex.select(col("l_orderkey"), col("i").as("ia"), col("item").as("item_a"))
        .join(ex.select(col("l_orderkey"), col("i").as("ib"), col("item").as("item_b")),
          Seq("l_orderkey"))
        .filter(col("ia") < col("ib"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("n_baskets"))
      time("v_c join pairs+count off checkpoint") {
        cj.write.format("noop").mode("overwrite").save() }
      Graft.releaseCaches(); spark.catalog.clearCache()
    }
  }

  def q20(spark: SparkSession, d: String): Unit = {
    import graft.text.MinHash
    SparkEntry.queries("q20_ngram_jaccard")(spark, "/root/testdata/sf0.001").count()
    Graft.releaseCaches(); spark.catalog.clearCache()
    (1 to 3).foreach { rep =>
      println(s"== rep $rep ==")
      val docs = Tables.documents(spark, d)
      val sh = MinHash.withShingles(docs, "doc_id", "text")
      val sig = MinHash.signature(MinHash.shingleRows(sh, "doc_id"), "doc_id", 16)
      time("signature build+cache") { sig.count() }
      val cand = MinHash.candidates(MinHash.bands(sig, "doc_id", 4, 2), "doc_id")
      time("candidates off cached sig") { cand.count() }
      val jac = MinHash.jaccard(sh, cand, "doc_id")
      time("jaccard verify (array sides)") { jac.count() }
      // alternative: intersection counted over the CACHED flat rows
      val rowsFlat = MinHash.shingleRows(sh, "doc_id")
      val alt = cand
        .join(rowsFlat.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
        .join(rowsFlat.select(col("doc_id").as("id_b"), col("shingle")),
          Seq("id_b", "shingle"), "left_semi")
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      time("alt: flat-rows intersection") { alt.count() }
      time("full q20 fresh (count)") {
        Graft.releaseCaches(); spark.catalog.clearCache()
        SparkEntry.queries("q20_ngram_jaccard")(spark, d).count()
      }
      Graft.releaseCaches(); spark.catalog.clearCache()
    }
  }

  def q75(spark: SparkSession, d: String): Unit = {
    // warm at sf0.001
    SparkEntry.queries("q75_pagerank")(spark, "/root/testdata/sf0.001").count()
    Graft.releaseCaches(); spark.catalog.clearCache()
    (1 to 3).foreach { rep =>
      println(s"== rep $rep ==")
      val edges = Tables.orders(spark, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_partkey") + lit(1000000000L)).as("dst"))
      time("edges join only (noop)") {
        edges.write.format("noop").mode("overwrite").save()
      }
      println(s"   join partitions=${edges.rdd.getNumPartitions}")
      time("edges distinct narrow (noop)") {
        edges.distinct().write.format("noop").mode("overwrite").save()
      }
      time("edges distinct widened (noop)") {
        graft.sources.Sources.widen(edges, col("src"), col("dst"))
          .distinct().write.format("noop").mode("overwrite").save()
      }
      val e0 = time("edges distinct+checkpoint (widened)") {
        graft.sources.Sources.widen(
            edges.select(col("src"), col("dst")), col("src"), col("dst"))
          .distinct().localCheckpoint()
      }
      println(s"   edges=${e0.count()}")
      val nodes = time("nodes distinct+checkpoint") {
        e0.select(col("src").as("node"))
          .union(e0.select(col("dst").as("node"))).distinct().coalesce(1)
          .localCheckpoint()
      }
      val deg = time("deg agg+checkpoint") {
        e0.coalesce(1).groupBy(col("src"))
          .agg(count(lit(1)).cast("double").as("outdeg")).localCheckpoint()
      }
      val n = nodes.count().toDouble
      var ranks = nodes.withColumn("rank", lit(1.0 / n))
      val e = e0.coalesce(1)
      time("5 composed rounds (count)") {
        (1 to 5).foreach { _ =>
          val contribs = e.join(ranks, e("src") === ranks("node"))
            .join(deg, Seq("src"))
            .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("_c"))
            .groupBy(col("node")).agg(sum(col("_c")).as("_contrib"))
          ranks = nodes.join(contribs, Seq("node"), "left")
            .select(col("node"), (lit(0.15 / n) +
              lit(0.85) * coalesce(col("_contrib"), lit(0.0))).as("rank"))
        }
        ranks.count()
      }
      time("full q75 fresh (count)") {
        SparkEntry.queries("q75_pagerank")(spark, d).count()
      }
      Graft.releaseCaches(); spark.catalog.clearCache()
    }
  }

  def q67(spark: SparkSession, d: String): Unit = {
    import graft.text.{MinHash, TextFunctions}
    val id = "doc_id"
    // warm at sf0.001
    SparkEntry.queries("q67_containment")(spark, "/root/testdata/sf0.001").count()
    Graft.releaseCaches(); spark.catalog.clearCache()
    (1 to 2).foreach { rep =>
      println(s"== rep $rep ==")
      val docs = Tables.documents(spark, d)
      time("docs.count") { docs.count() }
      val sh = MinHash.withShingles(docs, id, "text")
      time("withShingles count") { sh.count() }
      val ex = sh.select(col(id), explode(col("shingles")).as("_s"))
      val nex = time("explode count") { ex.count() }
      println(s"   exploded rows=$nex")
      time("explode+hash60 count (no cache)") {
        ex.select(col(id), TextFunctions.hash60(col("_s")).as("h")).count() }
      val rows = MinHash.shingleRows(MinHash.withShingles(docs, id, "text"), id)
        .select(col(id), TextFunctions.hash60(col("shingle")).as("h"))
        .cache()
      time("rows build+cache (count)") { rows.count() }
      time("rows cached re-count") { rows.count() }
      val dfh = rows.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val vocab = time("vocab = dfh.count") { dfh.count() }
      val nDocs = time("nDocs distinct count") { rows.select(col(id)).distinct().count() }
      println(s"   vocab=$vocab nDocs=$nDocs")
      val words = ((vocab + 63) / 64).toInt
      val ranks = rows.select(col("h")).distinct()
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("h"))) - 1)
      val bits = rows.join(ranks, Seq("h"))
        .groupBy(col(id))
        .agg(collect_list(col("r")).as("_rs"), count(lit(1)).as("n"))
        .select(col(id), col("n"),
          call_function("graft_bitset", col("_rs"), lit(words)).as("bits"))
      time("bits build (count)") { bits.count() }
      val a = bits.select(col(id).as("id_a"), col("n").as("_na"), col("bits").as("_ba"))
      val b = bits.select(col(id).as("id_b"), col("bits").as("_bb"))
      val pairs = a.crossJoin(broadcast(b))
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("containment",
          call_function("graft_bitand_count", col("_ba"), col("_bb")) * lit(1.0) / col("_na"))
        .filter(col("containment") >= 0.8)
      time("crossJoin+popcount (count)") { pairs.count() }
      time("full q67 fresh (count)") {
        Graft.releaseCaches(); spark.catalog.clearCache()
        SparkEntry.queries("q67_containment")(spark, d).count()
      }
      Graft.releaseCaches(); spark.catalog.clearCache()
    }
  }
}
