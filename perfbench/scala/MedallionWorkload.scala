package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Cdm, Quality, Star}
import graft.pipeline.{Medallion, Runner}
import graft.sources.VersionedTable

/** The reference's medallion job over two banks' landing drops: a full
  * load (drop 0) then incremental drops, each one op.
  *
  * Per drop: metadata-driven ingest (`Runner.run` over load_config.csv,
  * incremental on `ingest_ts`), silver through `Medallion.runVersioned`
  * (SCD2 on `VersionedTable`) for customers, accounts and transactions,
  * gold dims as a full refresh of current clean silver rows (`Star.dim` then
  * `VersionedTable.overwrite`), and the gold fact through the transactions'
  * `feedInto` hop with `Medallion.goldFact` enrichment
  * transaction -> account -> customer. Audit rows come from `Runner`.
  */
final class MedallionWorkload(ctx: Main.Ctx) extends Main.Workload {
  import ctx.{spark, trace}
  private val VT = VersionedTable
  private val landing = s"${ctx.inputs}/landing"
  private val config = s"${ctx.inputs}/load_config.csv"
  private val Day = 86400000L
  private val epoch = 1704067200000L // 2024-01-01T00:00Z, the generator's drop 0
  private def ingestTs(b: Int) = new Timestamp(epoch + b * Day)

  private final case class Table(name: String, keys: Seq[String], attrs: Seq[String],
      cdm: DataFrame => DataFrame, rules: Seq[Quality.Rule])

  private val customers = Table("customers", Seq("customer_key"),
    Seq("customer_name", "segment", "acctbal", "is_quarantined"),
    df => df.select(
      Cdm.sourceKey(col("c_custkey"), col("source_system")).as("customer_key"),
      trim(col("c_name")).as("customer_name"),
      Cdm.normUpper(col("c_mktsegment")).as("segment"),
      round(col("c_acctbal"), 2).as("acctbal"),
      col("ingest_ts")),
    Seq(Quality.Rule("blank_name", Quality.nullOrBlank(col("customer_name")))))
  private val accounts = Table("accounts", Seq("account_key"),
    Seq("customer_key", "status", "credit_limit", "is_quarantined"),
    df => df.select(
      Cdm.sourceKey(col("a_accountkey"), col("source_system")).as("account_key"),
      Cdm.sourceKey(col("a_custkey"), col("source_system")).as("customer_key"),
      Cdm.normUpper(col("a_status")).as("status"),
      round(col("a_limit"), 2).as("credit_limit"),
      col("ingest_ts")),
    Seq(Quality.Rule("no_owner", col("customer_key").isNull)))
  private val transactions = Table("transactions", Seq("txn_key"),
    Seq("account_key", "amount", "txn_ts", "is_quarantined"),
    df => df.select(
      Cdm.sourceKey(col("t_txnkey"), col("source_system")).as("txn_key"),
      Cdm.sourceKey(col("t_accountkey"), col("source_system")).as("account_key"),
      round(col("t_amount"), 2).as("amount"),
      col("t_ts").as("txn_ts"),
      col("ingest_ts")),
    Seq(Quality.Rule("bad_amount", col("amount").isNull || col("amount") <= 0)))
  private val tables = Seq(customers, accounts, transactions)
  private val recency = Seq(col("ingest_ts").desc)
  private val banks = Seq("bank_a", "bank_b")

  /** Landed drops 0..b of one bank's table, as Runner's source. */
  private def source(upTo: Int)(qualified: String): DataFrame = {
    val Array(bank, table) = qualified.split('.')
    spark.read.parquet((0 to upTo).map(d => f"$landing/$bank/$table/drop=$d%03d.parquet"): _*)
  }

  private def silverOf(dir: String, t: Table) = s"$dir/silver/${t.name}"
  private def dimOf(dir: String, t: Table) = s"$dir/gold/dim_${t.name}"

  /** Ensure-table DDL: empty silver, change-log, dim and fact tables. */
  private def createTables(dir: String): Unit = trace.span("sources.create") {
    tables.foreach { t =>
      val empty = Quality.quarantine(t.cdm(stage(dir, t, 0).limit(0)), t.rules)
        .select((t.keys ++ t.attrs).map(col): _*)
        .withColumn("valid_from", lit(null).cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true))
      VT.create(empty, silverOf(dir, t))
      VT.create(empty, s"$dir/gold/${t.name}_changes")
    }
    VT.create(dimCustomer(lit(null).cast("timestamp"))(
      customers.cdm(stage(dir, customers, 0).limit(0))), dimOf(dir, customers))
    VT.create(dimAccount(lit(null).cast("timestamp"))(
      accounts.cdm(stage(dir, accounts, 0).limit(0))), dimOf(dir, accounts))
    createFact(dir)
  }

  private def dimCustomer(at: Column)(df: DataFrame): DataFrame =
    df.select(col("customer_key"), col("customer_name"), col("segment"), col("acctbal"))
      .withColumn("refreshed_at", at)
  private def dimAccount(at: Column)(df: DataFrame): DataFrame =
    df.select(col("account_key"), col("customer_key"), col("status"), col("credit_limit"))
      .withColumn("refreshed_at", at)

  /** This drop's bronze rows of one table from both banks, CDM-ready. */
  private def stage(dir: String, t: Table, b: Int): DataFrame =
    banks.map(bank => spark.read.parquet(s"$dir/bronze/$bank.${t.name}")
        .filter(col("ingest_ts") === lit(ingestTs(b)))
        .withColumn("source_system", lit(bank)))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  private def runDrop(dir: String, b: Int): Unit = {
    val loads = trace.span("pipeline.ingest") {
      Runner.run(spark, config, s"$dir/bronze", s"$dir/audit", f"drop$b%03d",
        source(b), parallelism = ctx.cores)
    }
    loads.filter(_.status != "succeeded").foreach(l => sys.error(s"load failed: ${l.table}"))
    if (trace.recording) ctx.counters("pipeline.rows_ingested") =
      ctx.counters.getOrElse("pipeline.rows_ingested", 0L).asInstanceOf[Long] + loads.map(_.rows).sum
    if (b == 0) createTables(dir)
    val asOf = lit(new Timestamp(epoch + b * Day + Day / 2))
    def silver(t: Table, goldTable: String, goldTransform: DataFrame => DataFrame) =
      trace.span("pipeline.medallion") {
        Medallion.runVersioned(spark, Seq(stage(dir, t, b)), t.cdm, t.rules, t.keys,
          recency, t.attrs, silverOf(dir, t), goldTable,
          goldTransform, asOf, app = "medallion", batch = b)
      }
    def refreshDim(t: Table, shape: DataFrame => DataFrame): Unit =
      trace.span("ops.star_dim") {
        VT.overwrite(shape(Star.dim(VT.read(spark, silverOf(dir, t)), asOf)), dimOf(dir, t))
      }
    silver(customers, s"$dir/gold/customers_changes", identity)
    refreshDim(customers, dimCustomer(asOf))
    silver(accounts, s"$dir/gold/accounts_changes", identity)
    refreshDim(accounts, dimAccount(asOf))
    silver(transactions, s"$dir/gold/fact_transaction", changes =>
      Medallion.goldFact(changes.filter(col("is_current")), Seq(
        (VT.read(spark, dimOf(dir, accounts)), col("account_key") === col("d_account_key"),
          Seq(col("account_key").as("d_account_key"), col("customer_key"))),
        (VT.read(spark, dimOf(dir, customers)), col("customer_key") === col("d_customer_key"),
          Seq(col("customer_key").as("d_customer_key"), col("segment").as("customer_segment")))),
        asOf)
        .select(col("txn_key"), col("account_key"), col("customer_key"),
          col("customer_segment"), col("amount"), col("txn_ts"), col("refreshed_at")))
  }

  /** The fact table's schema is the enrichment's output schema. */
  private def createFact(dir: String): Unit = {
    val fact = s"$dir/gold/fact_transaction"
    if (!VT.exists(spark, fact)) {
      val empty = VT.read(spark, silverOf(dir, transactions)).limit(0)
        .join(VT.read(spark, dimOf(dir, accounts)).select(col("account_key").as("d_account_key"),
          col("customer_key")), col("account_key") === col("d_account_key"), "left")
        .join(VT.read(spark, dimOf(dir, customers)).select(col("customer_key").as("d_customer_key"),
          col("segment").as("customer_segment")), col("customer_key") === col("d_customer_key"), "left")
        .withColumn("refreshed_at", lit(null).cast("timestamp"))
        .select(col("txn_key"), col("account_key"), col("customer_key"),
          col("customer_segment"), col("amount"), col("txn_ts"), col("refreshed_at"))
      VT.create(empty, fact)
    }
  }

  /** Tables live in one directory for the whole run: the warm round
    * bootstraps them, each timed round lands the next drop. */
  private val dir = s"${ctx.work}/state"
  private val drops = new java.io.File(s"$landing/bank_a/customers").list().length
  private var next = 0

  private def land(n: Int, kind: Int => String): Unit =
    (next until math.min(drops, next + n)).foreach { b =>
      ctx.op(kind(b), f"drop$b%03d")(runDrop(dir, b))
      next = b + 1
      if (trace.recording) {
        val t0 = System.nanoTime()
        tables.foreach(t => VT.snapshotAt(spark, silverOf(dir, t)))
        ctx.counters.getOrElseUpdate("sources.snapshot_ns",
          collection.mutable.ArrayBuffer[Long]())
          .asInstanceOf[collection.mutable.ArrayBuffer[Long]] += System.nanoTime() - t0
      }
    }

  /** Full load plus the first incremental drop, then the checks. */
  def warm(): Unit = {
    land(2, b => if (b == 0) "full_load" else "batch")
    checks(next - 1)
  }

  def timed(roundDir: String): Unit = land(1, _ => "batch")

  override def more: Boolean = next < drops

  /** State counters of the tables at the end of a traced round. */
  override def countAfter(roundDir: String): Unit = {
    val c = ctx.counters
    val audit = spark.read.parquet(s"$dir/audit")
    c("meta.audit_rows") = audit.count()
    c("pipeline.load_failures") = audit.filter(col("status") === "failed").count()
    val silver = tables.map(t => VT.read(spark, silverOf(dir, t)))
    c("ops.scd2_expired") = silver.map(_.filter(!col("is_current")).count()).sum
    c("ops.scd2_inserted") = silver.map(_.count()).sum
    // the last drop's staged rows as Medallion.silver shapes them:
    // flagged by Quality.quarantine, then collapsed by Dedup.latestPerKey
    val b = next - 1
    val staged = tables.map { t =>
      val in = stage(dir, t, b)
      (in.count(), Medallion.silver(Seq(in), t.cdm, t.rules, t.keys, recency)
        .agg(count(lit(1)), count(when(col("is_quarantined"), 1))).head())
    }
    c("ops.quarantined_rows") = staged.map(_._2.getLong(1)).sum
    c("ops.dedup_dropped_rows") = staged.map { case (n, r) => n - r.getLong(0) }.sum
    val vts = tables.map(silverOf(dir, _)) ++
      Seq("customers_changes", "accounts_changes", "fact_transaction", "dim_customers",
        "dim_accounts").map(n => s"$dir/gold/$n")
    val history = vts.map(t => VT.history(spark, t).collect())
    c("sources.commits") = history.map(_.length.toLong).sum
    c("sources.files_added") = history.flatten.map(_.getAs[Number]("n_adds").longValue).sum
    c("sources.files_removed") = history.flatten.map(_.getAs[Number]("n_removes").longValue).sum
    c("sources.live_files") = vts.map(t => VT.snapshotAt(spark, t).files.size.toLong).sum
  }

  /** Output checks on the warm round's tables: self-consistency here, and
    * the per-drop SCD2 and fact counts for checks.py to hold against the
    * generator's manifest. */
  private def checks(last: Int): Unit = {
    tables.foreach { t =>
      val s = VT.read(spark, silverOf(dir, t))
      val bad = s.groupBy(t.keys.map(col): _*)
        .agg(sum(when(col("is_current"), 1).otherwise(0)).as("cur"))
        .filter(col("cur") =!= 1).count()
      ctx.check(s"silver_${t.name}_one_current_per_key", bad == 0, s"$bad keys")
      // per drop: rows expired at, and inserted at, that drop's asOf
      val perDrop = (0 to last).map { b =>
        val at = new Timestamp(epoch + b * Day + Day / 2)
        Seq(s.filter(col("valid_to") === lit(at)).count(),
          s.filter(col("valid_from") === lit(at)).count())
      }
      ctx.counters(s"check.scd2.${t.name}") = perDrop
    }
    Seq(customers -> "customer_key", accounts -> "account_key").foreach { case (t, k) =>
      val d = VT.read(spark, dimOf(dir, t))
      val (n, distinctN) = (d.count(), d.select(k).distinct().count())
      val current = VT.read(spark, silverOf(dir, t)).filter(col("is_current")).count()
      ctx.check(s"dim_${t.name}_unique_keys", n == distinctN && n == current,
        s"rows $n distinct $distinctN current-clean silver $current")
    }
    val fact = VT.read(spark, s"$dir/gold/fact_transaction")
    ctx.counters("check.fact_rows") = fact.count()
    ctx.counters("check.fact_distinct_txn") = fact.select("txn_key").distinct().count()
    ctx.counters("check.fact_null_customer") = fact.filter(col("customer_key").isNull).count()
    val latest = graft.meta.Audit.latestCompletedRuns(spark, s"$dir/audit")
      .filter(col("source_system") =!= "master")
      .select(col("source_system"), col("source_object"), col("watermark_value"))
      .collect()
    val want = ingestTs(last)
    val wrong = latest.filterNot(r => Option(r.getString(2))
      .exists(w => Timestamp.valueOf(w.replace('T', ' ')).getTime == want.getTime))
    ctx.check("audit_watermark_is_drop_max", latest.length == 6 && wrong.isEmpty,
      s"${latest.length} tables, wrong: ${wrong.mkString(";")}")
  }
}
