package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against graft's public
  * functions and writes every raw measurement to one JSON file. The
  * arithmetic (medians, tails, attribution) is done by perfbench/metrics.py.
  *
  * Args: --workload <name> --inputs <dir> --work <dir> --seconds <s>
  *       --trace <0|1> --cores <n> --out <file> [--param key=value]...
  *
  * Shape of a run: session up, one untimed warm round that also runs the
  * output checks, then timed rounds until `--seconds` have passed (the
  * round in flight finishes). With `--trace 1` rounds alternate untraced
  * and traced, starting and ending untraced, so every traced round sits
  * between two untraced ones.
  */
object Main {

  final case class Op(round: Int, kind: String, name: String, family: String,
      startNs: Long, endNs: Long, ok: Boolean, error: String)

  final class Ctx(val spark: SparkSession, val trace: Trace, val inputs: String,
      val work: String, val cores: Int, val params: Map[String, String]) {
    val ops = mutable.ArrayBuffer[Op]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val counters = mutable.LinkedHashMap[String, Any]()
    var round = 0

    /** Time one op; a thrown error marks it failed and the run goes on. */
    def op(kind: String, name: String, family: String = "")(body: => Unit): Boolean = {
      trace.op = ops.size
      val t0 = System.nanoTime()
      val err = try { body; null } catch {
        case e: Exception =>
          System.err.println(s"[graftbench] $kind $name failed: $e")
          Option(e.getMessage).getOrElse(e.toString).take(300)
      }
      ops += Op(round, kind, name, family, t0, System.nanoTime(), err == null, err)
      err == null
    }

    def check(name: String, ok: Boolean, detail: Any = ""): Unit = {
      if (!ok) System.err.println(s"[graftbench] check $name failed: $detail")
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)
    }

  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  trait Workload {
    /** Untimed: warms the JIT and lazy state, and runs the output checks. */
    def warm(): Unit
    /** One timed round of the workload's fixed unit of work. */
    def timed(dir: String): Unit
    /** Untimed, traced rounds only: counters read after the round. */
    def countAfter(dir: String): Unit = ()
    /** False once the generated inputs cannot feed another round. */
    def more: Boolean = true
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toSeq
    val a = kv.filter(_._1 != "param").toMap
    val params = kv.filter(_._1 == "param").map { case (_, p) =>
      val i = p.indexOf('='); (p.take(i), p.drop(i + 1)) }.toMap
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val work = a("work")
    Files.createDirectories(Paths.get(work))

    val spark = graft.Graft.builder(s"local[$cores]", Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUpMs = System.currentTimeMillis()
    val trace = new Trace(spark.sparkContext)
    if (traceOn) spark.sparkContext.addSparkListener(trace.listener)
    val ctx = new Ctx(spark, trace, a("inputs"), work, cores, params)
    val wl: Workload = a("workload") match {
      case "medallion" => new MedallionWorkload(ctx)
      case "corpus" => new CorpusWorkload(ctx)
      case w => sys.error(s"unknown workload $w")
    }

    wl.warm()
    ctx.ops.filter(!_.ok).foreach(o => ctx.check(s"warm_${o.kind}_${o.name}", false, o.error))
    val warmOps = ctx.ops.toSeq.map(o => Map("kind" -> o.kind, "name" -> o.name,
      "s" -> (o.endNs - o.startNs) / 1e9, "ok" -> o.ok))
    ctx.ops.clear()
    Settle()
    val warmDoneMs = System.currentTimeMillis()

    var heapPeakMb = 0.0
    val rounds = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 0
    def traced(i: Int) = traceOn && i % 2 == 0
    def bracketed = !traceOn || r >= 3 && r % 2 == 1
    while (r == 0 || wl.more && (elapsed < seconds || !bracketed)) {
      r += 1
      ctx.round = r
      val dir = s"$work/round$r"
      spark.catalog.clearCache()
      graft.Graft.releaseCaches()
      trace.recording = traced(r)
      val rs = System.nanoTime()
      wl.timed(dir)
      val re = System.nanoTime()
      trace.recording = false
      heapPeakMb = math.max(heapPeakMb, LiveHeap.mb(spark))
      if (traced(r)) wl.countAfter(dir)
      rounds += Map("round" -> r, "traced" -> traced(r), "start_ns" -> rs,
        "end_ns" -> re, "dir" -> dir)
    }
    val timedEnd = System.nanoTime()
    if (traceOn) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "cores" -> cores, "seconds" -> seconds,
      "trace" -> traceOn,
      "setup" -> Map("jvm_start_ms" -> jvmStartMs, "session_up_ms" -> sessionUpMs,
        "warm_done_ms" -> warmDoneMs),
      "timed_ns" -> (timedEnd - t0),
      "warm_ops" -> warmOps,
      "heap_peak_mb" -> heapPeakMb,
      "rounds" -> rounds.toSeq,
      "ops" -> ctx.ops.toSeq.map(o => Map("round" -> o.round, "kind" -> o.kind,
        "name" -> o.name, "family" -> o.family, "start_ns" -> o.startNs,
        "end_ns" -> o.endNs, "ok" -> o.ok, "error" -> o.error)),
      "checks" -> ctx.checks.toSeq,
      "counters" -> ctx.counters.toMap)
    if (traceOn) {
      out("spans") = trace.spanRecords.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      // listener times are epoch ms; this pair maps them onto nanoTime
      out("clock") = Map("epoch_ms" -> System.currentTimeMillis(), "nano" -> System.nanoTime())
      out("jobs") = trace.jobRecords.map(j => Map("id" -> j.id, "span" -> j.span,
        "execution" -> j.execution, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
        "call_site" -> j.callSite))
      out("stages") = trace.stageRecords.map { case (id, job, s) => Map("id" -> id,
        "job" -> job, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "tasks" -> s.tasks,
        "busy_ms" -> s.busyMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "spill" -> s.spill, "input" -> s.input, "peak_mem" -> s.peakMem) }
    }
    Files.writeString(Paths.get(a("out")), json(out.toMap))
    spark.stop()
  }
}

/** The end of set-up: a full collection, then a wait (at most 5 s) until
  * the JIT compilers have been idle for half a second. Without it the first
  * timed round starts with whatever compilations the warm round left queued,
  * and how many that is depends on how much CPU the host gave the compiler
  * threads during warm-up. */
object Settle {
  def apply(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline && System.nanoTime() - quietSince < 500000000L) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
  }
}

/** Live heap between rounds: used heap after a full collection, once the
  * round's cached blocks are gone. Forced, because raw occupancy depends on
  * when the collector last ran; the blocks are dropped synchronously first,
  * because `unpersist` and Spark's ContextCleaner otherwise free them at a
  * moment of their own choosing. */
object LiveHeap {
  def mb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    graft.Graft.releaseCaches()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
