package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.finlogic.{Company, FinLogic}
import graft.ops.Staging

/** The benchmark's JVM side: sets up one workload, plays its fixed
  * operation list in whole rounds until the run length is spent, and
  * writes every timing and every result to a JSON file that the Python
  * side checks and summarises. It only calls the public API of
  * `graft.finlogic` and the query map in `graft.SparkEntry`.
  *
  * Arguments are `key=value` pairs: workload, script, warmscript,
  * queries, out, seconds, cpus, trace, work.
  */
object Harness {

  /** One timed operation: construction (until the frame or Company is
    * returned) and execution (the terminal collect), its output, and
    * in traced runs the per-layer counters. */
  final class Op(val label: String, val args: Seq[String]) {
    var constructMs = 0.0
    var executeMs = 0.0
    var result: Json.Table = null
    var error: String = null
    var stats: Tracer.Stats = null
    val extra = mutable.LinkedHashMap[String, Any]()
  }

  private def nowMs: Double = System.nanoTime() / 1e6

  private def time[A](f: => A): (A, Double) = {
    val t0 = nowMs
    val a = f
    (a, nowMs - t0)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val seconds = a("seconds").toDouble
    val work = a("work")
    val phases = mutable.ArrayBuffer[(String, Any)]()
    var mark = nowMs
    def phase(name: String): Unit = { val t = nowMs; phases += name -> (t - mark); mark = t }

    val spark = SparkSession.builder()
      .master(s"local[${a("cpus")}]")
      .config("spark.sql.shuffle.partitions", a("cpus"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", (1 << 15).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (a("trace") == "1") Some(Tracer.install(spark)) else None
    phase("session_ms")

    val w: Workload = a("workload") match {
      case "fin_session" => new FinCalls(spark, a, tracer)
      case "graph_sweeps" => new GraphSweeps(spark, a, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val setupOps = w.setup()
    phase("warm_ms")

    val firstOpEpochMs = System.currentTimeMillis()
    val rounds = mutable.ArrayBuffer[Json.Obj]()
    val t0 = nowMs
    while (rounds.isEmpty || nowMs - t0 < seconds * 1000) {
      val (ops, roundMs) = time(w.round())
      val (mb, rdds) = w.resident
      rounds += Json.Obj(Seq(
        "round_ms" -> roundMs, "resident_mb" -> mb, "cached_rdds" -> rdds,
        "ops" -> ops.map(op => opJson(op, keepResult = rounds.isEmpty))))
      w.resetRound()
    }
    val out = Json.Obj(Seq(
      "first_op_epoch_ms" -> firstOpEpochMs,
      "setup_phases" -> Json.Obj(phases.toSeq),
      "setup_ops" -> setupOps.map(op => opJson(op, keepResult = true)),
      "rounds" -> rounds.toSeq,
      "oracles" -> Json.Obj(w.oracles),
      "host" -> Json.Obj(Seq(
        "spark" -> spark.version,
        "jvm" -> System.getProperty("java.vm.version"),
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "storage_memory_mb" ->
          spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0,
        "cpus" -> a("cpus")))))
    Files.write(Paths.get(a("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private val Unordered = Set("custom_report", "search_company")

  private def opJson(op: Op, keepResult: Boolean): Json.Obj = {
    val res = if (op.result == null) Nil else {
      // calls whose rows come back in no defined order hash as a set
      val rows = op.result.rows.map(Json.render)
      val canon = op.result.cols.mkString(",") +: (if (Unordered(op.label)) rows.sorted else rows)
      val digest = MessageDigest.getInstance("MD5")
        .digest(canon.mkString("\n").getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
      Seq("hash" -> digest, "rows" -> rows.size) ++
        (if (keepResult) Seq("result" -> op.result) else Nil)
    }
    Json.Obj(Seq[(String, Any)](
      "op" -> op.label, "args" -> op.args,
      "construct_ms" -> op.constructMs, "execute_ms" -> op.executeMs,
      "error" -> op.error, "extra" -> Json.Obj(op.extra.toSeq)) ++ res ++
      Option(op.stats).map(s => "stats" -> s.json))
  }

  def table(df: DataFrame): Json.Table =
    Json.Table(df.columns.toSeq, df.schema.fields.map(_.dataType.simpleString).toSeq,
      df.collect().map(_.toSeq).toSeq)

  /** Cached storage held by the session: (MB, cached RDD count). */
  def storage(spark: SparkSession): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.length)
  }

  private def readScript(path: String): Seq[Op] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty)
      .map { l => val f = l.split("\t", -1); new Op(f.head, f.tail.toSeq) }.toSeq

  abstract class Workload(val spark: SparkSession, a: Map[String, String],
                          tracer: Option[Tracer]) {
    /** Cached storage to report for the round just played. */
    def resident: (Double, Int) = storage(spark)
    def run(op: Op): Unit
    /** Untimed set-up: loads and warm-up calls. */
    def setup(): Seq[Op] = { val ops = play("warmscript"); resetRound(); ops }
    def round(): Seq[Op] = play("script")
    private def play(script: String): Seq[Op] = {
      val ops = readScript(a(script))
      ops.foreach(op => tracer.fold(run(op))(_.around(op)(run(op))))
      ops
    }
    def resetRound(): Unit = ()
    def oracles: Seq[(String, String)] = Nil

    protected def guard(op: Op)(body: => Unit): Unit =
      try body catch {
        case e: Exception => op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }

    /** Times `build` as construction and its collect as execution. */
    protected def frame(op: Op)(build: => DataFrame): Unit = {
      val (df, c) = time(build)
      op.constructMs = c
      val (t, e) = time(table(df))
      op.executeMs = e
      op.result = t
    }
  }

  /** FinLogic calls: load (plus filling the four caches), unload, the
    * module calls, and Company calls on the most recently opened company. */
  final class FinCalls(spark: SparkSession, a: Map[String, String], tracer: Option[Tracer])
      extends Workload(spark, a, tracer) {
    private var current: Option[Company] = None
    private val opened = mutable.ArrayBuffer[Company]()

    def run(op: Op): Unit = guard(op) {
      val args = op.args
      lazy val company = current.getOrElse(throw new IllegalStateException("no company open"))
      op.label match {
        case "load" =>
          val dir = args(0)
          op.constructMs = time(FinLogic.load(spark, s"$dir/financials.parquet",
            s"$dir/trades.parquet", s"$dir/language.parquet"))._2
          val d = FinLogic.data
          // trades first: financials' semi-join reads the cached trades
          for ((k, df) <- Seq("trades" -> d.trades, "financials" -> d.financials,
                              "indicators" -> d.indicators, "language" -> d.language)) {
            val ms = time(df.count())._2
            op.extra(s"${k}_ms") = ms
            op.executeMs += ms
            op.extra(s"${k}_mb") =
              df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1048576.0
          }
        case "unload" => op.constructMs = time(FinLogic.unload())._2
        case "info" => frame(op)(FinLogic.info())
        case "search_segment" => frame(op)(FinLogic.searchSegment(args(0)))
        case "search_company" => frame(op)(FinLogic.searchCompany(args(0), args(1)))
        case "rank" => frame(op)(FinLogic.rank(
          if (args(0) == "-") None else Some(args(0)), args(1).toInt, args(2), args(3) == "1"))
        case "open" =>
          current = None
          val ident: Any = if (args(0) == "cvm") args(1).toLong else args(1)
          val (co, c) = time(FinLogic.company(ident, isConsolidated = args(2) == "1",
            accUnit = args(3)))
          op.constructMs = c
          current = Some(co)
          opened += co
          op.result = Json.Table(
            Seq("cvm_id", "tax_id", "name_id", "first", "last", "last_annual", "last_type", "rows"),
            Seq("bigint", "string", "string", "string", "string", "string", "string", "bigint"),
            Seq(Seq(co.cvmId, co.taxId, co.nameId, co.firstPeriod.orNull, co.lastPeriod.orNull,
              co.lastAnnual.orNull, co.lastPeriodType, co.accountingRows)))
        case "report" => frame(op)(company.report(args(0), args(1).toInt, args(2).toInt))
        case "custom_report" =>
          frame(op)(company.customReport(args(0).split(",").toSeq, args(1).toInt))
        case "indicators" => frame(op)(company.indicators(args(0).toInt))
        case other => throw new IllegalArgumentException(s"unknown op: $other")
      }
    }

    /** Every Company caches its slice and never releases it; drop the
      * round's slices so each round starts from the same cache. */
    override def resetRound(): Unit = {
      opened.foreach(_.df.unpersist(blocking = true))
      opened.clear()
      current = None
    }
  }

  /** The iterative graph queries, resolved by exact name: each is
    * built, collected, and its staged frames released before the next. */
  final class GraphSweeps(spark: SparkSession, a: Map[String, String], tracer: Option[Tracer])
      extends Workload(spark, a, tracer) {
    private val names = a("queries").split(",").toSeq
    private val queries = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new NoSuchElementException(s"no query named $n in SparkEntry.queries"))).toMap
    override val oracles: Seq[(String, String)] = names.map(n => n ->
      SparkEntry.oracleSql.getOrElse(n, throw new NoSuchElementException(s"no oracle SQL for $n")))
    private var peak = (0.0, 0)

    def run(op: Op): Unit = guard(op) {
      op.label match {
        case "query" =>
          val Seq(name, dir) = op.args
          try frame(op)(queries(name)(spark, dir))
          finally {
            val held = storage(spark)
            op.extra("staged_mb") = held._1
            if (held._1 >= peak._1) peak = held
            op.extra("release_ms") = time(Staging.releaseAll())._2
          }
        case other => throw new IllegalArgumentException(s"unknown op: $other")
      }
    }

    /** Queries release their staged frames as they end: report the
      * most the round held at once, read just before each release. */
    override def resident: (Double, Int) = peak
    override def resetRound(): Unit = peak = (0.0, 0)
  }
}
