// In-process side of the benchmark: drives the engine through its public
// entry points, times statements, and (in traced runs only) records the
// per-layer breakdown. It lives under org.apache.spark.sql so it can read
// the listener bus and the QueryExecution carried by SQL execution events,
// the same hooks Spark's own ExecutionListenerBus uses.
package org.apache.spark.sql.graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Minimal JSON rendering for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

/** Order-insensitive canonical form of a result, identical to the Python
  * side's (`perfbench/canon.py`): columns sorted by lower-cased name,
  * numbers rounded to 12 significant digits, temporals as UTC
  * `yyyy-MM-dd HH:mm:ss[.ffffff]`, rows sorted. */
object Canon {
  private val mc = new java.math.MathContext(12, java.math.RoundingMode.HALF_EVEN)
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def num(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toPlainString
  private def ldt(t: java.time.LocalDateTime): String = {
    val base = t.format(tsFmt)
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  def cell(v: Any): String = v match {
    case null => "\u2205"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else num(new java.math.BigDecimal(d))
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => num(b)
    case b: BigDecimal => num(b.bigDecimal)
    case n: java.lang.Number => num(new java.math.BigDecimal(n.toString))
    case b: Boolean => b.toString
    case s: String => s
    case t: java.sql.Timestamp =>
      ldt(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
    case t: java.time.Instant => ldt(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => ldt(t)
    case d: java.sql.Date => ldt(d.toLocalDate.atStartOfDay)
    case d: java.time.LocalDate => ldt(d.atStartOfDay)
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  def rows(columns: Seq[String], data: Array[Row]): Seq[String] = {
    val order = columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    data.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).toSeq.sorted
  }

}

/** Per-layer trace: a SparkListener registered only in traced phases.
  * Events accumulate into the current bucket; the harness drains the bus
  * after each statement (outside its timer) and swaps the bucket, so a
  * sequential client gets one bucket per statement. */
final class Trace extends SparkListener {
  final class Bucket {
    val jobStart = mutable.Map.empty[Int, Long]
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
    val qes = mutable.ArrayBuffer.empty[QueryExecution]
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, gcMs, input = 0L
  }
  private var cur = new Bucket

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { cur.jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobStart.remove(e.jobId).foreach(s => cur.jobs += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    cur.tasks += ((i.launchTime, i.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.gcMs += m.jvmGCTime
      cur.input += m.inputMetrics.bytesRead
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd if x.qe != null => synchronized { cur.qes += x.qe }
    case _ =>
  }
  def swap(): Bucket = synchronized { val b = cur; cur = new Bucket; b }
}

object Trace extends AdaptiveSparkPlanHelper {
  val Phases = Seq("parsing", "analysis", "optimization", "planning")

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var end = Long.MinValue; var start = 0L
    c.foreach { case (a, b) =>
      if (a > end) { if (end > Long.MinValue) total += end - start; start = a; end = b }
      else end = math.max(end, b)
    }
    if (end > Long.MinValue) total += end - start
    total
  }

  /** Highest number of tasks running at once. */
  def maxConcurrency(iv: Seq[(Long, Long)]): Int = {
    val ev = iv.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(x => (x._1, x._2))
    var c = 0; var m = 0
    ev.foreach { case (_, d) => c += d; m = math.max(m, c) }
    m
  }

  /** Layer breakdown of one bucket spanning wall-clock window [lo, hi]. */
  def record(b: Trace#Bucket, lo: Long, hi: Long, cores: Int): Map[String, Double] = {
    val phaseIv = b.qes.toSeq.flatMap(qe => qe.tracker.phases.toSeq)
    val phaseMs = Phases.map { p =>
      p -> phaseIv.filter(_._1 == p).map { case (_, s) =>
        math.max(0L, math.min(s.endTimeMs, hi) - math.max(s.startTimeMs, lo)) }.sum.toDouble
    }.toMap
    val jobMs = unionMs(b.jobs.toSeq, lo, hi).toDouble
    val covered = unionMs(b.jobs.toSeq ++ phaseIv.map(x => (x._2.startTimeMs, x._2.endTimeMs)), lo, hi)
    val wall = (hi - lo).toDouble
    val exchanges = b.qes.toSeq.flatMap(qe =>
      try shuffles(qe.executedPlan) catch { case NonFatal(_) => Nil })
    Map(
      "wall_ms" -> wall,
      "parse_ms" -> phaseMs("parsing"), "analyze_ms" -> phaseMs("analysis"),
      "optimize_ms" -> phaseMs("optimization"), "physical_ms" -> phaseMs("planning"),
      "job_ms" -> jobMs, "gap_ms" -> math.max(0.0, wall - covered),
      "jobs" -> b.jobs.size.toDouble, "tasks" -> b.tasks.size.toDouble,
      "executor_run_ms" -> b.runMs.toDouble, "executor_cpu_ms" -> b.cpuNs / 1e6,
      "task_concurrency_max" -> maxConcurrency(b.tasks.toSeq).toDouble,
      "shuffle_write_mb" -> b.shuffleWrite / 1048576.0,
      "shuffle_read_mb" -> b.shuffleRead / 1048576.0,
      "spill_mb" -> b.spill / 1048576.0, "gc_ms" -> b.gcMs.toDouble,
      "input_mb" -> b.input / 1048576.0,
      "exchanges" -> exchanges.size.toDouble,
      "roundrobin_exchanges" -> roundRobin(exchanges))
  }

  /** Shuffle exchanges of a physical plan, adaptive subplans included. */
  def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case s: ShuffleExchangeExec => s }

  /** How many of them `Parallelism.spread` placed (round-robin). */
  def roundRobin(ex: Seq[ShuffleExchangeExec]): Double =
    ex.count(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning]).toDouble
}

object Harness {
  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")
  private def now(): Double = System.nanoTime() / 1e9

  final case class Args(workload: String, data: String, work: String, seconds: Double,
                        trace: Boolean, seed: Long, cores: Int, ops: String)

  /** One executed statement: what the report and the checks need. */
  final case class Stmt(name: String, kind: String, ms: Double, ok: Boolean,
                        err: String, rows: Seq[String], layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val kv = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val a = Args(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv("seed").toLong, kv("cores").toInt,
      kv.getOrElse("ops", ""))
    val out = mutable.LinkedHashMap[String, Any]("workload" -> a.workload, "cores" -> a.cores)
    val t0 = now()
    val spark = graft.Graft.session(a.cores)
    out("session_s") = now() - t0
    try {
      a.workload match {
        case "lake_rw" => new Lake(spark, a, out).run()
        case "flight_mix" => new Flight(spark, a, out).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out("retained_heap_mb") = retainedHeapMb()
    } finally {
      Files.writeString(Paths.get(a.work, "result.json"), Json(out))
      graft.server.flight.GraftFlightServer.stop()
      spark.stop()
    }
    println("@@DONE")
    System.out.flush()
  }

  /** Driver heap in use after a full collection. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Shared machinery of the single-client closed loop and of tracing. */
  abstract class Workload(val spark: SparkSession, val a: Args,
                          val out: mutable.LinkedHashMap[String, Any]) {
    val trace = new Trace
    var tracing = false

    /** Time `body` as one statement, submission to last row; its rows are
      * put in canonical form outside the timer. */
    def timed(name: String, kind: String)(body: => DataFrame): Stmt = {
      val lo = System.currentTimeMillis()
      val t = System.nanoTime()
      val res = try {
        val df = body
        Right((df.schema.fieldNames.toSeq, df.collect()))
      } catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t) / 1e6
      val hi = System.currentTimeMillis()
      val layers =
        if (!tracing) Map.empty[String, Double]
        else {
          spark.sparkContext.listenerBus.waitUntilEmpty()
          Trace.record(trace.swap(), lo, hi, a.cores)
        }
      res match {
        case Right((cols, data)) =>
          Stmt(name, kind, ms, ok = true, "", Canon.rows(cols, data), layers)
        case Left(e) =>
          val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)
          log(s"$name failed: $msg")
          Stmt(name, kind, ms, ok = false, msg, Nil, layers)
      }
    }

    def startTrace(): Unit = {
      spark.sparkContext.listenerBus.waitUntilEmpty()
      spark.sparkContext.addSparkListener(trace)
      trace.swap()
      tracing = true
    }

    def stmtJson(s: Stmt): Map[String, Any] =
      Map("name" -> s.name, "kind" -> s.kind, "ms" -> s.ms, "ok" -> s.ok,
        "err" -> s.err, "rows" -> s.rows, "layers" -> s.layers)

    /** Run `step` closed-loop until `seconds` of statement time elapse;
      * returns (statements, busy seconds). Bookkeeping between statements
      * (canonical rows, trace drains) is outside the timed interval. */
    def loop(seconds: Double)(step: Int => Seq[Stmt]): (Seq[Stmt], Double) = {
      val acc = mutable.ArrayBuffer.empty[Stmt]
      var i = 0
      var busy = 0.0
      while (busy < seconds) {
        val ss = step(i)
        busy += ss.map(_.ms).sum / 1000.0
        acc ++= ss
        i += 1
      }
      (acc.toSeq, busy)
    }

    def stopTrace(): Unit = {
      spark.sparkContext.listenerBus.waitUntilEmpty()
      spark.sparkContext.removeSparkListener(trace)
      tracing = false
    }

    /** The timed phase; a trace run splits it into untraced, traced,
      * traced, untraced quarters instead, so warm-up drift cancels out of
      * trace.overhead_frac. Returns the number of statements run. */
    def phases(step: Int => Seq[Stmt]): Int = {
      val plan = if (a.trace) Seq(false, true, true, false) else Seq(false)
      val acc = Map(false -> mutable.ArrayBuffer.empty[Stmt], true -> mutable.ArrayBuffer.empty[Stmt])
      val busy = mutable.Map(false -> 0.0, true -> 0.0)
      var hits, misses = 0L
      var n = 0
      plan.foreach { traced =>
        val (_, h0, m0) = graft.accel.PlanCache.stats
        if (traced) startTrace()
        val (ss, b) = loop(a.seconds / plan.size)(i => step(n + i))
        if (traced) {
          stopTrace()
          val (_, h1, m1) = graft.accel.PlanCache.stats
          hits += h1 - h0; misses += m1 - m0
        }
        n += ss.size
        acc(traced) ++= ss
        busy(traced) += b
      }
      out("timed") = Map("busy_s" -> busy(false), "stmts" -> acc(false).map(stmtJson))
      if (a.trace)
        out("traced") = Map("busy_s" -> busy(true), "stmts" -> acc(true).map(stmtJson),
          "cache_hits" -> hits, "cache_misses" -> misses)
      n
    }

    def run(): Unit
  }

  /** `lake_rw`: one closed-loop client replaying a seeded op stream
    * (reads and lake DML) against a graft-lake table seeded from orders. */
  final class Lake(spark: SparkSession, a: Args, out: mutable.LinkedHashMap[String, Any])
    extends Workload(spark, a, out) {
    val lakeDir = s"${a.work}/lake/orders"
    val versions = mutable.ArrayBuffer.empty[Long] // version after write k (0 = seed)
    var snapshotMs = 0.0

    def listing(): Map[String, Long] = {
      val root = Paths.get(lakeDir)
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    }

    def latest(): Long = {
      val t = System.nanoTime()
      val v = graft.sources.SnapshotTable.forPath(spark, lakeDir).latestVersion
      snapshotMs += (System.nanoTime() - t) / 1e6
      v
    }

    def run(): Unit = {
      val ops = Files.readAllLines(Paths.get(a.ops)).asScala.toSeq.map { l =>
        val p = l.split("\t", 3); (p(0), p(1).toInt, p(2)) // kind, time-travel write idx, sql
      }
      val prep = mutable.ArrayBuffer.empty[Double]
      for (k <- 0 until 3) {
        val t = now()
        val d = s"${a.work}/lake/seed_$k"
        graft.Graft.sql(spark, s"CREATE LAKE '$d' AS SELECT * FROM parquet.`${a.data}/orders.parquet`")
        prep += now() - t
      }
      Files.move(Paths.get(s"${a.work}/lake/seed_2"), Paths.get(lakeDir))
      versions += latest()
      out("prepare_s") = prep.toSeq
      val t = now()
      // warm-up: one statement of every shape against a scratch copy
      val warmDir = s"${a.work}/lake/seed_0"
      val warmKinds = ops.groupBy(_._3.replaceAll("\\d+", "")).values.map(_.head)
      warmKinds.foreach { case (_, _, sql) =>
        timed("warmup", "warmup")(graft.Graft.sql(spark,
          sql.replace("{dir}", warmDir).replaceAll("\\{v:\\d+\\}", "1")))
      }
      out("warmup_s") = now() - t
      out("setup_s") = out("session_s").asInstanceOf[Double] + median(prep.toSeq) + (now() - t)
      println("@@SETUP"); System.out.flush()

      val n = phases(i => {
        val (kind, tt, sql) = ops(i % ops.size)
        val text = sql.replace("{dir}", lakeDir)
          .replace(s"{v:$tt}", if (tt >= 0) versions(tt).toString else "")
        val before = if (tracing && kind == "write") listing() else Map.empty[String, Long]
        val s = timed(s"op$i", kind)(graft.Graft.sql(spark, text))
        var layers = s.layers
        if (kind == "write") {
          val snap0 = snapshotMs
          versions += latest()
          if (tracing) {
            val after = listing()
            val added = after.keySet -- before.keySet
            val (logF, dataF) = added.partition(_.startsWith(graft.sources.SnapshotTable.LogDirName))
            layers ++= Map("files_added" -> dataF.size.toDouble,
              "data_bytes_added" -> dataF.toSeq.map(after).sum.toDouble,
              "log_bytes" -> logF.toSeq.map(after).sum.toDouble,
              "snapshot_ms" -> (snapshotMs - snap0))
          }
        }
        if (tracing) layers ++= sqlextLayersFor(spark, text)
        Seq(s.copy(name = s"op$i", layers = layers))
      })
      out("ops_run") = n
      // end-of-run storage accounting (outside every timed interval)
      out("live_files") = graft.sources.SnapshotTable.forPath(spark, lakeDir).snapshot()._1.size
      val once = s"${a.work}/lake/once"
      graft.sources.SnapshotTable.forPath(spark, lakeDir).read().write.parquet(once)
      out("stored_bytes") = dirBytes(Paths.get(lakeDir))
      out("user_bytes") = dirBytes(Paths.get(once))
      out("live_rows") = spark.read.parquet(once).count()
    }
  }

  /** Timed call of the session parser on a statement text (traced runs
    * only): the `sqlext` layer's cost and whether the statement parsed
    * into a graft command. */
  def sqlextLayersFor(spark: SparkSession, text: String): Map[String, Double] = {
    val t = System.nanoTime()
    val plan = spark.sessionState.sqlParser.parsePlan(text)
    val ms = (System.nanoTime() - t) / 1e6
    Map("sqlext_parse_ms" -> ms,
      "graft_stmt" -> (if (plan.getClass.getName.startsWith("graft.")) 1.0 else 0.0))
  }

  /** `flight_mix`: the engine side. Sets up users and grants with
    * enforcement on, an aggregate reflection and the in-process
    * references, starts the Flight server and serves until the client
    * process says stop.
    *
    * No WLM queue: the Flight DoGet path streams through
    * `toArrowBatchRdd.toLocalIterator`, which fires no
    * QueryExecutionListener event, so `Queues.admitLazy` never releases
    * the slot it took (and the plan cache keeps the analyzed plan
    * reachable, so the weak-reference reaper cannot either). Routed
    * statements stall once the slots are gone. */
  final class Flight(spark: SparkSession, a: Args, out: mutable.LinkedHashMap[String, Any])
    extends Workload(spark, a, out) {
    val reflectionDir = s"${a.work}/reflection"

    def run(): Unit = {
      val spec = Files.readAllLines(Paths.get(a.ops)).asScala.toSeq
        .map(_.split("\t", 2)).map(p => p(0) -> p(1)).toMap
      val prep = mutable.ArrayBuffer.empty[Double]
      // references: each statement family computed with one grouped query
      for (_ <- 0 until 3) {
        val t = now()
        out("reference") = spec.collect { case (name, sql) if name.startsWith("ref_") =>
          val df = spark.sql(sql)
          name -> Canon.rows(df.schema.fieldNames.toSeq, df.collect())
        }
        prep += now() - t
      }
      val t = now()
      graft.Graft.sql(spark,
        s"CREATE REFLECTION bench_rollup USING PATH '${reflectionDir}' AS ${spec("reflection")}")
      (Seq("CREATE USER bench_admin PASSWORD 'admin-pw' ADMIN",
        "CREATE USER bench_user PASSWORD 'user-pw'") ++
        spec("grants").split(",").map(p => s"GRANT SELECT ON '$p' TO USER bench_user") ++
        Seq("ALTER AUTH ENFORCE ON", "AUTHENTICATE USER bench_admin PASSWORD 'admin-pw'"))
        .foreach(s => graft.Graft.sql(spark, s))
      val port = graft.server.flight.GraftFlightServer.start(spark)
      out("prepare_s") = prep.toSeq
      out("server_setup_s") = now() - t
      out("setup_s") = out("session_s").asInstanceOf[Double] + median(prep.toSeq) + (now() - t)
      Files.writeString(Paths.get(a.work, "reference.json"), Json(out("reference")))
      println(s"@@READY $port"); System.out.flush()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      // "trace" / "pause" bracket the traced quarters; "stop" ends the run
      var windowMs, lo, hits, misses = 0L
      var cmd = in.readLine()
      while (cmd != null && cmd != "stop") {
        val (_, h, m) = graft.accel.PlanCache.stats
        if (cmd == "trace") {
          startTrace(); lo = System.currentTimeMillis()
          hits -= h; misses -= m
        } else if (cmd == "pause") {
          stopTrace(); windowMs += System.currentTimeMillis() - lo
          hits += h; misses += m
        }
        println(s"@@ACK $cmd"); System.out.flush()
        cmd = in.readLine()
      }
      if (a.trace) {
        // the bucket holds the traced quarters only; clip to the whole run
        out("trace_run") = Trace.record(trace.swap(), 0L, Long.MaxValue / 2, a.cores) ++ Map(
          "cache_hits" -> hits.toDouble, "cache_misses" -> misses.toDouble,
          "window_ms" -> windowMs.toDouble)
        out("planning") = planning(Files.readAllLines(Paths.get(a.work, "flight_texts.txt")).asScala.toSeq)
      }
    }

    /** The Flight path runs no Dataset action, so no SQL execution event
      * carries its QueryExecution: time each phase with explicit calls on
      * the statement texts the clients sent, under the clients' principal
      * (the planning a plan-cache miss pays), check substitution on the
      * optimized plan and count the exchanges of the physical plan. Means
      * per statement. */
    def planning(texts: Seq[String]): Map[String, Double] = {
      val session = spark.newSession()
      graft.auth.Privileges.login(session, "bench_user", "user-pw")
      val ms = texts.map { text =>
        def time[T](f: => T): (T, Double) = {
          val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e6)
        }
        val (plan, parse) = time(session.sessionState.sqlParser.parsePlan(text))
        val qe = session.sessionState.executePlan(plan)
        val (_, analyze) = time(qe.analyzed)
        val (opt, optimize) = time(qe.optimizedPlan)
        val (exec, physical) = time(qe.executedPlan)
        val ex = Trace.shuffles(exec)
        val subst = opt.collectLeaves().exists {
          case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
            r.location.rootPaths.exists(_.toString.contains(reflectionDir))
          case _ => false
        }
        Seq(parse, analyze, optimize, physical, if (subst) 1.0 else 0.0,
          if (plan.getClass.getName.startsWith("graft.")) 1.0 else 0.0,
          ex.size.toDouble, Trace.roundRobin(ex))
      }
      val n = math.max(1, ms.size)
      Seq("parse_ms", "analyze_ms", "optimize_ms", "physical_ms", "substituted", "graft_stmt",
        "exchanges", "roundrobin_exchanges")
        .zipWithIndex.map { case (k, i) => k -> ms.map(_(i)).sum / n }.toMap
    }
  }
}
