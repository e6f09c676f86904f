package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** Drives one benchmark workload through the engine's public entry
  * points and writes what it saw to the run directory:
  *
  *  - `ops.jsonl`: one record per operation (wall time, success, the
  *    digest of its result and, in a traced run, its layer counters);
  *  - `out/<key>.json`: result rows kept for the checker;
  *  - `summary.json`: set-up split, CPU, memory and the end state.
  *
  * Timings are taken here, around the calls; nothing inside the engine
  * is changed. The checker (`perfbench/check.py`) decides correctness.
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    if (opt("workload") == "oracle-sql") {
      // regenerates perfbench/oracle/: the engine's own DuckDB oracle SQL
      val out = Files.createDirectories(Paths.get(opt("out")))
      val all = graft.SparkEntry.oracleSql
      opt("queries").split(",").filter(all.contains).foreach { n =>
        Files.write(out.resolve(s"$n.sql"), (all(n).trim + "\n").getBytes(UTF_8))
      }
      return
    }
    val run = new Run(Paths.get(opt("run-dir")), opt("rounds").toInt,
      opt("trace") == "1", opt("cpus").toInt)
    try {
      opt("workload") match {
        case "olap" => run.olap(opt("data"))
        case "stmt" => run.statements()
        case w => sys.error(s"unknown workload kind $w")
      }
    } finally run.close()
  }

  /** JSON string literal */
  def q(s: String): String = mapper.writeValueAsString(s)

  /** One result cell as JSON: numbers stay numbers, timestamps and dates
    * become tagged integers so the checker compares them exactly.
    */
  def cell(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => d.toPlainString
    case s: String => q(s)
    case t: java.sql.Timestamp =>
      s"""{"ts":${org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)}}"""
    case t: java.time.Instant =>
      s"""{"ts":${org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)}}"""
    case t: java.time.LocalDateTime =>
      s"""{"ts":${org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(
        t.toInstant(java.time.ZoneOffset.UTC))}}"""
    case d: java.sql.Date =>
      s"""{"date":${org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)}}"""
    case d: java.time.LocalDate => s"""{"date":${d.toEpochDay}}"""
    case b: Array[Byte] => q(b.map("%02X".format(_)).mkString)
    case r: Row => r.toSeq.map(cell).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${cell(k)},${cell(x)}]" }.sorted.mkString("[", ",", "]")
    case other => q(other.toString)
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) q(d.toString) else d.toString

  /** order-free digest of a result: sorted JSON rows, SHA-256 */
  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Counters gathered from Spark's listener bus while an operation runs. */
final class Counters {
  var jobs = 0; var jobMs = 0L; var stages = 0; var tasks = 0
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputRows = 0L; var inputBytes = 0L; var aqeReplans = 0
  var skew = 0.0
}

/** Listener that attributes jobs, stages and tasks to whatever operation
  * is current. Only installed in a traced run.
  */
final class Tracer extends SparkListener {
  @volatile var cur = new Counters
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTaskMs =
    new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[Long]]()

  def swap(): Counters = synchronized { val c = cur; cur = new Counters; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1; jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStart.remove(e.jobId)).foreach(t => cur.jobMs += e.time - t)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    cur.tasks += 1
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      cur.inputRows += m.inputMetrics.recordsRead
      cur.inputBytes += m.inputMetrics.bytesRead
      stageTaskMs.computeIfAbsent(e.stageId, _ => new java.util.ArrayList[Long]())
        .add(m.executorRunTime)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    Option(stageTaskMs.remove(e.stageInfo.stageId)).foreach { l =>
      val ts = l.asScala.toSeq.sorted
      if (ts.length > 1) {
        val med = ts(ts.length / 2).max(1L)
        cur.skew = math.max(cur.skew, ts.last.toDouble / med)
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { cur.aqeReplans += 1 }
    case _ => ()
  }
}

final class Run(dir: Path, rounds: Int, trace: Boolean, cpus: Int) {
  import Harness._

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val outDir = Files.createDirectories(dir.resolve("out"))
  private val ops = Files.newBufferedWriter(dir.resolve("ops.jsonl"), UTF_8)
  private val summary = mutable.LinkedHashMap[String, String]()
  private val tracer = new Tracer

  private val spark: SparkSession = {
    val s = System.nanoTime()
    val sp = graft.GraftSession(cpus, "perfbench")
    if (trace) sp.sparkContext.addSparkListener(tracer)
    summary("session_ms") = ms(s).toString
    sp
  }

  private def ms(startNs: Long): Double = (System.nanoTime() - startNs) / 1e6

  /** process CPU seconds so far */
  private def cpu(): Double = os.getProcessCpuTime / 1e9

  private def writeOp(fields: (String, Any)*): Unit = {
    ops.write(fields.map { case (k, v) => q(k) + ":" + (v match {
      case s: String => q(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case other => other.toString
    }) }.mkString("{", ",", "}"))
    ops.newLine()
  }

  private def clearCaches(): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def persistedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** The finalized physical plan: AQE's current plan once it has run. */
  private def finalPlan(qe: QueryExecution): SparkPlan = qe.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def planCounts(qe: QueryExecution): Seq[(String, Any)] = {
    val nodes = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = {
      nodes += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(finalPlan(qe))
    val files = nodes.collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    Seq("exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      "scan_files" -> files)
  }

  private def counterFields(c: Counters): Seq[(String, Any)] = Seq(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "task_run_ms" -> c.taskRunMs, "task_cpu_ms" -> c.taskCpuNs / 1e6, "gc_ms" -> c.gcMs,
    "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
    "spill_bytes" -> c.spill, "input_rows" -> c.inputRows, "input_bytes" -> c.inputBytes,
    "stage_skew" -> c.skew, "aqe_replans" -> c.aqeReplans)

  private def drainListener(): Unit =
    if (trace) {
      // events are delivered asynchronously: wait until the bus is idle
      // so an operation's tasks are not booked to the next one
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

  /** Collect a result; when tracing, also the execution split: the
    * phases are forced one at a time on the same QueryExecution that
    * then runs, so planning is paid once.
    */
  private def execute(df: DataFrame): (Seq[Row], Seq[(String, Any)]) = {
    if (!trace) return (df.collect().toSeq, Nil)
    // analysis already ran when the Dataset was made (build_ms, head_ms)
    val qe = df.queryExecution
    var s = System.nanoTime(); qe.optimizedPlan; val opt = ms(s)
    s = System.nanoTime(); qe.executedPlan; val pl = ms(s)
    drainListener(); tracer.swap()
    s = System.nanoTime()
    val rows = df.collect().toSeq
    val ex = ms(s)
    drainListener()
    val c = tracer.swap()
    (rows, Seq("optimize_ms" -> opt, "plan_ms" -> pl, "exec_ms" -> ex,
      "rows_read_per_row_out" -> c.inputRows.toDouble / math.max(1, rows.length),
      "persist_bytes" -> persistedBytes()) ++ counterFields(c) ++ planCounts(qe))
  }

  // ---- OLAP: headline DataFrame programs, first pass then warm passes --

  def olap(data: String): Unit = {
    val names = Files.readAllLines(dir.resolve("queries.txt"), UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    val tables = graft.Tables(spark, data)
    var s = System.nanoTime()
    // the persisted ANN indexes the vector queries probe: built here so
    // no timed query pays the build (same parameters as those queries)
    if (names.exists(_.startsWith("vec_knn_"))) {
      val tmp = sys.props("java.io.tmpdir")
      graft.operators.VectorIndex.ensure(tables.embeddings, "vec_id", "embedding",
        s"$tmp/graft_index/ivf_" + Integer.toHexString(data.hashCode), k = 16, iters = 2)
      graft.operators.HnswIndex.ensure(tables.embeddings, "vec_id", "embedding",
        s"$tmp/graft_index/hnsw_" + Integer.toHexString(data.hashCode),
        m = 8, efConstruction = 64, numBuckets = 8)
    }
    summary("index_build_ms") = ms(s).toString
    summary("first_op_epoch_ms") = System.currentTimeMillis().toString
    for (pass <- 0 until rounds) {
      val c0 = cpu(); val ps = System.nanoTime()
      for ((n, fn) <- fns) {
        clearCaches()
        drainListener(); tracer.swap()
        val bs = System.nanoTime()
        var fields: Seq[(String, Any)] = Nil
        val res = try {
          val df = fn(spark, data)
          val build = ms(bs)
          drainListener()
          val bj = tracer.swap().jobs
          val (rows, tf) = execute(df)
          fields = Seq[(String, Any)]("build_ms" -> build, "build_jobs" -> bj) ++ tf
          Right(rows)
        } catch { case e: Throwable => Left(e) }
        val wall = ms(bs)
        res.map(_.map(r => cell(r))) match {
          case Right(rows) =>
            if (pass == 0)
              Files.write(outDir.resolve(s"$n.json"), rows.mkString("[", ",\n", "]").getBytes(UTF_8))
            writeOp(Seq[(String, Any)]("op" -> n, "pass" -> pass, "ok" -> true, "ms" -> wall,
              "rows" -> rows.length, "digest" -> digest(rows)) ++ fields: _*)
          case Left(e) =>
            writeOp("op" -> n, "pass" -> pass, "ok" -> false, "ms" -> wall,
              "error" -> String.valueOf(e).take(400))
        }
      }
      writeOp("op" -> "round", "pass" -> pass, "ok" -> true, "ms" -> ms(ps), "cpu_s" -> (cpu() - c0))
    }
    retainedHeap()
  }

  // ---- SQL statements through GraftSql, one record per statement -------

  /** Replays the first `rounds` rounds of `statements.jsonl`, then the
    * round-less `post` statements (untimed end-state reads).
    */
  def statements(): Unit = {
    val stmts = Files.readAllLines(dir.resolve("statements.jsonl"), UTF_8).asScala
      .filter(_.trim.nonEmpty).map(l => mapper.readTree(l)).toSeq
    val s = System.nanoTime()
    val g = graft.GraftSql(spark, dir.resolve("wh").toString)
    // load statements (table_dml's base tables) run before the clock
    val (load, rest) = stmts.partition(_.path("phase").asText == "load")
    load.foreach(st => runStatement(g, st, pass = -1))
    summary("stage_ms") = ms(s).toString
    summary("first_op_epoch_ms") = System.currentTimeMillis().toString
    val byRound = rest.filter(_.has("round")).groupBy(_.get("round").asInt).toSeq.sortBy(_._1)
    val post = rest.filterNot(_.has("round"))
    for ((r, sts) <- byRound.take(rounds)) {
      val c0 = cpu(); val rs = System.nanoTime()
      sts.foreach(st => runStatement(g, st, pass = r))
      writeOp("op" -> "round", "pass" -> r, "ok" -> true, "ms" -> ms(rs), "cpu_s" -> (cpu() - c0))
    }
    retainedHeap()
    post.foreach(st => runStatement(g, st, pass = -2))
    summary("warehouse") = q(g.warehouse)
  }

  /** heap still in use after a full GC once the measured rounds end */
  private def retainedHeap(): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // the ContextCleaner drops broadcast and shuffle state only after a
    // GC has found it unreachable: collect, let it run, collect again
    System.gc()
    Thread.sleep(200)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    summary("retained_heap_mb") = (mem.getHeapMemoryUsage.getUsed / 1048576.0).toString
  }

  private def tableFiles(wh: Path): Map[String, Seq[(String, Long)]] =
    if (!Files.isDirectory(wh)) Map.empty
    else graftList(wh).filter(p => Files.isDirectory(p.resolve("_graft_log"))).map { t =>
      t.getFileName.toString -> graftList(t).filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> Files.size(f))
    }.toMap

  private def graftList(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq.sortBy(_.toString) finally st.close()
  }

  private def logBytes(wh: Path): Long =
    tableFiles(wh).keys.toSeq.map { t =>
      graftList(wh.resolve(t).resolve("_graft_log")).map(Files.size).sum }.sum

  /** table -> data files of its latest snapshot, read from the log */
  private def liveFiles(wh: Path): Set[String] =
    tableFiles(wh).keys.toSeq.flatMap { t =>
      graftList(wh.resolve(t).resolve("_graft_log")).lastOption.toSeq.flatMap { f =>
        mapper.readTree(f.toFile).get("files").elements().asScala.map(t + "/" + _.asText)
      }
    }.toSet

  private def runStatement(g: graft.GraftSql, st: JsonNode, pass: Int): Unit = {
    val sql = st.get("sql").asText
    val id = st.get("id").asText
    val cls = st.path("cls").asText("other")
    val wh = Paths.get(g.warehouse)
    val write = trace && cls != "select"
    val before = if (write) tableFiles(wh) else Map.empty[String, Seq[(String, Long)]]
    val liveBefore = if (write) liveFiles(wh) else Set.empty[String]
    val logBefore = if (write) logBytes(wh) else 0L
    drainListener(); tracer.swap()
    val bs = System.nanoTime()
    var fields: Seq[(String, Any)] = Nil
    val res: Either[Throwable, Seq[Row]] = try {
      val df = g.execute(sql)
      val head = ms(bs)
      drainListener()
      val hc = tracer.swap()
      val analyzed = df.queryExecution.analyzed
      val alreadyRun =
        analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.CommandResult] ||
        analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      val rows: Seq[Row] =
        if (st.path("kind").asText == "query" || !alreadyRun) {
          val (r, tf) = execute(df); fields = tf; r
        } else Nil
      if (trace) fields = Seq[(String, Any)]("head_ms" -> head, "head_jobs" -> hc.jobs,
        "head_job_ms" -> hc.jobMs) ++ fields
      Right(if (st.path("kind").asText == "query") rows else Nil)
    } catch { case e: Throwable => Left(e) }
    val wall = ms(bs)
    if (trace) fields :+= ("session_tables" -> tableFiles(wh).size)
    if (write) {
      val written = tableFiles(wh).toSeq.flatMap { case (t, fs) =>
        fs.filterNot(before.getOrElse(t, Nil).contains) }
      val liveAfter = liveFiles(wh)
      fields ++= Seq("files_added" -> (liveAfter -- liveBefore).size,
        "files_removed" -> (liveBefore -- liveAfter).size,
        "bytes_written" -> written.map(_._2).sum,
        "log_bytes" -> (logBytes(wh) - logBefore))
    }
    res.map(_.map(r => cell(r))) match {
      case Right(rows) =>
        if (rows.nonEmpty || st.path("kind").asText == "query")
          Files.write(outDir.resolve(s"$id.json"), rows.mkString("[", ",\n", "]").getBytes(UTF_8))
        writeOp(Seq[(String, Any)]("op" -> id, "cls" -> cls, "pass" -> pass, "ok" -> true,
          "ms" -> wall, "rows" -> rows.length) ++ fields: _*)
      case Left(e) =>
        val msg = Option(e.getMessage).getOrElse(e.toString).replace('\n', ' ').take(400)
        writeOp(Seq[(String, Any)]("op" -> id, "cls" -> cls, "pass" -> pass, "ok" -> false,
          "ms" -> wall, "error" -> msg) ++ fields: _*)
    }
  }

  def close(): Unit = {
    ops.close()
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    val hwm = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    summary("peak_rss_mb") = hwm.toString
    Files.write(dir.resolve("summary.json"),
      summary.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}").getBytes(UTF_8))
    spark.stop()
  }
}
