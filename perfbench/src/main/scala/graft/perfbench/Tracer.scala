package graft.perfbench

import java.io.{OutputStream, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.SparkEntry
import graft.dialect.{Engine, Transpiler}
import graft.formats.{ChCompression, NativeCodec, ResultFormatter}
import graft.server.NativeServer
import org.apache.spark.perfbench.ListenerBus
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A traced interval. Spans of one statement share `trace`; `parent`
  * is the span that caused this one (-1 for a statement's root). */
final case class Span(id: Int, parent: Int, trace: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory during the run and written out at its end. */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  def apply[T](name: String, parent: Int, trace: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally all.synchronized {
      all += Span(all.length, parent, trace, name, t0, System.nanoTime())
    }
  }
  /** Opens a statement's root span; the caller closes it. */
  def root(trace: Int): (Int, Long) = all.synchronized {
    all += null // reserve the id
    (all.length - 1, System.nanoTime())
  }
  def close(id: Int, trace: Int, name: String, t0: Long): Unit = all.synchronized {
    all(id) = Span(id, -1, trace, name, t0, System.nanoTime())
  }
  /** Duration minus the part of it its children cover (children are
    * sequential calls, so their durations add up). */
  def selfMs(s: Span): Double = s.ms - all.filter(c => c != null && c.parent == s.id).map(_.ms).sum

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, all.filter(_ != null).map { s =>
      s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"trace":${s.trace}}"""
    }.asJava, UTF_8)
  }
}

/** Stage and task counters from the scheduler, summed until reset. */
final class Counters extends SparkListener {
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  @volatile var jobs, stages, tasks, failedTasks = 0L
  @volatile var taskRunMs, taskCpuMs, taskWaitMs = 0.0
  @volatile var inputBytes, shuffleRead, shuffleWrite, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    val sub = stageSubmit.get(e.stageId)
    if (sub != 0L) taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuMs += m.executorCpuTime / 1e6
      inputBytes += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def snapshot(): Map[String, Double] = synchronized {
    Map("exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.toDouble, "exec.failed_tasks" -> failedTasks.toDouble,
      "exec.task_run_ms" -> taskRunMs, "exec.task_cpu_ms" -> taskCpuMs,
      "exec.task_wait_ms" -> taskWaitMs, "exec.input_bytes" -> inputBytes.toDouble,
      "exec.shuffle_read_bytes" -> shuffleRead.toDouble,
      "exec.shuffle_write_bytes" -> shuffleWrite.toDouble, "exec.spill_bytes" -> spill.toDouble)
  }
  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; failedTasks = 0
    taskRunMs = 0; taskCpuMs = 0; taskWaitMs = 0
    inputBytes = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
  }
}

/** The traced run: the workload's statements once more, sent through
  * each layer's public function, one call per layer, with a span
  * around each call and scheduler counters per statement. The same
  * statements also go through the real servers untraced and traced,
  * which gives the wire's share and the tracing overhead. */
object Tracer {
  import Main._

  private final class CountingStream extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }
  private final class CountingWriter extends Writer {
    var n = 0L
    override def write(c: Array[Char], off: Int, len: Int): Unit = n += len
    override def write(s: String, off: Int, len: Int): Unit = n += len
    override def flush(): Unit = ()
    override def close(): Unit = ()
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  private def dirStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.length.toLong, files.map(Files.size).sum)
    }

  def run(a: Args): Unit = {
    val (env, setup, base) = startUp(a)
    val seed = a("seed").toLong
    val spark = env.spark
    val exp = new Expected(a("state"))
    val samples = ArrayBuffer.empty[Sample]
    val w = workload(a("workload"), env, exp, seed)
    val driver = new Driver(env)
    val phases = w.pass(0)
    val stmts = phases.flatMap(_.stmts).toIndexedSeq
    val rbTypes = Seq("id", "ts", "k", "v", "n").zip(
      if (stmts.exists(_.binary.isDefined)) IngestExport.announcedTypes(new HttpClient(env.http.boundPort))
      else Nil)
    val gc0 = gcMs()

    // one client through the real servers, first with tracing on (the
    // listener registered, a span around each call), then untraced: the
    // end-to-end latency each statement has. The traced pass runs first,
    // on a colder JVM, so the overhead it gives is an upper bound; a
    // warm-up pass would not fit a run's time limit.
    val spans = new Spans
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracedClient = stmts.zipWithIndex.map { case (s, i) =>
      spans(s"client.${s.label}", -1, -1 - i)(driver.exec(s))
    }
    spark.sparkContext.removeSparkListener(counters)
    samples ++= tracedClient
    val untraced = driver.run(stmts, 1)
    samples ++= untraced
    // the multi-client phases as the workload runs them, untraced: what
    // contention adds
    val concurrent = phases.filter(_.clients > 1).flatMap(ph => driver.run(ph.stmts, ph.clients))
    samples ++= concurrent
    spark.sparkContext.addSparkListener(counters)

    // the layer replay; it stops early rather than overrun the run's
    // time limit, and the per-statement figures then cover the
    // statements replayed
    val deadline = a("deadline-ms").toLong
    val layer = ArrayBuffer.empty[Map[String, Double]]
    stmts.indices.iterator.takeWhile(_ => System.currentTimeMillis() < deadline - 15000).foreach { i =>
      val s = stmts(i)
      ListenerBus.drain(spark)
      counters.reset()
      val (rootId, t0) = spans.root(i)
      val extra = scala.collection.mutable.Map.empty[String, Double]
      val err =
        try { replay(spark, env, s, rbTypes, spans, rootId, i, extra); None }
        catch { case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
      spans.close(rootId, i, s"statement.${s.label}", t0)
      ListenerBus.drain(spark)
      err.foreach(e => System.err.println(s"[perfbench] WRONG replay ${s.label}: ${e.take(300)}"))
      samples += Sample(s.label, spans.all(rootId).ms, err, 0, 0, 0)
      layer += counters.snapshot() ++ extra
    }
    spark.sparkContext.removeSparkListener(counters)
    driver.close()
    val gcTotal = gcMs() - gc0

    // per-statement layer self-times, averaged over the statements
    val replayed = layer.length
    val n = replayed.toDouble
    def self(prefix: String): Double =
      spans.all.filter(sp => sp != null && sp.trace >= 0 && sp.name == prefix)
        .map(spans.selfMs).sum / n
    val layerNames = Seq("dialect.transpile", "dialect.build", "plans.optimize",
      "plans.physical", "exec.run", "formats.encode", "formats.decode", "storage.insert")
    def mean(k: String) = layer.map(_.getOrElse(k, 0.0)).sum / n
    // dialect.build holds a second transpile of the text dialect.transpile
    // already timed: take it out, so each is counted once
    val layerMs = layerNames.map(l => l -> self(l)).toMap ++
      Map("dialect.build" -> (self("dialect.build") - mean("dialect.transpile_sql_ms"))) ++
      LlmOperators.names.map(op => s"operators.$op" -> self(s"operators.$op"))
    val layerSum = layerMs.values.sum
    val e2eMean = untraced.take(replayed).map(_.ms).sum / n
    val tracedMean = tracedClient.take(replayed).map(_.ms).sum / n
    def total(k: String) = layer.map(_.getOrElse(k, 0.0)).sum
    val encodeMsTotal = self("formats.encode") * n
    val rowsScanned = total("exec.rows_scanned")
    val resultRows = total("result_rows")
    val inserted = total("storage.input_bytes")
    val opStatements = stmts.take(replayed).zipWithIndex.groupBy(_._1.label)
    val statementSums = (0 until replayed).map { i =>
      spans.all.filter(sp => sp != null && sp.trace == i && sp.parent >= 0).map(_.ms).sum -
        layer(i).getOrElse("dialect.transpile_sql_ms", 0.0)
    }
    val metrics: Seq[(String, String, Double)] = Seq(
      ("setup.session_ms", "ms", setup.sessionMs),
      ("setup.catalog_restore_ms", "ms", setup.catalogRestoreMs),
      ("setup.fixture_ms", "ms", setup.fixtureMs),
      ("setup.server_start_ms", "ms", setup.serverStartMs),
      ("setup.first_answer_ms", "ms", setup.firstAnswerMs),
      ("dialect.transpile_ms", "ms", layerMs("dialect.transpile")),
      ("dialect.build_ms", "ms", layerMs("dialect.build")),
      ("plans.optimize_ms", "ms", layerMs("plans.optimize")),
      ("plans.physical_ms", "ms", layerMs("plans.physical")),
      ("plans.files_read", "count", mean("plans.files_read")),
      ("plans.files_total", "count", mean("plans.files_total")),
      ("exec.run_ms", "ms", layerMs("exec.run")),
      ("exec.jobs", "count", mean("exec.jobs")),
      ("exec.stages", "count", mean("exec.stages")),
      ("exec.tasks", "count", mean("exec.tasks")),
      ("exec.task_run_ms", "ms", mean("exec.task_run_ms")),
      ("exec.task_cpu_ms", "ms", mean("exec.task_cpu_ms")),
      ("exec.task_wait_ms", "ms", mean("exec.task_wait_ms")),
      ("exec.rows_scanned", "rows", mean("exec.rows_scanned")),
      ("exec.rows_scanned_per_result_row", "ratio",
        if (resultRows > 0) rowsScanned / resultRows else 0.0),
      ("exec.input_bytes", "bytes", mean("exec.input_bytes")),
      ("exec.shuffle_read_bytes", "bytes", mean("exec.shuffle_read_bytes")),
      ("exec.shuffle_write_bytes", "bytes", mean("exec.shuffle_write_bytes")),
      ("exec.spill_bytes", "bytes", mean("exec.spill_bytes")),
      ("exec.failed_tasks", "count", total("exec.failed_tasks")),
      ("formats.encode_ms", "ms", layerMs("formats.encode")),
      ("formats.encode_bytes", "bytes", mean("formats.encode_bytes")),
      ("formats.encode_rows_per_s", "rows/s",
        if (encodeMsTotal > 0) total("formats.encode_rows") / (encodeMsTotal / 1e3) else 0.0),
      ("formats.decode_ms", "ms", layerMs("formats.decode")),
      ("storage.insert_ms", "ms", layerMs("storage.insert")),
      ("storage.files_written", "count", mean("storage.files_written")),
      ("storage.bytes_written_per_input_byte", "ratio",
        if (inserted > 0) total("storage.bytes_written") / inserted else 0.0),
      ("server.wire_ms", "ms", e2eMean - layerSum),
      ("server.response_bytes", "bytes", untraced.take(replayed).map(_.wireBytes).sum / n),
      ("server.contention_ms", "ms",
        if (concurrent.isEmpty) 0.0 else {
          val multi = phases.filter(_.clients > 1).flatMap(_.stmts).toSet
          quantile(concurrent.map(_.ms), 0.5) -
            median((0 until replayed).filter(i => multi(stmts(i))).map(statementSums))
        }),
      ("jvm.gc_ms", "ms", gcTotal.toDouble),
      ("jvm.heap_peak_mb", "MB", heapPeakMb()),
      ("trace.e2e_mean_ms", "ms", e2eMean),
      ("trace.layer_sum_ms", "ms", layerSum),
      ("trace.overhead_ms", "ms", tracedMean - e2eMean)) ++
      LlmOperators.names.flatMap { op =>
        val idx = opStatements.get(op).map(_.map(_._2)).getOrElse(Nil)
        Seq((s"operators.${op}_ms", "ms",
          if (idx.isEmpty) 0.0 else idx.map(i => spans.all.filter(sp =>
            sp != null && sp.trace == i && sp.name == s"operators.$op").map(_.ms).sum).sum / idx.length),
          (s"operators.$op.shuffle_bytes", "bytes",
            if (idx.isEmpty) 0.0 else idx.map(i => layer(i).getOrElse("exec.shuffle_write_bytes", 0.0)).sum / idx.length))
      }
    spans.write(Paths.get(a("state"), "trace", s"${a("workload")}-${a("seed")}.jsonl"))
    val meta = base ++ Map(
      "statements" -> stmts.length.toString, "replayed" -> replayed.toString, "spans" -> spans.all.count(_ != null).toString)
    Report.emit(a, meta, samples.toSeq, metrics)
    env.tearDown()
  }

  /** One statement through the layers, each call in its own span.
    * Counts the layers report land in `extra`. */
  private def replay(spark: SparkSession, env: Env, s: Stmt, rbTypes: Seq[(String, String)],
                     spans: Spans, root: Int,
                     trace: Int, extra: scala.collection.mutable.Map[String, Double]): Unit = {
    def span[T](name: String)(f: => T): T = spans(name, root, trace)(f)
    s.via match {
      case Via.Library =>
        val rows = span(s"operators.${s.sql}")(SparkEntry.queries(s.sql)(spark, env.dataDir).collect())
        extra("result_rows") = rows.length.toDouble
      case _ if s.binary.isDefined || s.label.startsWith("insert") =>
        val (header, payload) = s.binary.getOrElse {
          val nl = s.sql.indexOf('\n')
          (s.sql.substring(0, nl), s.sql.substring(nl + 1).getBytes(UTF_8))
        }
        if (s.binary.isDefined) span("formats.decode") {
          NativeCodec.decodeRowBinary(payload, withNamesAndTypes = false, rbTypes)
        }
        val dir = Paths.get(env.warehouse, "perfbench.db", "ingest")
        val (f0, b0) = dirStats(dir)
        span("storage.insert")(Engine.executeInsertPayload(spark, header, payload))
        val (f1, b1) = dirStats(dir)
        extra("storage.files_written") = (f1 - f0).toDouble
        extra("storage.bytes_written") = (b1 - b0).toDouble
        extra("storage.input_bytes") = payload.length.toDouble
      case _ =>
        // Engine.execute transpiles the statement text again inside
        // dialect.build; the time of the transpile calls made here is
        // kept apart so the layer sum counts it once
        var transpileMs = 0.0
        val (main, split, fmtClause, isSelect) = span("dialect.transpile") {
          val (b, f) = Transpiler.extractFormat(s.sql)
          val split = Transpiler.splitTotals(b)
          val main = split.map(_._1).getOrElse(b)
          val isSelect = "(?is)^\\s*(SELECT|WITH)\\b".r.findFirstIn(main).isDefined
          if (isSelect) {
            val t0 = System.nanoTime()
            (main +: split.map(_._2).toSeq).foreach(Transpiler.transpile)
            transpileMs = (System.nanoTime() - t0) / 1e6
          }
          (main, split, f, isSelect)
        }
        extra("dialect.transpile_sql_ms") = transpileMs
        val dfs = span("dialect.build") {
          Engine.execute(spark, main) +: split.map(t => Engine.execute(spark, t._2)).toSeq
        }
        if (isSelect) {
          span("plans.optimize")(dfs.foreach(_.queryExecution.optimizedPlan))
          span("plans.physical")(dfs.foreach(_.queryExecution.executedPlan))
          val rows = span("exec.run") {
            dfs.map(_.toLocalIterator().asScala.toArray)
          }
          val plan = dfs.head.queryExecution.executedPlan
          val sc = scans(plan)
          extra("plans.files_read") = sc.flatMap(_.metrics.get("numFiles")).map(_.value).sum.toDouble
          extra("plans.files_total") = sc.map(_.relation.location.inputFiles.length).sum.toDouble
          extra("exec.rows_scanned") = sc.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum.toDouble
          extra("result_rows") = rows.head.length.toDouble
          val fmt = fmtClause.getOrElse("TabSeparated")
          val schema = dfs.head.schema
          val bytes = span("formats.encode") {
            if (s.via == Via.Native) {
              val out = new CountingStream
              NativeCodec.writeBlocks(out, schema, rows.head.iterator, 65536, customSerFlag = true,
                transform = b => ChCompression.compressFrame(NativeServer.BlockInfoBytes ++ b))
              out.n
            } else if (fmt.equalsIgnoreCase("Native")) {
              val out = new CountingStream
              NativeCodec.writeBlocks(out, schema, rows.head.iterator, 65536)
              out.n
            } else {
              val out = new CountingWriter
              ResultFormatter.writeRows(schema, rows.head.iterator, fmt, out,
                totals = rows.lift(1).flatMap(_.headOption))
              out.n
            }
          }
          extra("formats.encode_bytes") = bytes.toDouble
          extra("formats.encode_rows") = rows.head.length.toDouble
        }
    }
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
