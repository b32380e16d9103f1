package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.dialect.{Engine, HitsFixture}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Command line: `--mode prepare|run|trace --state <dir> [--workload w
  * --seed n --seconds s --deadline-ms t --commit c]`. */
final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
}

/** One statement as a client saw it. */
final case class Sample(label: String, ms: Double, error: Option[String],
                        rowsIn: Long, rowsOut: Long, wireBytes: Long)

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val code =
      try {
        a("mode") match {
          case "prepare" => prepare(a)
          case "run" => Runner.run(a)
          case "trace" => Tracer.run(a)
        }
        0
      } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    // the engine's HTTP server leaves non-daemon pool threads behind
    System.exit(code)
  }

  /** Build the hits fixture in the benchmark's warehouse and dump what
    * fixtures.py needs for the expected answers: the 43 ClickBench
    * texts (read back from the engine's query log, so they are exactly
    * what the engine's own cb entries send) with their DuckDB oracles,
    * the operator oracles, and the hits UserID histogram query. */
  private def prepare(a: Args): Unit = {
    val env = new Env(a("state"))
    val t0 = System.nanoTime()
    env.setUp()
    val spark = env.spark
    System.err.println(f"[perfbench] hits fixture ready in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    val json = new ObjectMapper()
    val out = Paths.get(a("state"), "prepared")
    val cb = SparkEntry.all.filter(_.name.startsWith("cb")).sortBy(_.name).map { q =>
      q.run(spark, env.dataDir)
      val logged = Engine.queryLogSnapshot(spark).collect().last.getString(1)
      s"${q.name}\t${json.writeValueAsString(logged)}\t${json.writeValueAsString(q.oracle.get)}"
    }
    require(cb.length == 43, s"expected 43 ClickBench queries, found ${cb.length}")
    Files.write(out.resolve("cb.tsv"), cb.asJava, UTF_8)
    val llm = LlmOperators.names.map { n =>
      s"$n\t${json.writeValueAsString(SparkEntry.oracleSql(n))}"
    }
    Files.write(out.resolve("llm.tsv"), llm.asJava, UTF_8)
    Files.write(out.resolve("hits_users.sql"), HitsFixture.oracle(
      "SELECT UserID, count(*) AS c FROM hits GROUP BY UserID").getBytes(UTF_8))
    env.tearDown()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The machine's cpu time counters (/proc/stat), for the share the
    * hypervisor stole during the run: ambient load from other guests. */
  def cpuTimes(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
  private lazy val cpuAtStart = cpuTimes()

  def stealPct(): Double = {
    val d = cpuTimes().zip(cpuAtStart).map { case (b, a) => b - a }
    if (d.length < 8 || d.sum == 0) Double.NaN else 100.0 * d(7) / d.sum
  }

  /** Peak resident set of this JVM, from /proc. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Sets up once, from JVM start, and returns the environment, the
    * set-up times and the run record's common part: commit, nproc,
    * loadavg, effective Spark conf, cold fixture build. */
  def startUp(a: Args): (Env, SetupTimes, Map[String, String]) = {
    val load0 = loadavg()
    cpuAtStart
    val env = new Env(a("state"))
    val setup = env.setUp()
    val coldBuild = Paths.get(a("state"), "prepared", "cold_build_s")
    val base = Map(
      "workload" -> s""""${a("workload")}"""", "seed" -> a("seed"),
      "commit" -> s""""${a.get("commit").getOrElse("")}"""",
      "nproc" -> env.cpus.toString,
      "loadavg_start" -> jsonNum(load0),
      "setup_phases_ms" -> Seq("session" -> setup.sessionMs, "catalog_restore" -> setup.catalogRestoreMs,
        "fixture" -> setup.fixtureMs, "server_start" -> setup.serverStartMs,
        "first_answer" -> setup.firstAnswerMs).map { case (k, v) => s""""$k":${jsonNum(v)}""" }
        .mkString("{", ",", "}"),
      "cold_fixture_build_s" ->
        (if (Files.exists(coldBuild)) Files.readString(coldBuild).trim else "null"),
      "spark_conf" -> env.effectiveConf.map { case (k, v) => s""""$k":"${v.replace("\"", "\\\"")}"""" }
        .mkString("{", ",", "}"))
    (env, setup, base)
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  /** The workload's statements, as the untraced client and the traced
    * replay both see them. */
  def workload(name: String, env: Env, exp: Expected, seed: Long): Workload = name match {
    case "clickbench-ingest-http" => new ClickBenchIngestHttp(exp, seed,
      IngestExport.announcedTypes(new HttpClient(env.http.boundPort)))
    case "short-mixed-native-ops" => new ShortMixedNativeOps(exp, seed)
  }
}

/** Runs statements through the real servers (or the library entry
  * point), closed loop, and times each from send to last byte. */
final class Driver(env: Env) {
  private val local = new ThreadLocal[(HttpClient, NativeClient)]
  private val natives = new java.util.concurrent.ConcurrentLinkedQueue[NativeClient]()

  private def clients: (HttpClient, NativeClient) = {
    if (local.get == null) {
      val n = new NativeClient(env.native.boundPort)
      natives.add(n)
      local.set((new HttpClient(env.http.boundPort), n))
    }
    local.get
  }

  def exec(s: Stmt): Sample = {
    val (http, native) = clients
    val t0 = System.nanoTime()
    val reply =
      try s.via match {
        case Via.Http => s.binary match {
          case Some((header, body)) => http.post(body, Some(header))
          case None => http.query(s.sql)
        }
        case Via.Native => native.query(s.sql)
        case Via.Library =>
          Reply(None, rows = SparkEntry.queries(s.sql)(env.spark, env.dataDir)
            .collect().toSeq.map(_.toSeq))
      } catch { case t: Throwable => Reply(Some(s"${t.getClass.getSimpleName}: ${t.getMessage}")) }
    val ms = (System.nanoTime() - t0) / 1e6
    val checked = reply.error.map(Left(_)).getOrElse(
      try s.check(reply) catch { case t: Throwable => Left(s"check failed: $t") })
    checked.left.foreach(e => System.err.println(s"[perfbench] WRONG ${s.label}: ${e.take(400)}"))
    Sample(s.label, ms, checked.left.toOption, s.rowsIn, checked.getOrElse(0L), reply.wireBytes)
  }

  /** One pass: its phases in turn, each with its closed-loop clients
    * sharing the statement list. Returns the samples in statement order
    * and the pass wall time. */
  def pass(phases: Seq[Phase]): (IndexedSeq[Sample], Double) = {
    val t0 = System.nanoTime()
    val samples = phases.flatMap(ph => run(ph.stmts, ph.clients)).toIndexedSeq
    (samples, (System.nanoTime() - t0) / 1e9)
  }

  def run(stmts: IndexedSeq[Stmt], n: Int): IndexedSeq[Sample] = {
    val out = new Array[Sample](stmts.length)
    val next = new AtomicInteger(0)
    val threads = (0 until n).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < stmts.length) { out(i) = exec(stmts(i)); i = next.getAndIncrement() }
      })
    }
    if (n == 1) threads.head.run() else { threads.foreach(_.start()); threads.foreach(_.join()) }
    out.toIndexedSeq
  }

  def close(): Unit = natives.asScala.foreach(c => try c.close() catch { case _: Throwable => () })
}

/** The untraced run: end-to-end metrics only. */
object Runner {
  import Main._

  def run(a: Args): Unit = {
    val (env, setup, base) = startUp(a)
    val exp = new Expected(a("state"))
    val samples = ArrayBuffer.empty[Sample]
    val w = workload(a("workload"), env, exp, a("seed").toLong)
    val driver = new Driver(env)
    val measured = ArrayBuffer.empty[Sample]
    val passSecs = ArrayBuffer.empty[Double]
    val budget = a("seconds").toDouble
    val deadline = a("deadline-ms").toLong
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 0
    // stop early rather than overrun the deadline: another pass must
    // fit, with room left to report
    while ((elapsed < budget || p == 0) &&
        System.currentTimeMillis() + 2000 * (elapsed / math.max(p, 1)) < deadline - 20000) {
      val (ss, secs) = driver.pass(w.pass(p))
      measured ++= ss; passSecs += secs; p += 1
    }
    val wall = elapsed
    driver.close()
    samples ++= measured
    val lat = measured.map(_.ms).toSeq
    val rows = measured.map(s => s.rowsIn + s.rowsOut).sum
    val metrics = Seq(
      ("setup_s", "s", setup.totalS),
      ("sweep_s", "s", median(passSecs.toSeq)),
      ("qps", "1/s", measured.length / wall),
      ("latency_p50_ms", "ms", quantile(lat, 0.5)),
      ("latency_p90_ms", "ms", quantile(lat, 0.9)),
      ("rows_per_s", "rows/s", rows / wall),
      ("rss_peak_mb", "MB", rssPeakMb()))
    // the workload-specific figures, under the names the issue gives them
    def rate(f: Sample => Boolean, rowsOf: Sample => Long): Option[Double] = {
      val ss = measured.filter(f)
      if (ss.isEmpty) None else Some(ss.map(rowsOf).sum / (ss.map(_.ms).sum / 1e3))
    }
    val figures = Seq(
      "ingest_rows_per_s" -> rate(_.label.startsWith("insert"), _.rowsIn).map(_ -> "rows/s"),
      "export_rows_per_s" -> rate(_.label.startsWith("export"), _.rowsOut).map(_ -> "rows/s"),
      "pipeline_s" -> Some(measured.filter(s => LlmOperators.names.contains(s.label)).map(_.ms).sum / 1e3 / p)
        .filter(_ > 0).map(_ -> "s"),
      "failed_frac" -> Some(samples.count(_.error.nonEmpty).toDouble / samples.length -> "ratio"))
      .collect { case (n, Some((v, u))) => s""""$n":{"value":${jsonNum(v)},"unit":"$u"}""" }
    val meta = base ++ Map(
      "passes" -> p.toString, "samples" -> measured.length.toString,
      "pass_s" -> passSecs.map(jsonNum).mkString("[", ",", "]"),
      "figures" -> figures.mkString("{", ",", "}"),
      "p50_ms_by_statement" -> measured.groupBy(_.label).toSeq.sortBy(_._1)
        .map { case (l, ss) => s""""$l":${jsonNum(median(ss.map(_.ms).toSeq))}""" }
        .mkString("{", ",", "}"))
    Report.emit(a, meta, samples.toSeq, metrics)
    env.tearDown()
  }
}

/** Prints the run record and the result line (the last line). */
object Report {
  def emit(a: Args, meta: Map[String, String], all: Seq[Sample],
           metrics: Seq[(String, String, Double)]): Unit = {
    val failed = all.count(_.error.nonEmpty)
    val metaJson = (meta + ("loadavg_end" -> Main.jsonNum(Main.loadavg())) +
        ("cpu_steal_pct" -> Main.jsonNum(Main.stealPct()))).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val record = s"""{"perfbench_run":$metaJson}"""
    val dir = Paths.get(a("state"), "runs")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${a("workload")}-${a("seed")}-${a("mode")}.json"),
      (record + "\n").getBytes(UTF_8))
    println(record)
    val m = metrics.map { case (n, u, v) =>
      s""""$n":{"value":${Main.jsonNum(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":${all.length},"failed":$failed,"metrics":$m}""")
  }
}
