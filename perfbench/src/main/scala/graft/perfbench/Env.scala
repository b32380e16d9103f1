package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.dialect.{CatalogStore, ChContext, HitsFixture}
import graft.server.{HttpServer, NativeServer}

/** Durations of one set-up, phase by phase, in ms. */
final case class SetupTimes(sessionMs: Double, catalogRestoreMs: Double,
                            fixtureMs: Double, serverStartMs: Double,
                            firstAnswerMs: Double) {
  def totalS: Double =
    (sessionMs + catalogRestoreMs + fixtureMs + serverStartMs + firstAnswerMs) / 1e3
}

/** The engine as a deployment runs it: one Spark session on a warehouse
  * the benchmark owns, the fixture views, and both protocol servers
  * listening on ephemeral ports. */
final class Env(val state: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
  val dataDir = s"$state/data"
  val warehouse = s"$state/warehouse"

  var spark: SparkSession = _
  var http: HttpServer = _
  var native: NativeServer = _

  /** The served engine's session settings (those of the engine's own
    * HTTP entry point), with the warehouse and scratch space moved
    * inside the benchmark's state directory. */
  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$state/spark-local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Session, catalog restore, fixtures, server bind, first answer. The
    * session phase counts from JVM start, so the set-up is the cold one
    * a deployment pays from process start. */
  def setUp(): SetupTimes = {
    spark = newSession()
    val session = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime).toDouble
    var t = System.nanoTime()
    CatalogStore.resetRestored(spark)
    CatalogStore.ensureRestored(spark)
    val restore = ms(t)
    t = System.nanoTime()
    ChContext.setup(spark, dataDir)
    HitsFixture.ensure(spark)
    val fixture = ms(t)
    t = System.nanoTime()
    http = new HttpServer(spark, 0, Some(dataDir))
    http.start()
    native = new NativeServer(spark, 0, Some(dataDir))
    native.start()
    val bind = ms(t)
    t = System.nanoTime()
    val r = new HttpClient(http.boundPort).query("SELECT 1")
    require(r.error.isEmpty && new String(r.body).trim == "1",
      s"first answer wrong: ${r.error.getOrElse(new String(r.body))}")
    SetupTimes(session, restore, fixture, bind, ms(t))
  }

  def tearDown(): Unit = {
    if (http != null) http.stop()
    if (native != null) native.stop()
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    http = null; native = null; spark = null
  }

  /** Settings the session actually runs with (for the run record). */
  def effectiveConf: Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.")).sortBy(_._1)
}
