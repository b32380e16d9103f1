package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.net.{HttpURLConnection, Socket, URI}
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.JobCounter.jobsDuring
import org.apache.spark.sql.types.TimestampType
import graft.dialect.{ChContext, Engine}
import graft.server.{HttpServer, NativeServer}

/** Session set-up is job-free and write-free: fixture schemas come from
  * parquet footers, the catalog-backed system tables are answered live,
  * and a `database=` request or a new credential costs the same Spark
  * jobs as the shared session. */
class SessionSetupSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  private val fixtures = "/root/testdata/sf0.001"
  private var server: HttpServer = _

  override def beforeAll(): Unit = {
    ChContext.setup(spark, fixtures)
    server = new HttpServer(spark, 0, Some(fixtures))
    server.start()
  }

  private val tempDirs = scala.collection.mutable.Buffer.empty[JPath]
  private def tempDir(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    tempDirs.foreach(d => Files.walk(d).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists))
  }

  /** (status, body) of a GET on `port`. */
  private def get(port: Int, query: String, params: String = ""): (Int, String) = {
    val q = java.net.URLEncoder.encode(query, "UTF-8")
    val c = URI.create(s"http://localhost:$port/?query=$q$params").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code == 200) c.getInputStream else c.getErrorStream
      (code, new String(in.readAllBytes(), "UTF-8"))
    } finally c.disconnect()
  }

  private def http(query: String, params: String = ""): (Int, String) =
    get(server.boundPort, query, params)

  /** A copy of the fixture files in a fresh directory, so no footer of
    * them has been read yet in this JVM. */
  private def freshFixtureCopy(): String = {
    val dir = tempDir("setupspec_fixtures_")
    Tables.names.foreach { t =>
      Files.copy(JPath.of(fixtures, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  /** One events file whose `ts` column has the given parquet type. */
  private def writeEvents(dir: JPath, tsType: String, ts: Seq[Long]): String = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { optional int64 event_id; optional int64 ts ($tsType); }")
    val path = dir.resolve("events.parquet").toString
    val w = ExampleParquetWriter.builder(new Path(path))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (v, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", v))
    } finally w.close()
    path
  }

  test("footer schema equals spark.read.parquet's inferred schema on every fixture") {
    Tables.names.foreach { t =>
      val p = s"$fixtures/$t.parquet"
      val inferred = spark.read.parquet(p).schema
      assert(Tables.footerSchema(spark, p) === inferred, t)
      assert(Tables.load(spark, fixtures, t).schema === inferred, t)
    }
  }

  test("footer schema matches inference for both events.ts encodings") {
    val micros = 1700000000123456L
    Seq("TIMESTAMP(NANOS,false)" -> (micros * 1000 + 789),
        "TIMESTAMP(MICROS,false)" -> micros).foreach { case (tsType, v) =>
      val dir = tempDir("setupspec_events_")
      val p = writeEvents(dir, tsType, Seq(v))
      val inferred = spark.read.parquet(p).schema
      assert(Tables.footerSchema(spark, p) === inferred, tsType)
      // both encodings normalize to the same TIMESTAMP instant
      val ev = Tables.events(spark, dir.toString)
      assert(ev.schema("ts").dataType === TimestampType, tsType)
      assert(ev.selectExpr("unix_micros(ts)").head().getLong(0) === micros, tsType)
    }
  }

  test("ChContext.setup on a fresh session starts no Spark job and writes no system table") {
    val sysDir = JPath.of(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "system.db")
    def written: Set[(String, Long)] =
      if (!Files.exists(sysDir)) Set.empty
      else Files.walk(sysDir).iterator().asScala
        .map(p => (p.toString, p.toFile.lastModified())).toSet
    val before = written
    val fresh = spark.newSession()
    val (_, jobs) = jobsDuring(spark)(ChContext.setup(fresh, freshFixtureCopy()))
    assert(jobs === 0)
    assert(written === before)
    def rows(sql: String): Seq[String] =
      Engine.execute(fresh, sql).collect().map(_.get(0).toString).toSeq
    assert(rows("SELECT name FROM system.databases").toSet.contains("system"))
    // only the static stubs live in database `system`
    assert(rows("SELECT name FROM system.tables WHERE database = 'system' " +
      "ORDER BY name") === Seq("one", "settings"))
    assert(rows("SELECT name FROM system.columns WHERE table = 'nation' " +
      "ORDER BY position").head === "n_nationkey")
    assert(rows("SELECT name FROM system.functions WHERE is_aggregate = 1")
      .contains("uniq"))
    assert(rows("SELECT dummy FROM system.one") === Seq("0"))
    assert(rows("SELECT value FROM system.settings " +
      "WHERE name = 'session_timezone'") === Seq("UTC"))
  }

  test("system tables answer over HTTP") {
    Seq("databases", "tables", "columns", "functions", "one", "settings")
      .foreach { t =>
        val (code, body) = http(s"SELECT count() FROM system.$t")
        assert(code === 200, s"$t: $body")
        assert(body.trim.toLong > 0, t)
      }
  }

  test("database= and a new credential run the shared session's Spark jobs, no more") {
    val q = "SELECT n_name FROM nation WHERE n_nationkey = 3"
    http(q) // first-execution effects stay out of the comparison
    val (shared, sharedJobs) = jobsDuring(spark)(http(q))
    val (scoped, scopedJobs) = jobsDuring(spark)(http(q, "&database=default"))
    val (user, userJobs) =
      jobsDuring(spark)(http(q, s"&user=setupspec_${System.nanoTime()}"))
    assert(shared._1 === 200 && shared._2.trim.nonEmpty, shared._2)
    assert(scoped === shared && user === shared)
    assert(scopedJobs === sharedJobs)
    assert(userJobs === sharedJobs)
  }

  test("100 database= requests do not grow the Tables.load memo") {
    assert(http("SELECT 1", "&database=default")._1 === 200)
    val size = Tables.footerMemoSize
    (1 to 100).foreach { _ =>
      assert(http("SELECT 1", "&database=default") === ((200, "1\n")))
    }
    assert(Tables.footerMemoSize === size)
  }

  test("stopped HTTP and native servers leave no non-daemon thread") {
    def nonDaemon: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    val before = nonDaemon
    val h = new HttpServer(spark, 0)
    val n = new NativeServer(spark, 0)
    h.start(); n.start()
    // put a handler thread to work on each
    assert(get(h.boundPort, "SELECT 1") === ((200, "1\n")))
    new Socket("localhost", n.boundPort).close()
    h.stop(); n.stop()
    val deadline = System.nanoTime() + 10000000000L
    while ((nonDaemon -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((nonDaemon -- before).isEmpty,
      (nonDaemon -- before).map(_.getName).mkString(", "))
  }
}
