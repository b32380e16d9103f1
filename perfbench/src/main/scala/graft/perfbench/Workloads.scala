package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.util.zip.CRC32
import com.fasterxml.jackson.databind.ObjectMapper
import graft.formats.NativeCodec
import scala.util.Random

/** Where a statement goes: the HTTP server, the native server, or the
  * library entry point (operator queries). */
sealed trait Via
object Via {
  case object Http extends Via
  case object Native extends Via
  case object Library extends Via
}

/** One statement of a workload. `check` returns the number of result
  * rows the client received, or the reason the answer is wrong.
  * `binary` carries a bulk INSERT's header and raw body. */
final case class Stmt(label: String, sql: String, via: Via,
                      check: Reply => Either[String, Long],
                      binary: Option[(String, Array[Byte])] = None,
                      rowsIn: Long = 0L)

/** Statements that `clients` closed-loop clients share, each client on
  * its own connection. */
final case class Phase(stmts: IndexedSeq[Stmt], clients: Int)

/** A workload: the phases of each pass, generated from the seed. A pass
  * is the unit `sweep_s` times; its phases run one after the other. */
abstract class Workload(val name: String) {
  def pass(p: Int): Seq[Phase]
}

object Checks {
  def tsv(r: Reply): IndexedSeq[Array[String]] =
    new String(r.body, UTF_8).split("\n").toIndexedSeq.filter(_.nonEmpty)
      .map(_.split("\t", -1))

  private def num(s: String): Option[Double] = s.toDoubleOption

  def cellEq(got: String, exp: String): Boolean =
    got == exp || ((num(got), num(exp)) match {
      case (Some(a), Some(b)) => math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
      case _ => (got, exp) match {
        case ("true", "1") | ("false", "0") => true
        case _ => false
      }
    })

  def rowsEq(got: IndexedSeq[Array[String]], exp: Seq[Seq[String]]): Either[String, Long] =
    if (got.length != exp.length) Left(s"${got.length} rows, expected ${exp.length}")
    else got.zip(exp).zipWithIndex.collectFirst {
      case ((g, e), i) if g.length != e.length || !g.zip(e).forall { case (a, b) => cellEq(a, b) } =>
        Left(s"row $i: ${g.mkString("|")} != ${e.mkString("|")}")
    }.getOrElse(Right(got.length.toLong))

  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes(UTF_8)); c.getValue }

  def epoch(s: String): Long =
    LocalDateTime.parse(s.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC)

  /** A result row as (exact key, inexact numbers), the split
    * fixtures.py makes of the DuckDB oracle rows: integers, strings and
    * booleans (as 1/0) form the key; floats and decimals are compared
    * with a tolerance. */
  def splitRow(r: org.apache.spark.sql.Row): (String, Seq[Double]) = {
    val key = Seq.newBuilder[String]; val nums = Seq.newBuilder[Double]
    (0 until r.length).foreach { i =>
      r.get(i) match {
        case null => key += "\\N"
        case b: Boolean => key += (if (b) "1" else "0")
        case x: java.math.BigDecimal => nums += x.doubleValue
        case x: java.lang.Double => nums += x
        case x: java.lang.Float => nums += x.doubleValue
        case x => key += x.toString
      }
    }
    (key.result().mkString("|"), nums.result())
  }

  /** Compare operator rows with the oracle's, both sorted by key. */
  def operatorRows(got: Seq[(String, Seq[Double])],
                   exp: Seq[(String, Seq[Double])]): Option[String] = {
    val g = got.sortWith { (a, b) =>
      if (a._1 != b._1) a._1 < b._1
      else a._2.zip(b._2).find(p => p._1 != p._2).exists(p => p._1 < p._2)
    }
    if (g.length != exp.length) Some(s"${g.length} rows, expected ${exp.length}")
    else g.zip(exp).zipWithIndex.collectFirst {
      case ((x, y), i) if x._1 != y._1 || x._2.length != y._2.length ||
          x._2.zip(y._2).exists { case (a, b) => math.abs(a - b) > 1e-5 * math.max(1.0, math.abs(b)) } =>
        s"row $i: $x != $y"
    }
  }
}

/** Column sums over an exported table, format by format. Kinds: "num"
  * (numeric sum), "str" (crc32 sum), "ts" (epoch-seconds sum). */
final class ColumnSums(cols: Seq[(String, String)]) {
  private val sums = new Array[Double](cols.length)
  private val exact = new Array[Long](cols.length)
  var rows = 0L

  private def add(i: Int, v: Any): Unit = (cols(i)._2, v) match {
    case ("num", x: Number) => sums(i) += x.doubleValue
    case ("num", x: BigDecimal) => sums(i) += x.toDouble
    case ("num", x) => sums(i) += x.toString.toDouble
    case ("str", x) => exact(i) += Checks.crc(x.toString)
    case ("ts", x: java.time.Instant) => exact(i) += x.getEpochSecond
    case ("ts", x) => exact(i) += Checks.epoch(x.toString)
  }

  def tsv(body: Array[Byte]): this.type = {
    Checks.tsv(Reply(None, body)).foreach { r =>
      r.indices.foreach(i => add(i, r(i))); rows += 1
    }
    this
  }

  def jsonEachRow(body: Array[Byte]): this.type = {
    val m = new ObjectMapper()
    new String(body, UTF_8).split("\n").filter(_.nonEmpty).foreach { line =>
      val n = m.readTree(line)
      cols.indices.foreach(i => add(i, n.get(cols(i)._1).asText)); rows += 1
    }
    this
  }

  def native(body: Array[Byte]): this.type = {
    val (_, rs) = NativeCodec.decodeAll(body)
    rs.foreach { r => r.indices.foreach(i => add(i, r(i))); rows += 1 }
    this
  }

  /** Compare with expected (count, column -> sum); None when equal. */
  def diff(expRows: Long, exp: Map[String, Double]): Option[String] =
    if (rows != expRows) Some(s"$rows rows, expected $expRows")
    else cols.indices.collectFirst {
      case i if cols(i)._2 == "num" &&
          math.abs(sums(i) - exp(cols(i)._1)) > 1e-9 * math.max(1.0, math.abs(exp(cols(i)._1))) =>
        s"${cols(i)._1} sum ${sums(i)} != ${exp(cols(i)._1)}"
      case i if cols(i)._2 != "num" && exact(i) != exp(cols(i)._1).toLong =>
        s"${cols(i)._1} checksum ${exact(i)} != ${exp(cols(i)._1).toLong}"
    }
}

/** One HTTP client: the 43 ClickBench queries as SQL text in a seeded
  * order (the reference's CI gate), then the ingest-and-export cycle. */
final class ClickBenchIngestHttp(exp: Expected, seed: Long, rowBinaryTypes: Seq[String])
    extends Workload("clickbench-ingest-http") {
  private val ingest = new IngestExport(exp, rowBinaryTypes)
  def pass(p: Int): Seq[Phase] = {
    val r = new Random(seed * 7919 + p)
    val cb = r.shuffle(exp.cbQueries).map { case (name, sql) =>
      val want = exp.cbRows(name)
      Stmt(name, sql, Via.Http, rep => Checks.rowsEq(Checks.tsv(rep), want))
    }
    Seq(Phase(cb ++ ingest.cycle(r, p), 1))
  }
}

/** Four native connections on cheap statements (the per-query floor and
  * server concurrency), then the LLM-data operators through the library
  * entry point, their results collected and checked against DuckDB. */
final class ShortMixedNativeOps(exp: Expected, seed: Long) extends Workload("short-mixed-native-ops") {
  def pass(p: Int): Seq[Phase] = {
    val r = new Random(seed * 7919 + p)
    val mix = r.shuffle((0 until kinds).flatMap(Seq.fill(perKind)(_))).map(gen(_, r)).toIndexedSeq
    Seq(Phase(mix, 4), Phase(LlmOperators.names.toIndexedSeq.map(operator), 1))
  }

  private def operator(op: String): Stmt = {
    val want = exp.llm(op)
    Stmt(op, op, Via.Library, r => Checks.operatorRows(
      r.rows.map(x => Checks.splitRow(org.apache.spark.sql.Row.fromSeq(x))), want)
      .map(Left(_)).getOrElse(Right(r.rows.length.toLong)))
  }

  private def big(v: Any): BigInt = v match {
    case b: BigDecimal => b.toBigInt
    case b: java.math.BigDecimal => BigInt(b.toBigInteger)
    case n: Number => BigInt(n.longValue)
    case x => BigInt(x.toString)
  }
  private def near(a: Any, b: Double) =
    math.abs(a.toString.toDouble - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** A pass holds each kind of statement the same number of times, so
    * no kind is weighted over another; 7 kinds x 15 = 105 statements, at
    * least 100 latency samples a pass. The seed draws keys, sizes and
    * order. */
  private val kinds = 7
  private val perKind = 15

  /** `numbers(N)` sizes run from 1 to the row count of `hits`, the
    * largest table the same mix's point filters scan. */
  private val maxN = exp.hitsUsers.map(_._2).sum
  private def size(r: Random): Long = 1L + (r.nextDouble() * maxN).toLong

  private def gen(family: Int, r: Random): Stmt = family match {
    case 0 =>
      Stmt("version", "SELECT version()", Via.Native, rep =>
        if (rep.rows.length == 1 && rep.rows.head.head.toString.nonEmpty) Right(1L)
        else Left(s"version: ${rep.rows}"))
    case 1 =>
      val n = size(r)
      Stmt("numbers", s"SELECT count() AS c, sum(number) AS s FROM numbers($n)", Via.Native,
        rep => rep.rows match {
          case Seq(Seq(c, s)) if big(c) == n && big(s) == BigInt(n) * (n - 1) / 2 => Right(1L)
          case other => Left(s"numbers($n): $other")
        })
    case 2 =>
      val (k, c, st, price) = exp.orders(r.nextInt(exp.orders.length))
      Stmt("point_orders",
        s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = $k",
        Via.Native, rep => rep.rows match {
          case Seq(Seq(a, b, s, p)) if big(a) == k && big(b) == c && s == st && near(p, price) => Right(1L)
          case other => Left(s"orders $k: $other")
        })
    case 3 =>
      // the cb19 shape: a point filter on the UInt64 UserID of hits
      val (uid, cnt) = exp.hitsUsers(r.nextInt(exp.hitsUsers.length))
      Stmt("point_hits", s"SELECT UserID FROM hits WHERE UserID = $uid", Via.Native,
        rep => if (rep.rows.length == cnt && rep.rows.forall(row => big(row.head) == uid))
          Right(cnt) else Left(s"hits UserID $uid: ${rep.rows.length} rows, expected $cnt"))
    case 4 =>
      val n = size(r)
      // at most 10 groups: small, like the ClickBench queries' LIMIT 10
      val m = 2 + r.nextInt(9)
      val want = (0 until m).map { k =>
        val ks = (k.toLong until n by m.toLong)
        (k.toLong, ks.length.toLong, ks.map(BigInt(_)).sum)
      }.filter(_._2 > 0)
      Stmt("group_totals",
        s"SELECT number % $m AS k, count() AS c, sum(number) AS s FROM numbers($n) " +
          "GROUP BY k WITH TOTALS ORDER BY k", Via.Native, rep => {
          val got = rep.rows.map(row => (big(row(0)).toLong, big(row(1)).toLong, big(row(2))))
          val tot = rep.totals.map(t => (big(t(1)).toLong, big(t(2))))
          if (got == want && tot.contains((n, BigInt(n) * (n - 1) / 2))) Right(want.length + 1L)
          else Left(s"group_totals n=$n m=$m: $got totals $tot")
        })
    case 5 =>
      val cust = exp.orders(r.nextInt(exp.orders.length))._2
      val want = exp.orders.filter(_._2 == cust).groupBy(_._3).toSeq.sortBy(_._1)
        .map { case (s, os) => (s, os.length.toLong, os.map(_._4).sum) }
      Stmt("group_orders",
        s"SELECT o_orderstatus, count() AS c, sum(o_totalprice) AS s FROM orders " +
          s"WHERE o_custkey = $cust GROUP BY o_orderstatus ORDER BY o_orderstatus",
        Via.Native, rep => {
          val ok = rep.rows.length == want.length && rep.rows.zip(want).forall {
            case (Seq(s, c, t), (ws, wc, wt)) => s == ws && big(c) == wc && near(t, wt)
            case _ => false
          }
          if (ok) Right(want.length.toLong) else Left(s"orders of $cust: ${rep.rows} != $want")
        })
    case _ =>
      // the Play UI's table-browser probe
      Stmt("play_tables", "SELECT database, name FROM system.tables " +
        "WHERE database NOT IN ('system') ORDER BY database, name", Via.Native,
        rep => if (rep.rows.exists(r => r == Seq("clickbench", "hits"))) Right(rep.rows.length.toLong)
          else Left(s"system.tables lacks clickbench.hits: ${rep.rows.take(5)}"))
  }

}

/** Bulk INSERTs (TSV and RowBinary) over HTTP into a fresh MergeTree
  * table and a read-back, then large results streamed out in TSV,
  * JSONEachRow and Native: lineitem and the new table. */
final class IngestExport(exp: Expected, rowBinaryTypes: Seq[String]) {
  import IngestExport._
  /** One batch per format, together as many rows as the lineitem
    * export reads out: the ingest writes what the export reads. */
  val batches = 2
  val batchRows: Int = exp.lineitem("rows").toInt / batches
  private val cols = Seq("id" -> "num", "ts" -> "ts", "k" -> "str", "v" -> "num", "n" -> "num")
  private val lineitemCols = Seq(
    "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
    "l_linenumber" -> "num", "l_quantity" -> "num", "l_extendedprice" -> "num",
    "l_discount" -> "num", "l_tax" -> "num", "l_returnflag" -> "str",
    "l_linestatus" -> "str", "l_shipdate" -> "ts")
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val ok: Reply => Either[String, Long] = r => r.error.map(Left(_)).getOrElse(Right(0L))

  def cycle(r: Random, p: Int): IndexedSeq[Stmt] = {
    val t0 = 1704067200L // 2024-01-01, rows span three months
    case class Row(id: Long, ts: Long, k: String, v: Double, n: Int)
    val rows = IndexedSeq.tabulate(batches * batchRows) { i =>
      Row((p + 10L) * 10000000L + i, t0 + r.nextInt(90 * 86400), f"k${r.nextInt(64)}%02d",
        r.nextInt(10000000) / 1000.0, r.nextInt())
    }
    val sums = Map(
      "id" -> rows.map(_.id.toDouble).sum, "ts" -> rows.map(_.ts.toDouble).sum,
      "k" -> rows.map(x => Checks.crc(x.k).toDouble).sum, "v" -> rows.map(_.v).sum,
      "n" -> rows.map(_.n.toDouble).sum)
    val inserts = rows.grouped(batchRows).zipWithIndex.map { case (b, i) =>
      if (i % 2 == 0) {
        val sb = new StringBuilder(s"INSERT INTO $table FORMAT TSV\n")
        b.foreach { x =>
          sb.append(x.id).append('\t')
            .append(LocalDateTime.ofEpochSecond(x.ts, 0, ZoneOffset.UTC).format(tsFmt)).append('\t')
            .append(x.k).append('\t').append(x.v).append('\t').append(x.n).append('\n')
        }
        Stmt("insert_tsv", sb.toString, Via.Http, ok, rowsIn = b.length)
      } else {
        // RowBinary as the server announces the columns: a Nullable(T)
        // column carries a null-flag byte before each value
        val flag = rowBinaryTypes.map(_.startsWith("Nullable("))
        val bb = ByteBuffer.allocate(b.length * 48).order(ByteOrder.LITTLE_ENDIAN)
        def f(i: Int): Unit = if (flag(i)) bb.put(0.toByte)
        b.foreach { x =>
          f(0); bb.putLong(x.id); f(1); bb.putInt(x.ts.toInt)
          val kb = x.k.getBytes(UTF_8)
          f(2); bb.put(kb.length.toByte).put(kb); f(3); bb.putDouble(x.v); f(4); bb.putInt(x.n)
        }
        val body = java.util.Arrays.copyOf(bb.array, bb.position)
        Stmt("insert_rowbinary", s"INSERT INTO $table FORMAT RowBinary", Via.Http, ok,
          binary = Some((s"INSERT INTO $table FORMAT RowBinary", body)), rowsIn = b.length)
      }
    }.toIndexedSeq
    val n = rows.length.toLong
    val idSum = rows.map(x => BigInt(x.id)).sum
    def export(label: String, src: String, fmt: String, colSpec: Seq[(String, String)],
               expRows: Long, expSums: Map[String, Double]): Stmt =
      Stmt(label, s"SELECT ${colSpec.map(_._1).mkString(", ")} FROM $src FORMAT $fmt", Via.Http,
        rep => rep.error match {
        case Some(e) => Left(e)
        case None =>
          val s = new ColumnSums(colSpec)
          fmt match {
            case "TabSeparated" => s.tsv(rep.body)
            case "JSONEachRow" => s.jsonEachRow(rep.body)
            case "Native" => s.native(rep.body)
          }
          s.diff(expRows, expSums).map(Left(_)).getOrElse(Right(s.rows))
      })
    val li = exp.lineitem
    IndexedSeq(
      Stmt("ddl", "CREATE DATABASE IF NOT EXISTS perfbench", Via.Http, ok),
      Stmt("ddl", s"DROP TABLE IF EXISTS $table SYNC", Via.Http, ok),
      Stmt("ddl", createTable, Via.Http, ok)) ++
      inserts ++
      IndexedSeq(
        Stmt("readback", s"SELECT count() AS c, sum(id) AS s FROM $table", Via.Http, rep => {
          val t = Checks.tsv(rep)
          if (rep.error.isEmpty && t.length == 1 && t(0)(0).toLong == n && BigInt(t(0)(1)) == idSum)
            Right(1L)
          else Left(s"read-back ${rep.error.getOrElse(t.map(_.mkString("|")).mkString(";"))}, expected $n/$idSum")
        })) ++
      Seq("TabSeparated", "JSONEachRow", "Native").flatMap { fmt =>
        Seq(export(s"export_lineitem_$fmt", "lineitem", fmt, lineitemCols, li("rows").toLong, li),
          export(s"export_ingest_$fmt", table, fmt, cols, n, sums))
      } :+
      Stmt("ddl", s"DROP TABLE IF EXISTS $table SYNC", Via.Http, ok)
  }
}

object IngestExport {
  val table = "perfbench.ingest"
  val createTable: String =
    s"CREATE TABLE $table (id UInt64, ts DateTime, k String, v Float64, n Int32, " +
      "INDEX ix_v v TYPE minmax GRANULARITY 4) ENGINE = MergeTree() " +
      "PARTITION BY toYYYYMM(ts) ORDER BY (k, id)"

  /** The column types the server announces for the ingest table, read
    * from its RowBinaryWithNamesAndTypes header (what a client learns
    * before it encodes RowBinary). */
  def announcedTypes(http: HttpClient): Seq[String] = {
    import graft.server.NativeServer.{readStr, readVarint}
    Seq("CREATE DATABASE IF NOT EXISTS perfbench", s"DROP TABLE IF EXISTS $table SYNC", createTable)
      .foreach(q => http.query(q).error.foreach(e => sys.error(s"$q: $e")))
    val r = http.query(s"SELECT id, ts, k, v, n FROM $table LIMIT 0 FORMAT RowBinaryWithNamesAndTypes")
    r.error.foreach(e => sys.error(e))
    val in = new java.io.ByteArrayInputStream(r.body)
    val n = readVarint(in).toInt
    (0 until n).foreach(_ => readStr(in))
    val types = (0 until n).map(_ => readStr(in))
    http.query(s"DROP TABLE IF EXISTS $table SYNC")
    types
  }
}

object LlmOperators {
  /** The operator queries measured, named as in SparkEntry.queries:
    * exact and product-quantized similarity search, tf-idf and exact
    * substring dedup. */
  val names = Seq("l12_cosine_neardup", "l23_tfidf_topterms", "l30_ann_pq",
    "l35_exact_substring_dedup")
}
