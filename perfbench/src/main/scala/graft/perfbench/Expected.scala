package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Expected answers, computed once per fixture by DuckDB (fixtures.py),
  * plus the statement texts the prepare step dumped from the engine. */
final class Expected(state: String) {
  private val prepared = s"$state/prepared"
  private val json = new ObjectMapper()
  private val root: JsonNode = json.readTree(Paths.get(prepared, "expected.json").toFile)

  /** (name, ClickHouse SQL as a client sends it) for the 43 queries. */
  val cbQueries: IndexedSeq[(String, String)] =
    Files.readAllLines(Paths.get(prepared, "cb.tsv"), UTF_8).asScala.toIndexedSeq
      .map { l =>
        val Array(name, sql, _) = l.split("\t", 3)
        name -> json.readValue(sql, classOf[String])
      }

  def cbRows(name: String): Seq[Seq[String]] =
    root.get("cb").get(name).elements().asScala.toSeq
      .map(_.elements().asScala.toSeq.map(_.asText))

  /** The rows of an operator's DuckDB oracle as (exact key, inexact
    * numbers), sorted (see [[Checks.splitRow]]). */
  def llm(name: String): Seq[(String, Seq[Double])] =
    root.get("llm").get(name).elements().asScala.toSeq.map { r =>
      (r.get(0).asText, r.get(1).elements().asScala.toSeq.map(_.asDouble))
    }

  /** Column sums of the lineitem fixture: count, and per column the
    * numeric sum, epoch-seconds sum or crc32 sum. */
  val lineitem: Map[String, Double] =
    root.get("lineitem").fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  /** orders key -> (custkey, status, totalprice). */
  val orders: IndexedSeq[(Long, Long, String, Double)] =
    root.get("orders").elements().asScala.toIndexedSeq.map { r =>
      (r.get(0).asLong, r.get(1).asLong, r.get(2).asText, r.get(3).asDouble)
    }

  /** hits UserID -> number of rows with it. */
  val hitsUsers: IndexedSeq[(Long, Long)] =
    root.get("hits_users").elements().asScala.toIndexedSeq
      .map(r => (r.get(0).asLong, r.get(1).asLong)).sortBy(_._1)
}
