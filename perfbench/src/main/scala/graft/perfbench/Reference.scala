package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Recorded operator outputs: per probe the row count, the content hash
  * and the canonical rows (doubles kept whole, for the tolerant
  * comparison that runs only when the hash differs). */
object Reference {
  private val mapper = new ObjectMapper()
  @volatile private var path: Path = _
  @volatile private var recorded: Map[String, JsonNode] = Map.empty

  def load(p: Path): Unit = {
    path = p
    recorded =
      if (Files.exists(p)) mapper.readTree(p.toFile).fields().asScala
        .map(e => e.getKey -> e.getValue).toMap
      else Map.empty
  }

  private def rowsOf(n: JsonNode): Seq[Seq[Any]] =
    n.elements().asScala.map(_.elements().asScala.map { c =>
      if (c.isNull) null else if (c.isDouble) c.asDouble() else c.asLong()
    }.toSeq).toSeq

  /** None when `rows` match the recording of `probe`. */
  def check(probe: String, rows: Array[Row]): Option[String] =
    recorded.get(probe) match {
      case None => Some(s"no reference recorded for $probe")
      case Some(r) =>
        val got = ResultHash.ofRows(rows)
        if (got == Digest(r.get("rows").asLong(), r.get("hash").asLong())) None
        else if (ResultHash.tolerantEqual(ResultHash.canonicalRows(rows.map(_.toSeq)),
            rowsOf(r.get("data")))) None
        else Some(s"$probe returned $got, reference is ${r.get("rows")} rows " +
          s"hash ${r.get("hash")}")
    }

  /** Writes the recording from one output per probe, one row per line. */
  def record(outputs: Seq[(String, Array[Row])]): Unit = {
    val probes = outputs.map { case (name, rows) =>
      val d = ResultHash.ofRows(rows)
      val data = ResultHash.canonicalRows(rows.map(_.toSeq)).map(r => mapper.writeValueAsString(
        r.map(_.asInstanceOf[AnyRef]).toArray))
      s"""  ${mapper.writeValueAsString(name)}: {"rows": ${d.rows}, "hash": ${d.hash}, "data": [\n""" +
        data.mkString("    ", ",\n    ", "\n  ]}")
    }
    Files.writeString(path, probes.mkString("{\n", ",\n", "\n}\n"))
    load(path)
  }
}
