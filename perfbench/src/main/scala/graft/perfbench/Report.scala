package graft.perfbench

import scala.jdk.CollectionConverters._

/** Metrics of one run plus the checks behind its `correct` flag. */
final case class Result(metrics: Seq[(String, Double, String)], attempted: Long, failed: Long,
    problems: Seq[String], detail: Map[String, Any])

object Report {
  /** End-to-end metrics, reported for every workload. An operation is a
    * read statement or a DML round trip through the server; a read is an
    * operation that returns rows. No tail percentile is among them: a run
    * completes fewer than 100 reads, too few for a p90 with ten samples
    * beyond it, so the details line reports the tail at the highest
    * percentile that has them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "qps" -> "1/s", "read_p50_ms" -> "ms")

  /** A figure as printed: an empty one reads 0, and one a failed
    * operation made infinite reads as the largest double. */
  private def nz(x: Double): Double =
    if (x.isNaN) 0.0 else if (x.isInfinite) Double.MaxValue else x

  /** Latency of `o` as the percentiles count it: a failed operation
    * misses every latency limit. */
  private def latency(o: Op): Double = if (o.ok) o.ms else Double.PositiveInfinity

  /** The workload's figures. `qps` is the median over the phase's
    * rounds of a round's completed operations per second of the time
    * its operations took, client-observed (a traced phase's second
    * fetches left out): the load generator's own answer checks between
    * operations do not count. A round runs the same mix every time, and
    * a median leaves out the odd round a busy host slowed. First batch,
    * fetch rate and write latency are there where the workload has
    * them. */
  def workloadFigures(p: Phase): Map[String, Double] = {
    val all = p.all
    val ok = all.filter(_.ok)
    val reads = all.filter(_.isRead).map(latency)
    val samples = ok.filter(_.isRead).flatMap(_.sample)
    val writes = all.filter(_.isWrite).map(latency)
    val tail = Stats.tailPercentile(reads.length)
    Map(
      "qps" -> Stats.median(p.rounds.toSeq.map { case (_, ops) =>
        ops.count(_.ok) / (ops.map(_.ms).sum / 1e3) }),
      "read_p50_ms" -> Stats.median(reads),
      "read_p90_ms" -> Stats.percentile(reads, 0.9),
      "read_samples" -> reads.length.toDouble,
      "read_tail_pct" -> tail.map(_ * 100).getOrElse(0.0),
      "read_tail_ms" -> tail.map(Stats.percentile(reads, _)).getOrElse(0.0),
      "first_batch_p50_ms" -> Stats.median(samples.map(_.firstBatchMs)),
      "fetch_mb_s" -> samples.map(_.bytes).sum / 1e6 / (samples.map(_.lastFrameMs).sum / 1e3),
      "write_p50_ms" -> Stats.median(writes),
      "write_p90_ms" -> Stats.percentile(writes, 0.9),
      "write_samples" -> writes.length.toDouble,
      "failed_frac" -> (all.length - ok.length).toDouble / math.max(1, all.length))
      .map { case (k, v) => k -> nz(v) }
  }

  def endToEnd(p: Phase, setupS: Double): Result = {
    val f = workloadFigures(p)
    result(p, EndToEnd.map { case (n, u) => (n, if (n == "setup_s") setupS else f(n), u) },
      f.map { case (k, v) => k -> v } + ("round_s" -> p.rounds.map(_._1).toSeq))
  }

  def result(p: Phase, metrics: Seq[(String, Double, String)], detail: Map[String, Any]): Result = {
    val all = p.all
    Result(metrics, all.length.toLong, all.count(!_.ok).toLong, p.problems.asScala.toSeq, detail)
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  /** Prints the run's details (provenance, workload figures, failures)
    * and then, as the last line, the result object. The run is correct
    * when every operation completed with a right answer and every
    * post-run check held. */
  def print(r: Result, postChecks: Seq[String], provenance: Map[String, Any]): Unit = {
    println(json(Map("provenance" -> provenance, "figures" -> r.detail,
      "post_run_checks" -> postChecks, "failures" -> r.problems.take(20))))
    val correct = r.failed == 0 && postChecks.isEmpty
    val metrics = r.metrics.map { case (n, v, u) =>
      json(n) + ": {\"value\": " + json(nz(v)) + ", \"unit\": " + json(u) + "}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": $metrics}""")
    System.out.flush()
  }
}
