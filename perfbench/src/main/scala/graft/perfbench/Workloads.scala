package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

/** One completed operation of a measured phase. `status` is "ok",
  * "wrong" (answer failed its check) or "error" (the call failed). */
final case class Op(kind: String, ms: Double, status: String,
    sample: Option[ReadSample] = None, rows: Long = 0) {
  def ok: Boolean = status == "ok"
  def isRead: Boolean = Op.ReadKinds(kind)
  def isWrite: Boolean = Op.WriteKinds(kind)
}

object Op {
  val ReadKinds = Set("read", "point_read", "range_read", "full_agg")
  val WriteKinds = Set("insert", "update", "delete", "merge", "compact")
}

/** Operations and wall time of one measured phase. */
final class Phase {
  val ops = new ConcurrentLinkedQueue[Op]()
  val problems = new ConcurrentLinkedQueue[String]()
  /** Wall time and operations of each finished round, in order. */
  val rounds = mutable.ArrayBuffer.empty[(Double, Seq[Op])]
  private var counted = 0

  def all: Seq[Op] = ops.asScala.toSeq
  def wallS: Double = rounds.map(_._1).sum

  /** Ends a round that took `seconds`: it holds the operations added
    * since the previous round ended. */
  def endRound(seconds: Double): Unit = {
    val now = all
    rounds += seconds -> now.drop(counted)
    counted = now.length
  }

  /** Records `op`, keeping the first few failure messages. */
  def add(op: Op, problem: => String = ""): Unit = {
    ops.add(op)
    if (!op.ok && problems.size < 20) problems.add(s"${op.kind}: $problem")
  }
}

/** A traffic mix. Every workload runs a closed loop on one connection:
  * the client sends its next statement only after the previous one
  * completed. Set-up ends with `warmupRounds` untimed rounds of a fixed
  * seed, because the first rounds after start run up to 50% slower
  * while the JVM compiles the hot paths. A run then measures whole
  * rounds, at least `minRounds` of them and at least `seconds`;
  * `minRounds` takes longer than the benchmark's run length, so every
  * run measures the same rounds. See [[Schedule]] for how the rounds of
  * a traced run interleave. */
abstract class Workload(val name: String, val minRounds: Int, val warmupRounds: Int) {
  /** Load-generator state computed once, outside every timed span. */
  def prepare(b: Bench): Unit = ()
  /** Workload-specific part of the timed set-up. */
  def setup(b: Bench): Unit = ()
  /** State for a second phase measured beside the first, so that the
    * same seed runs the same operations on the same data in both. */
  def reset(b: Bench): Unit = ()
  /** Reference answers, computed in-process outside the timed spans. */
  def references(b: Bench): Unit = ()
  /** `rounds` untimed rounds of the warm-up seed. */
  def warmup(b: Bench, rounds: Int): Unit
  /** Runs the seed's rounds, each once per phase, as [[Schedule]] says. */
  def run(b: Bench, seconds: Double, rounds: Int, seed: Long, phases: Seq[Phase]): Unit
  /** Checks after the run; returns failures. */
  def finish(b: Bench): Seq[String] = Nil
  /** Workload-specific per-layer metrics for a traced phase. */
  def layers(b: Bench, p: Phase): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "wide_fetch" => new WideFetch
    case "catalog_rw" => new CatalogRw
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Seed of the warm-up rounds. */
  val WarmupSeed = -1L

  /** Rounds of the pool: each a fresh seeded permutation, so every round
    * runs each element exactly once. */
  def rounds[A](pool: Seq[A], seed: Long): Iterator[Seq[A]] = {
    val rnd = new Random(seed)
    Iterator.continually(rnd.shuffle(pool))
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Whether round `r` (from 0) of a run started at `t0` runs. */
  def more(r: Int, rounds: Int, t0: Long, seconds: Double): Boolean =
    r < rounds || elapsedS(t0) < seconds
}

/** The sub-rounds of a measured run: whole rounds, at least `rounds`
  * and until `seconds` have passed, each run once per phase. With two
  * phases, untraced and traced, both run the same operations, and the
  * order alternates by round (untraced first in even rounds), so the
  * run's drift falls on both alike. Tracing switches between sub-rounds,
  * while no operation runs. */
final class Schedule(phases: Seq[Phase], rounds: Int, seconds: Double) {
  private val t0 = System.nanoTime()
  private var round = 0
  private var slot = -1
  private var started = 0L

  private def phaseAt(slot: Int): Int =
    if (round % 2 == 0) slot else phases.length - 1 - slot

  /** Ends the sub-round that ran, then returns the next (round, phase
    * index), or None when the run is over. */
  def next(): Option[(Int, Int)] = {
    if (slot >= 0) phases(phaseAt(slot)).endRound(Workloads.elapsedS(started))
    slot += 1
    if (slot == phases.length) { slot = 0; round += 1 }
    val done = slot == 0 && !Workloads.more(round, rounds, t0, seconds)
    Tracer.set(!done && phaseAt(slot) == 1)
    started = System.nanoTime()
    if (done) None else Some((round, phaseAt(slot)))
  }
}

/** wide_fetch: scans with large results through the server, each answer
  * checked against an in-process digest of the same statement. A round
  * runs every statement twice: as one whole `fetch_arrow` and in pages
  * of 3 frames. */
final class WideFetch extends Workload("wide_fetch", minRounds = 6, warmupRounds = 3) {
  private val pool = Statements.wide
  private var refs = Map.empty[String, Digest]
  private val jobs: Seq[(Stmt, FetchMode)] =
    for (st <- pool; m <- Seq(Whole, Paged(3))) yield (st, m)

  /** Computed once per build of the program and cached under the run
    * root: the statements and fixtures do not depend on the seed. */
  override def references(b: Bench): Unit =
    refs = b.cached(s"refs-$name") {
      pool.map(st => st.name -> b.distributedDigest(b.refSession.sql(st.sql))).toMap
    }

  private def one(c: Client, st: Stmt, mode: FetchMode, refetch: Boolean,
      phase: Phase): Unit = {
    val t0 = System.nanoTime()
    try {
      val s = c.read(st.sql, Nil, mode, refetch)
      val got = ResultHash.ofArrow(s.ipc)
      val want = refs(st.name)
      phase.add(Op("read", s.totalMs, if (got == want) "ok" else "wrong",
        Some(s.copy(ipc = Array.emptyByteArray)), rows = got.rows),
        s"${st.name} returned $got, expected $want")
    } catch {
      case e: Exception =>
        phase.add(Op("read", (System.nanoTime() - t0) / 1e6, "error"), s"${st.name}: $e")
    }
  }

  /** Connections the warm-up runs at once: a statement spends most of
    * its time waiting on the socket, so parallel connections give the
    * JVM more calls of the hot paths to compile in the same time. */
  private val WarmupClients = 4

  /** All but the last warm-up round are dealt out over [[WarmupClients]]
    * fresh connections that run at once. The last runs on the set-up
    * connection, which the measured run then uses: a statement's first
    * runs on a fresh session are slower. */
  override def warmup(b: Bench, rounds: Int): Unit = {
    val p = new Phase
    val warm = Workloads.rounds(jobs, Workloads.WarmupSeed).take(rounds).toSeq
    val parallel = warm.init.flatten
    val n = WarmupClients
    val threads = (0 until n).map { i =>
      val t = new Thread(() =>
        try {
          val c = b.newClient()
          try parallel.zipWithIndex.collect { case (j, k) if k % n == i => j }
            .foreach { case (st, m) => one(c, st, m, refetch = false, p) }
          finally { c.closeSession(); c.close() }
        } catch { case e: Exception => p.add(Op("read", 0, "error"), s"connection: $e") },
        s"perfbench-warmup-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    warm.last.foreach { case (st, m) => one(b.client, st, m, refetch = false, p) }
    b.requireClean(p, "warm-up")
  }

  override def run(b: Bench, seconds: Double, rounds: Int, seed: Long,
      phases: Seq[Phase]): Unit = {
    val schedule = new Schedule(phases, rounds, seconds)
    val it = Workloads.rounds(jobs, seed)
    var mine = -1
    var round: Seq[(Stmt, FetchMode)] = Nil
    var next = schedule.next()
    while (next.nonEmpty) {
      val (r, p) = next.get
      while (mine < r) { round = it.next(); mine += 1 }
      round.foreach { case (st, m) => one(b.client, st, m, refetch = Tracer.on, phases(p)) }
      next = schedule.next()
    }
  }
}

/** catalog_rw: writes and reads on one bloom-indexed table
  * of a fresh warehouse, checked against [[CatalogModel]]. */
final class CatalogRw extends Workload("catalog_rw", minRounds = 4, warmupRounds = 1) {
  /** A table of the run: its catalog name, warehouse and model, and the
    * state of the operations running on it. */
  private final class Table(val cat: String, val warehouse: java.nio.file.Path,
      val model: CatalogModel) {
    var mor = false
    var ops: Iterator[Seq[CatalogOp]] = Iterator.empty
    var changedRows = 0L
    var before: Map[String, Long] = Map.empty
  }
  private val tables = mutable.ArrayBuffer.empty[Table]
  private var seedRows: Array[Item] = _

  /** The seed rows: cached per build, like the reference answers. */
  override def prepare(b: Bench): Unit =
    seedRows = b.cached("catalog-seed") {
      b.refSession.sql(CatalogOps.seedSql("global_temp.lineitem")).collect()
        .map(r => Item(r.getLong(0), r.getDouble(1), r.getString(2)))
    }

  override def setup(b: Bench): Unit = freshTable(b)

  /** A second table, set up like the first and brought to like state
    * by a warm-up round (the JVM is warm by then). */
  override def reset(b: Bench): Unit = { freshTable(b); warmup(b, 1) }

  /** A fresh catalog on a fresh warehouse, with the table created, seeded
    * and bloom-indexed through the socket like any client would. */
  private def freshTable(b: Bench): Unit = {
    val t = new Table(s"bench${tables.length}", b.workDir.resolve(s"wh${tables.length}"),
      new CatalogModel(seedRows))
    val c = b.client
    c.update(s"SET spark.sql.catalog.${t.cat}=graft.catalog.MetaCatalog")
    c.update(s"SET spark.sql.catalog.${t.cat}.warehouse=${t.warehouse}")
    c.update(s"CREATE NAMESPACE IF NOT EXISTS ${t.cat}.db")
    c.update(s"CREATE TABLE ${t.cat}.db.items (k BIGINT, qty DOUBLE, flag STRING)")
    c.update(s"INSERT INTO ${t.cat}.db.items ${CatalogOps.seedSql("global_temp.lineitem")}")
    c.update(s"CALL ${t.cat}.system.add_blooms('db.items', 'k')")
    tables += t
  }

  private def one(b: Bench, t: Table, op: CatalogOp, phase: Phase, n: Int): Unit = {
    val (sql, params) = CatalogOps.sql(op, t.cat)
    var t0 = System.nanoTime()
    try {
      op match {
        case Delete(_, _, m) if m != t.mor =>
          // the delete mode is table state, set outside the timed write
          b.client.update(s"ALTER TABLE ${t.cat}.db.items SET TBLPROPERTIES " +
            s"('write.delete.mode'='${if (m) "merge-on-read" else "copy-on-write"}')")
          t.mor = m
          t0 = System.nanoTime()
        case _ => ()
      }
      if (op.isWrite) {
        b.client.update(sql)
        val t1 = System.nanoTime()
        if (Tracer.on) Tracer.record(s"write:${op.kind}", t0, t1, s"w$n", 0L)
        t.changedRows += t.model(op)
        phase.add(Op(op.kind, (t1 - t0) / 1e6, "ok"))
      } else {
        val s = b.client.read(sql, params, Paged(8), refetch = Tracer.on)
        val got = ResultHash.canonicalRows(ResultHash.arrowRows(s.ipc))
        val want = ResultHash.canonicalRows(t.model.expected(op))
        val right = ResultHash.tolerantEqual(got, want)
        phase.add(Op(op.kind, s.totalMs, if (right) "ok" else "wrong",
          Some(s.copy(ipc = Array.emptyByteArray)), rows = got.length),
          s"$op returned $got, expected $want")
      }
    } catch {
      case e: Exception =>
        phase.add(Op(op.kind, (System.nanoTime() - t0) / 1e6, "error"), s"$op: $e")
    }
  }

  /** Rounds of the fixed warm-up seed on the newest table, every kind
    * of operation in each. */
  override def warmup(b: Bench, rounds: Int): Unit = {
    val p = new Phase
    CatalogOps.rounds(Workloads.WarmupSeed, freshBase = CatalogOps.WarmupFreshBase)
      .take(rounds).flatten.foreach(one(b, tables.last, _, p, -1))
    b.requireClean(p, "warm-up")
  }

  /** Phase i runs on the i-th of the newest tables, one per phase, each
    * from the seed's first round. */
  override def run(b: Bench, seconds: Double, rounds: Int, seed: Long,
      phases: Seq[Phase]): Unit = {
    val mine = tables.takeRight(phases.length).toSeq
    mine.foreach { t =>
      t.ops = CatalogOps.rounds(seed)
      t.changedRows = 0L
      t.before = b.treeSizes(t.warehouse)
    }
    val schedule = new Schedule(phases, rounds, seconds)
    var n = 0
    var next = schedule.next()
    while (next.nonEmpty) {
      val p = next.get._2
      mine(p).ops.next().foreach { op => one(b, mine(p), op, phases(p), n); n += 1 }
      next = schedule.next()
    }
  }

  /** Every acknowledged commit must be on disk: read each table of the
    * run through a second catalog name on its warehouse and compare with
    * its model. */
  override def finish(b: Bench): Seq[String] = tables.indices.flatMap { i =>
    val v = verifyCatalog(b, i)
    val got = ResultHash.ofRows(b.spark.sql(s"SELECT k, qty, flag FROM $v.db.items").collect())
    val want = tables(i).model.digest
    if (got == want) None else Some(s"table read through $v is $got, model is $want")
  }

  /** Table `i`'s warehouse under a second catalog name, in the root session. */
  private def verifyCatalog(b: Bench, i: Int): String = {
    val v = s"benchverify$i"
    b.spark.conf.set(s"spark.sql.catalog.$v", "graft.catalog.MetaCatalog")
    b.spark.conf.set(s"spark.sql.catalog.$v.warehouse", tables(i).warehouse.toString)
    v
  }

  /** Figures of the traced phase, which ran on the newest table. */
  override def layers(b: Bench, p: Phase): Map[String, Double] = {
    val t = tables.last
    val v = verifyCatalog(b, tables.length - 1)
    val ops = p.all.filter(_.ok)
    def p50(kind: String) = Stats.median(ops.filter(_.kind == kind).map(_.ms))
    val after = b.treeSizes(t.warehouse)
    val written = after.collect { case (f, n) if !t.before.contains(f) => n }.sum
    val reads = ops.count(_.isRead)
    val files = b.spark.sql(s"SELECT count(*), sum(size_bytes) FROM $v.db.items.files")
      .collect().head
    val snaps = b.spark.sql(s"SELECT count(*) FROM $v.db.items.snapshots").collect().head.getLong(0)
    Map(
      "catalog.insert_ms" -> p50("insert"), "catalog.update_ms" -> p50("update"),
      "catalog.delete_ms" -> p50("delete"), "catalog.merge_ms" -> p50("merge"),
      "catalog.compact_ms" -> p50("compact"),
      "catalog.footer_opens_per_read" ->
        Tracer.counted("footer_opens").toDouble / math.max(1, reads),
      "catalog.files_live" -> files.getLong(0).toDouble,
      "catalog.snapshots" -> snaps.toDouble,
      // user bytes changed: rows changed × 24 bytes (k, qty, flag)
      "catalog.write_amp" -> written.toDouble / math.max(1L, t.changedRows * 24),
      "catalog.space_amp" -> after.values.sum.toDouble / math.max(1L, files.getLong(1)))
  }
}

/** The operators layer: probes of `SparkEntry.queries` that have no SQL
  * surface, called directly in the benchmark JVM on the small tables, each
  * output checked against `reference/operators.json`. One pass over
  * all eight takes about 11 s on 4 cores, so it runs in traced runs only
  * (a warm-up pass, then a seeded-order traced pass) and reports
  * per-layer numbers. */
final class Operators(b: Bench) {
  val probes = Seq("q_pipeline_e2e", "q_dedup_minhash_auto", "q_fingerprint_overlap_banded",
    "q_dedup_cc_star", "q_join_fuzzy", "q_quality_classifier", "q_dedup_cdc", "q_pca_gram")
  private val runs = graft.SparkEntry.queries
  private val session: SparkSession = b.spark.newSession()
  private val dir = b.smallDir.toString
  graft.Tables.register(session, dir)
  private var calls = 0

  /** Runs one probe the way the engine runs a statement: under its own
    * job group, collected, then the session's operator cache released
    * (what `Engine.closeStatement` does). */
  def call(name: String): (Array[Row], Long, Long) = {
    calls += 1
    session.sparkContext.setJobGroup(s"perfbench-op-$calls", name)
    val t0 = System.nanoTime()
    try {
      val rows = runs(name)(session, dir).collect()
      (rows, t0, System.nanoTime())
    } finally {
      graft.operators.OperatorCache.release(session)
      session.sparkContext.clearJobGroup()
    }
  }

  private def one(name: String, phase: Phase): Unit = {
    val t0 = System.nanoTime()
    try {
      val (rows, s, e) = call(name)
      if (Tracer.on) Tracer.record(s"op:$name", s, e, s"perfbench-op-$calls", 0L)
      val problem = Reference.check(name, rows)
      phase.add(Op(s"op:$name", (e - s) / 1e6, if (problem.isEmpty) "ok" else "wrong",
        rows = rows.length), problem.getOrElse(""))
    } catch {
      case e: Exception =>
        phase.add(Op(s"op:$name", (System.nanoTime() - t0) / 1e6, "error"), s"$name: $e")
    }
  }

  /** Warm-up pass, then one pass in seeded order with tracing on. */
  def measure(seed: Long, phase: Phase): Map[String, Double] = {
    val warm = new Phase
    probes.foreach(one(_, warm))
    b.requireClean(warm, "operators warm-up")
    val t0 = System.nanoTime()
    Tracer.set(true)
    try Workloads.rounds(probes, seed).next().foreach(one(_, phase))
    finally Tracer.set(false)
    phase.endRound(Workloads.elapsedS(t0))
    probes.map { n =>
      s"operators.${n}_s" -> Stats.median(phase.all.filter(o => o.kind == s"op:$n" && o.ok)
        .map(_.ms / 1000))
    }.toMap + ("operators.pass_s" -> phase.wallS)
  }
}
