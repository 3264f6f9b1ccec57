package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: seeded operation sequences, the tail
  * percentile rule, the Arrow decode-and-hash check and the catalog
  * model. */
class BenchLogicSpec extends AnyFunSuite {
  /** A fresh directory under the build's `target/`. */
  private def tempDir(prefix: String): Path =
    Files.createTempDirectory(
      Files.createDirectories(Paths.get("target", "spec-tmp").toAbsolutePath), prefix)

  private lazy val spark = {
    val tmp = tempDir("spark")
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("the same seed gives the same operation sequence, another seed another") {
    def catalog(seed: Long) = CatalogOps.rounds(seed).take(20).toList
    assert(catalog(7) == catalog(7))
    assert(catalog(7) != catalog(8))
    val names = Statements.wide.map(_.name)
    def order(seed: Long) = Workloads.rounds(names, seed).take(4).toList
    assert(order(7) == order(7))
    assert(order(7) != order(8))
    // each round runs every statement exactly once
    order(7).foreach(r => assert(r.sorted == names.sorted))
  }

  test("every catalog round holds the same mix of reads and writes") {
    def mix(r: Seq[CatalogOp]) = r.map(_.kind).groupBy(identity).view.mapValues(_.size).toMap
    val rounds = CatalogOps.rounds(3).take(10).toSeq
    assert(rounds.map(mix).distinct.size == 1)
    assert(rounds.head.count(_.isWrite) == 5 && rounds.head.count(!_.isWrite) == 12)
    assert(rounds.flatMap(_.collect { case d: Delete => d.mor }).distinct.size == 2)
  }

  test("a traced run's rounds alternate which phase runs first, tracing only the second") {
    val phases = Seq(new Phase, new Phase)
    val s = new Schedule(phases, rounds = 2, seconds = 0)
    val seen = Iterator.continually(s.next()).takeWhile(_.nonEmpty).map(_.get)
      .map(x => (x, Tracer.on)).toList
    assert(seen == List(((0, 0), false), ((0, 1), true), ((1, 1), true), ((1, 0), false)))
    assert(!Tracer.on)
    assert(phases.forall(p => p.rounds.length == 2 && p.wallS > 0))
  }

  test("the tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(99).contains(0.75))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(10000).contains(0.999))
    (20 to 3000).foreach { n =>
      val p = Stats.tailPercentile(n).get
      assert(n - math.ceil(p * n) >= 10)
      Stats.Ladder.filter(_ > p).foreach(q => assert(n - math.ceil(q * n) < 10))
    }
  }

  test("the Arrow decode-and-hash check agrees with the in-process path") {
    val engine = new graft.engine.Engine(spark)
    val token = engine.handshake("admin", "password").toOption.get
    val sql = """SELECT id, CAST(id AS INT) AS i, id / 3.0D AS d, CAST(id * 0.25 AS DECIMAL(10, 2)) AS m,
      |  IF(id % 3 = 0, NULL, concat('s', id)) AS s, id % 2 = 0 AS b,
      |  timestamp_micros(1700000000000000 + id) AS ts,
      |  CAST(timestamp_micros(1700000000000000 + id * 7) AS TIMESTAMP_NTZ) AS tsn,
      |  date_add(DATE'2024-01-01', CAST(id AS INT)) AS dt
      |FROM range(0, 2500)""".stripMargin
    val (h, _) = engine.prepare(token, sql)
    engine.execute(h)
    val viaServer = ResultHash.ofArrow(engine.fetchArrow(h))
    val inProcess = ResultHash.ofRows(spark.sql(sql).collect())
    assert(viaServer == inProcess)
    assert(viaServer.rows == 2500)
    // a changed cell changes the digest
    val other = ResultHash.ofRows(spark.sql(sql.replace("concat('s', id)", "concat('t', id)")).collect())
    assert(other != inProcess)
    // rounding that a different summation order can cause is not a change
    assert(ResultHash.cell(0.1 + 0.2) == ResultHash.cell(0.3))
    assert(ResultHash.cell(1.0) != ResultHash.cell(1.001))
  }

  test("the catalog model matches the table over a scripted sequence at sf0.001") {
    val root = tempDir("catalog")
    graft.Tables.register(spark, Paths.get("fixtures", "sf0.001").toAbsolutePath.toString)
    spark.conf.set("spark.sql.catalog.pbspec", "graft.catalog.MetaCatalog")
    spark.conf.set("spark.sql.catalog.pbspec.warehouse", root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pbspec.db")
    spark.sql("CREATE TABLE pbspec.db.items (k BIGINT, qty DOUBLE, flag STRING)")
    val orders = 400L
    spark.sql(s"INSERT INTO pbspec.db.items ${CatalogOps.seedSql("lineitem", orders)}")
    spark.sql("CALL pbspec.system.add_blooms('db.items', 'k')")
    val model = new CatalogModel(spark.sql(CatalogOps.seedSql("lineitem", orders)).collect()
      .map(r => Item(r.getLong(0), r.getDouble(1), r.getString(2))))
    var mor = false
    var changed = 0L
    CatalogOps.rounds(11, seedOrders = orders).take(4).flatten.foreach { op =>
      val (sql, params) = CatalogOps.sql(op, "pbspec")
      op match {
        case Delete(_, _, m) if m != mor =>
          spark.sql("ALTER TABLE pbspec.db.items SET TBLPROPERTIES ('write.delete.mode'='" +
            (if (m) "merge-on-read" else "copy-on-write") + "')")
          mor = m
        case _ => ()
      }
      val rows = spark.sql(sql, params.map(_.toLong).toArray[Any]).collect()
      if (op.isWrite) changed += model(op)
      else assert(ResultHash.tolerantEqual(ResultHash.canonicalRows(rows.map(_.toSeq)),
        ResultHash.canonicalRows(model.expected(op))), op)
    }
    assert(changed > 0)
    assert(ResultHash.ofRows(spark.sql("SELECT k, qty, flag FROM pbspec.db.items").collect()) ==
      model.digest)
  }
}
