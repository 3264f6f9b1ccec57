package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** One row of the catalog_rw table `(k BIGINT, qty DOUBLE, flag STRING)`.
  * Quantities stay whole numbers, so sums over them are exact in doubles. */
final case class Item(k: Long, qty: Double, flag: String) {
  def values: String = s"($k, $qty, '$flag')"
}

sealed trait CatalogOp { def isWrite: Boolean = true; def kind: String }
final case class Insert(rows: Seq[Item]) extends CatalogOp { def kind = "insert" }
final case class Update(lo: Long, hi: Long, flag: String) extends CatalogOp { def kind = "update" }
final case class Delete(lo: Long, hi: Long, mor: Boolean) extends CatalogOp { def kind = "delete" }
final case class Merge(rows: Seq[Item]) extends CatalogOp { def kind = "merge" }
case object Compact extends CatalogOp { def kind = "compact" }
final case class PointRead(k: Long) extends CatalogOp {
  override def isWrite = false; def kind = "point_read"
}
final case class RangeRead(lo: Long, hi: Long) extends CatalogOp {
  override def isWrite = false; def kind = "range_read"
}
case object FullAgg extends CatalogOp { override def isWrite = false; def kind = "full_agg" }

object CatalogOps {
  /** Keys of the seeded table: `l_orderkey * 8 + l_linenumber` for the
    * orders below `SeedOrders` (line numbers run 1 to 7; a pair that
    * repeats in the fixture is one row). Fresh keys start above them. */
  val SeedOrders = 25000L
  val FreshBase = 10000000L
  val RangeKeys = 2500L
  /** Fresh keys of the warm-up rounds. */
  val WarmupFreshBase = 2 * FreshBase

  /** The seeded operation rounds. Every round holds the same mix, in a
    * seeded order and on seeded keys, so runs of any seed compare: 12
    * reads (7 point lookups by key, one of them on a key a round inserted
    * or on none, 3 scans of a [[RangeKeys]]-wide key range, 2 full
    * aggregates) and 5 writes (a 20-row INSERT, an UPDATE of an 8-key
    * range, a DELETE of a 4-key range, a 4-row MERGE and a compaction,
    * so the file count levels off). About 3 keys in 8 of the seeded
    * range are present. DELETEs
    * alternate copy-on-write and merge-on-read by round. Depends on the
    * seed alone, not on the table. */
  def rounds(seed: Long, seedOrders: Long = SeedOrders,
      freshBase: Long = FreshBase): Iterator[Seq[CatalogOp]] = {
    val rnd = new scala.util.Random(seed)
    var fresh = freshBase
    var round = 0
    def seedKey(): Long = rnd.nextLong(seedOrders * 8)
    def qty(): Double = (1 + rnd.nextInt(50)).toDouble
    def freshItem(): Item = { fresh += 1; Item(fresh, qty(), "I") }
    Iterator.continually {
      round += 1
      val (u, d) = (seedKey(), seedKey())
      val a = seedKey() // two distinct existing keys: MERGE needs unique source keys
      val writes = Seq(
        Insert(Seq.fill(20)(freshItem())),
        Update(u, u + 7, s"u${rnd.nextInt(1000)}"),
        Delete(d, d + 3, mor = round % 2 == 0),
        Merge(Seq(Item(a, qty(), "M"), Item(a + 1 + rnd.nextInt(1000), qty(), "M")) ++
          Seq.fill(2)(freshItem())),
        Compact)
      val reads =
        Seq.fill(6)(PointRead(seedKey())) ++
          Seq(PointRead(freshBase + 1 + rnd.nextLong(fresh - freshBase + 20))) ++
          Seq.fill(3)(seedKey()).map(lo => RangeRead(lo, lo + RangeKeys - 1)) ++
          Seq(FullAgg, FullAgg)
      rnd.shuffle(writes ++ reads)
    }
  }

  /** The table's seed rows, read from the lineitem table named `lineitem`. */
  def seedSql(lineitem: String, seedOrders: Long = SeedOrders): String =
    s"""SELECT l_orderkey * 8 + l_linenumber AS k, min(l_quantity) AS qty,
       |  min(l_returnflag) AS flag
       |FROM $lineitem WHERE l_orderkey < $seedOrders
       |GROUP BY l_orderkey, l_linenumber""".stripMargin

  /** Statement text and bound parameters of `op` on `<cat>.db.items`. */
  def sql(op: CatalogOp, cat: String): (String, Seq[String]) = {
    val table = s"$cat.db.items"
    op match {
      case Insert(rows) => (s"INSERT INTO $table VALUES ${rows.map(_.values).mkString(", ")}", Nil)
      case Update(lo, hi, flag) =>
        (s"UPDATE $table SET qty = qty + 1, flag = '$flag' WHERE k BETWEEN $lo AND $hi", Nil)
      case Delete(lo, hi, _) => (s"DELETE FROM $table WHERE k BETWEEN $lo AND $hi", Nil)
      case Merge(rows) => (s"""MERGE INTO $table t
        |USING (SELECT * FROM VALUES ${rows.map(_.values).mkString(", ")} AS s(k, qty, flag)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET qty = s.qty, flag = s.flag
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin, Nil)
      case Compact => (s"CALL $cat.system.compact('db.items', 'k', 8)", Nil)
      case PointRead(k) =>
        (s"SELECT k, qty, flag FROM $table WHERE k = CAST(? AS BIGINT)", Seq(k.toString))
      case RangeRead(lo, hi) =>
        (s"SELECT count(*) AS n, sum(qty) AS q FROM $table WHERE k BETWEEN $lo AND $hi", Nil)
      case FullAgg =>
        (s"SELECT count(*) AS n, sum(qty) AS q, count(DISTINCT flag) AS flags FROM $table", Nil)
    }
  }
}

/** The load generator's key → (qty, flag) model of the table. Every
  * acknowledged write is applied here, and every read is checked
  * against it. */
final class CatalogModel(seed: Iterable[Item]) {
  val rows = mutable.HashMap.empty[Long, (Double, String)]
  seed.foreach(i => rows(i.k) = (i.qty, i.flag))

  /** Applies a write; returns the number of rows it changed. */
  def apply(op: CatalogOp): Long = op match {
    case Insert(items) => items.foreach(i => rows(i.k) = (i.qty, i.flag)); items.length
    case Update(lo, hi, flag) =>
      (lo to hi).count { k =>
        rows.get(k).exists { case (q, _) => rows(k) = (q + 1, flag); true }
      }.toLong
    case Delete(lo, hi, _) => (lo to hi).count(k => rows.remove(k).isDefined).toLong
    case Merge(items) => items.foreach(i => rows(i.k) = (i.qty, i.flag)); items.length
    case _ => 0L
  }

  /** Expected result rows of a read, in the statement's column order. */
  def expected(op: CatalogOp): Seq[Seq[Any]] = op match {
    case PointRead(k) => rows.get(k).toSeq.map { case (q, f) => Seq(k, q, f) }
    case RangeRead(lo, hi) =>
      val sel = rows.iterator.filter { case (k, _) => k >= lo && k <= hi }
        .map(_._2._1).toSeq
      Seq(Seq(sel.length.toLong, if (sel.isEmpty) null else sel.sum))
    case FullAgg =>
      Seq(Seq(rows.size.toLong, if (rows.isEmpty) null else rows.valuesIterator.map(_._1).sum,
        rows.valuesIterator.map(_._2).toSet.size.toLong))
    case _ => Nil
  }

  def digest: Digest = ResultHash.ofRows(rows.iterator.map { case (k, (q, f)) =>
    Row(k, q, f) }.toSeq)
}
