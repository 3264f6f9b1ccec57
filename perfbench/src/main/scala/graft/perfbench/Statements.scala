package graft.perfbench

/** A read statement of a workload's pool. */
final case class Stmt(name: String, sql: String)

object Statements {
  private def t(name: String) = s"global_temp.$name"

  /** The fixed control statement (a q6-shaped scan), timed in-process
    * before and after the measured phase to flag a loaded machine. */
  val control: String =
    s"""SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n
       |FROM ${t("lineitem")}
       |WHERE l_shipdate >= timestamp'1997-01-01' AND l_shipdate < timestamp'1998-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  private val lineCols = "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, " +
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"

  /** wide_fetch: plain scans with large results (about 4 lineitem rows
    * per order key), so collect, encode and transport dominate. The sizes are
    * graded so the median read sits on a continuum, not between two far
    * apart statements. */
  val wide: Seq[Stmt] = Seq(
    Stmt("lineitem_25k", s"SELECT $lineCols FROM ${t("lineitem")} " +
      "WHERE l_orderkey BETWEEN 0 AND 6249"),
    Stmt("lineitem_50k", s"SELECT $lineCols FROM ${t("lineitem")} " +
      "WHERE l_orderkey BETWEEN 20000 AND 32499"),
    Stmt("lineitem_100k", s"SELECT $lineCols FROM ${t("lineitem")} " +
      "WHERE l_orderkey BETWEEN 50000 AND 74999"),
    Stmt("lineitem_narrow_100k", s"SELECT l_orderkey, l_linenumber, l_extendedprice " +
      s"FROM ${t("lineitem")} WHERE l_orderkey BETWEEN 75000 AND 99999"),
    Stmt("lineitem_narrow_200k", s"SELECT l_orderkey, l_linenumber, l_extendedprice " +
      s"FROM ${t("lineitem")} WHERE l_orderkey BETWEEN 100000 AND 149999"),
    Stmt("documents_text", s"SELECT doc_id, text, lang, source FROM ${t("documents")}"))
}
