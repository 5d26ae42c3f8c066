package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a named DataFrame query over a fixture directory plus
  * (when SQL-expressible) the equivalent DuckDB SQL the driver uses as the
  * correctness oracle. Column names/types must match between the two — the
  * harness sorts columns by name and hashes values.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    pinnedAtGateSf: Boolean = false)

object QueryDef {

  /** The ONE timestamp-literal idiom shared by every fixture query file
    * (review r9: RelationalQueries hand-repeated it ~16 times next to
    * TpchQueries' private twin — a change to the casting idiom, e.g. an
    * ANSI-mode to_timestamp move, must land once).
    */
  private[queries] def ts(s: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.lit(s).cast("timestamp")

  /** Oracle-checked query. Callers apply `.stripMargin` themselves so SQL
    * containing literal '|' (regexes, string data) is never mangled here.
    */
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle.trim))

  /** Oracle pinned AT the gate SF (sf0.01): a committed [[Golden]] table
    * or any other fixed-path oracle (s4's read_blob) that describes
    * sf0.01 data specifically. Verify drops these from oracle_sql.json at
    * any other SF (the query falls back to rows-only there) — a
    * STRUCTURAL flag, not a string convention, so a future live oracle
    * whose SQL merely mentions "sf0.01" can never be silently dropped.
    */
  def pinnedSql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle.trim), pinnedAtGateSf = true)
}

/** The committed-golden oracle contract (deterministic but not
  * DuckDB-computable queries): ONE place owns the path layout that
  * `graft.GoldenGen` writes and every pinned oracle reads, so the six
  * pinned entries cannot drift from the regenerator. The sf0.01 suffix is
  * the t2 contract's fixed correctness dir (TESTDATA.md).
  */
object Golden {
  def dir(name: String, sfName: String = "sf0.01"): String =
    s"/root/repo/tools/golden/${name}_$sfName"

  /** Oracle SQL reading the pinned golden: SELECT `cols` ... ORDER BY
    * `orderBy` — the Spark entry must emit the same columns and order.
    */
  def sql(name: String, cols: String, orderBy: String): String =
    s"""SELECT $cols
       |FROM read_parquet('${dir(name)}/*.parquet')
       |ORDER BY $orderBy""".stripMargin
}
