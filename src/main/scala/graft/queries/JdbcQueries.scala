package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.JdbcSource

/** q37: the RDBMS-source operator (SURVEY §2.1 #14) — nation is
  * round-tripped through embedded Derby and read back with a filter
  * that the JDBC source pushes into the database's SQL. The oracle
  * runs the same query on the parquet table, verifying the source
  * preserves values end-to-end.
  */
object JdbcQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q37_jdbc_source",
      (s, dir) => {
        JdbcSource.roundTrip(s, Tables.load(s, dir, "nation"), "NATION")
          .filter(col("n_regionkey") === 1)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy(col("n_nationkey"))
      },
      Some("""
        SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE n_regionkey = 1
        ORDER BY n_nationkey""")),

    // ---- q58: DSv2 aggregate pushdown (round-3 verdict #6) ----
    // customer lands in Derby, the grouped aggregate compiles to SQL
    // INSIDE the database (PushedAggregates/PushedGroupByExpressions,
    // plan-asserted in JdbcSpec) — only 5 aggregated rows cross the
    // wire, the shape the reference's RDBMS layer hand-rolled.
    // Aggregates chosen for cross-engine determinism: COUNT, SUM over
    // integers, MIN/MAX over doubles (no float accumulation).
    QueryDef(
      "q58_jdbc_agg_pushdown",
      (s, dir) => {
        val url = JdbcSource.derbyUrl("graftdb")
        val table = JdbcSource.freshTable("CUST_AGG")
        JdbcSource.write(
          Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
          url, table)
        JdbcSource.readCatalog(s, table)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_custkey")).as("key_sum"),
            min(col("c_acctbal")).as("bal_min"),
            max(col("c_acctbal")).as("bal_max"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n,
               CAST(sum(c_custkey) AS BIGINT) AS key_sum,
               min(c_acctbal) AS bal_min, max(c_acctbal) AS bal_max
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""))
  )
}
