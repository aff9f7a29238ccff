package graft

import org.apache.spark.sql.functions._
import graft.sources.JdbcSource

/** JDBC source: round-trip integrity and the pushdown assertion the
  * reference's RDBMS layer was built for (filters must reach the
  * database, not run in Spark).
  */
class JdbcSpec extends SparkSpec {

  test("round-trip preserves nation rows; filter is pushed to the DB") {
    val nation = Tables.load(spark, sf0001, "nation")
    val back = JdbcSource.roundTrip(spark, nation, "NATION_TEST")
    assert(back.count() == nation.count())

    val filtered = back.filter(col("n_regionkey") === 1)
      .select(col("n_nationkey"), col("n_name"))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("EqualTo(n_regionkey,1)"),
      s"filter not pushed to JDBC scan:\n$plan")
    // column pruning reaches the generated SQL too
    assert(filtered.columns.toSeq == Seq("n_nationkey", "n_name"))

    val expected = nation.filter(col("n_regionkey") === 1)
      .select(col("n_nationkey"), col("n_name"))
      .collect().map(_.toString).sorted.toSeq
    val got = filtered.collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  test("two overlapping round-trips under one table name each read " +
      "back their own rows") {
    val nation = Tables.load(spark, sf0001, "nation")
    val parts = Seq(1, 2).map(r => nation.filter(col("n_regionkey") === r))
    val start = new java.util.concurrent.CyclicBarrier(parts.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parts.size)
    val backs =
      try parts.map { p =>
        pool.submit(() => {
          start.await()
          JdbcSource.roundTrip(spark, p, "NATION_RACE")
        })
      }.map(_.get())
      finally pool.shutdown()
    // both frames are read only after both writes: a shared table
    // would hand the first caller the second caller's rows
    parts.zip(backs).foreach { case (p, back) =>
      val want = p.collect().map(_.toString).sorted.toSeq
      assert(back.collect().map(_.toString).sorted.toSeq == want)
    }
  }

  test("DSv2 catalog route: aggregates and group-by push into the " +
      "database (PushedAggregates / PushedGroupByExpressions)") {
    val nation = Tables.load(spark, sf0001, "nation")
    JdbcSource.write(nation, JdbcSource.derbyUrl("graftdb"), "NATION_AGG")
    val agg = JdbcSource.readCatalog(spark, "NATION_AGG")
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*), SUM(n_nationkey)]"),
      s"aggregate not pushed:\n$plan")
    assert(plan.contains("PushedGroupByExpressions: [n_regionkey]"),
      s"group-by not pushed:\n$plan")
    def norm(r: org.apache.spark.sql.Row) =
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)
    val got = agg.collect().map(norm).sortBy(_._1).toSeq
    val expected = nation.groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"))
      .collect().map(norm).sortBy(_._1).toSeq
    assert(got == expected)
  }

  test("DSv2 catalog route: LIMIT pushes into the database via the " +
      "FETCH FIRST dialect clause (PushedLimit)") {
    val nation = Tables.load(spark, sf0001, "nation")
    JdbcSource.write(nation, JdbcSource.derbyUrl("graftdb"), "NATION_LIM")
    val lim = JdbcSource.readCatalog(spark, "NATION_LIM")
      .filter(col("n_regionkey") === 1)
      .select(col("n_nationkey"), col("n_name"))
      .limit(3)
    val plan = lim.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: LIMIT 3"), s"limit not pushed:\n$plan")
    assert(lim.collect().length == 3)
  }

  test("whole-subquery pushdown: a LEFT JOIN runs inside the database " +
      "(the reference's postgresql.py:466-600 capability)") {
    val url = JdbcSource.derbyUrl("graftdb")
    val nation = Tables.load(spark, sf0001, "nation")
    val region = Tables.load(spark, sf0001, "region")
    JdbcSource.write(nation, url, "NATION_Q")
    // only 3 of 5 regions, so the LEFT JOIN's null side does real work
    JdbcSource.write(region.filter(col("r_regionkey") < 3), url, "REGION_Q")
    // Spark-written columns are case-sensitive quoted identifiers in
    // Derby — quote them in hand-written SQL
    val got = JdbcSource.readQuery(spark, url,
      """SELECT n."n_nationkey", n."n_name", r."r_name"
         FROM NATION_Q n LEFT JOIN REGION_Q r
           ON n."n_regionkey" = r."r_regionkey"""")
      .collect().map(r => (r.getAs[Number](0).longValue, r.getString(1),
        Option(r.getString(2)).getOrElse("-"))).sortBy(_._1).toSeq
    val expected = nation.join(region.filter(col("r_regionkey") < 3),
        col("n_regionkey") === col("r_regionkey"), "left_outer")
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getString(1),
        Option(r.getString(2)).getOrElse("-"))).sortBy(_._1).toSeq
    assert(got == expected && got.exists(_._3 == "-"))
  }
}
