package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.readParquet` / `Tables.load` discover a schema once per
  * session and file version (`Tables.ParquetMeta`): later loads
  * launch no job, an overwrite at the same path is re-inferred, and a
  * session with other parquet confs infers for itself.
  */
class ParquetMetaSpec extends SparkSpec {

  /** Jobs launched while `body` runs on this thread, under a job group
    * of its own (other suites' jobs are not counted).
    */
  private def jobsIn[T](body: => T): (T, Int) = {
    val group = s"parquet-meta-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            Option(p.getProperty("spark.jobGroup.id"))
              .exists(_.startsWith(group)))) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ParquetMetaSpec")
      val r = try body finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def probeDir(name: String): String =
    new java.io.File(s"target/parquet_meta/$name").getAbsolutePath

  test("a second load of a table in one session launches no job and " +
      "keeps the discovered schema") {
    import spark.implicits._
    val path = probeDir("second_load")
    (1L to 20L).map(i => (i, s"r$i")).toDF("k", "s")
      .write.mode("overwrite").parquet(path)
    val (_, first) = jobsIn(Tables.readParquet(spark, path).schema)
    assert(first >= 1, "the first load should infer the schema")
    val (again, second) = jobsIn(Tables.readParquet(spark, path))
    assert(second == 0)
    assert(again.schema == spark.read.parquet(path).schema)
    assert(again.orderBy("k").as[(Long, String)].collect().toSeq ==
      (1L to 20L).map(i => (i, s"r$i")))

    val table = s"$sf0001/lineitem.parquet"
    Tables.load(spark, sf0001, "lineitem")
    val (li, n) = jobsIn(Tables.load(spark, sf0001, "lineitem"))
    assert(n == 0)
    assert(li.schema == spark.read.parquet(table).schema)
  }

  test("concurrent first loads in one session share one inference") {
    import spark.implicits._
    val path = probeDir("concurrent")
    (1 to 10).toDF("v").write.mode("overwrite").parquet(path)
    val (schemas, n) = jobsIn {
      val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try (1 to 3).map { i =>
        pool.submit(() => {
          spark.sparkContext.setJobGroup(s"$group-$i", "ParquetMetaSpec")
          Tables.readParquet(spark, path).schema
        })
      }.map(_.get())
      finally pool.shutdown()
    }
    assert(n == 1)
    assert(schemas.distinct == Seq(spark.read.parquet(path).schema))
  }

  test("an overwrite at the same path is re-inferred, not served " +
      "stale") {
    import spark.implicits._
    val path = probeDir("overwrite")
    (1L to 5L).toDF("v").coalesce(1).write.mode("overwrite").parquet(path)
    assert(Tables.readParquet(spark, path).columns.toSeq == Seq("v"))
    assert(graft.sources.Artifacts.parquetRowCount(path) == 5L)
    // the learn-once artifacts' rewrite: mode("overwrite"), same path
    // (sleep keeps the directory mtime strictly increasing even on a
    // coarse-granularity filesystem)
    Thread.sleep(1200)
    (1L to 9L).map(i => (i, i.toDouble / 2)).toDF("v", "w").repartition(3)
      .write.mode("overwrite").parquet(path)
    val df = Tables.readParquet(spark, path)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.columns.toSeq == Seq("v", "w"))
    assert(df.agg(sum("w")).as[Double].head() == 22.5)
    val meta = Tables.parquetMeta(path,
      spark.sparkContext.hadoopConfiguration)
    assert(meta.fileCount == 3 && meta.rowCount == 9L)
  }

  test("events.ts normalizes to the same LONG nanos through the " +
      "cached read") {
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    val want = raw.schema("ts").dataType match {
      case LongType => raw.select(col("event_id"), col("ts"))
      case _ => raw.select(col("event_id"),
        (unix_micros(col("ts").cast(TimestampType)) * lit(1000L)).as("ts"))
    }
    Tables.load(spark, sf0001, "events")
    val (ev, n) = jobsIn(Tables.load(spark, sf0001, "events"))
    assert(n == 0)
    assert(ev.schema("ts").dataType == LongType)
    val got = ev.select(col("event_id"), col("ts"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a session with a different nanosAsLong infers its own schema") {
    val path = probeDir("nanos") + "/ts_nanos.parquet"
    writeNanosParquet(path)
    val asLong = Tables.readParquet(spark, path).schema
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(asLong("ts").dataType == LongType)

    val other: SparkSession = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    def outcome(t: Try[StructType]) = t.toEither.left.map(_.getMessage)
    val viaCache = outcome(Try(Tables.readParquet(other, path).schema))
    val fresh = outcome(Try(other.read.parquet(path).schema))
    assert(viaCache == fresh)
    assert(viaCache != Right(asLong))
  }

  /** One row with an INT64 TIMESTAMP(NANOS) column — a type Spark's
    * own writer never produces, so written with parquet-mr directly.
    */
  private def writeNanosParquet(path: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 1577836800123456789L))
    finally w.close()
  }
}
