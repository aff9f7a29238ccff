package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}

/** Attribution check behind `test_perfbench.py`: two clients share one
  * session. Client 0 runs a slow query; once its job is running,
  * client 1 runs a planted job. Writes both clients' records and every
  * job the listener saw as JSON, so the test can check that the
  * planted job lands in client 1's job group, client 0's jobs in
  * client 0's group, and that each sees the other as foreign overlap.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = new Runner.JobLog
    spark.sparkContext.addSparkListener(log)
    def sleepy(ms: Long)(s: SparkSession) = {
      val nap = udf { (x: Long) => Thread.sleep(ms); x }
      s.range(0, 2, 1, 2).select(nap(col("id")).as("id"))
    }
    val execs = new ConcurrentLinkedQueue[Runner.Exec]()
    val slow = new Thread(() => {
      execs.add(Runner.runQuery(spark, 0, 0, "slow", "c0-0-slow",
        trace = true, sleepy(1500), Runner.noop))
    })
    slow.start()
    val deadline = System.currentTimeMillis() + 10000
    while (!log.jobs.values.asScala.exists(_.group == "c0-0-slow") &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    execs.add(Runner.runQuery(spark, 1, 1, "planted", "c1-1-planted",
      trace = true, sleepy(300), Runner.noop))
    slow.join()
    log.drain()
    spark.stop()
    Files.write(Paths.get(args(0)), Json.obj(
      "execs" -> Json.arr(execs.asScala.toSeq.sortBy(_.client)
        .map(Runner.execJson)),
      "jobs" -> Runner.jobsJson(log)).getBytes(UTF_8))
  }
}
