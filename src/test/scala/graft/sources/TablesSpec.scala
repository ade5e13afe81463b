package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The input-table reader: a repeated read of an unchanged table starts no
  * Spark job, a rewritten table is re-inferred, and the rows always equal
  * those of a plain schema-inferring `read.parquet`. */
class TablesSpec extends SparkTestBase {

  private val jobGroups = new ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Jobs `body` starts. Listener events arrive asynchronously but in
    * order, so a fence job run after `body` marks when all of them are in. */
  private def jobsOf(body: => Unit): Int = {
    listener
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID.toString
    sc.setJobGroup(id, "measured")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$id-fence", "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30000000000L
    while (!jobGroups.contains(s"$id-fence") && System.nanoTime < deadline) Thread.sleep(10)
    assert(jobGroups.contains(s"$id-fence"), "fence job never reached the listener")
    jobGroups.asScala.count(_ == id)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("Tables.read infers once, re-infers a rewritten table, and reads the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    val path = s"$dir/t.parquet"
    spark.range(0, 50, 1, 3).select(col("id"), (col("id") * 2).cast("int").as("v"))
      .write.parquet(path)

    var first: DataFrame = null
    assert(jobsOf { first = Tables.read(spark, dir, "t") } >= 1) // inference runs a job
    var second: DataFrame = null
    assert(jobsOf { second = Tables.read(spark, dir, "t") } == 0)
    val plain = spark.read.parquet(path)
    assert(second.schema == plain.schema && first.schema == plain.schema)
    assert(rows(second) == rows(plain) && rows(second).length == 50)

    // a rewrite with another schema changes the listing -> re-inferred
    spark.range(0, 7, 1, 2).select(col("id").cast("string").as("name"), lit(1.5).as("w"))
      .write.mode("overwrite").parquet(path)
    val rewritten = Tables.read(spark, dir, "t")
    val plain2 = spark.read.parquet(path)
    assert(rewritten.schema == plain2.schema)
    assert(rewritten.schema.fieldNames.toSeq == Seq("name", "w"))
    assert(rows(rewritten) == rows(plain2) && rows(rewritten).length == 7)
    assert(jobsOf { Tables.read(spark, dir, "t") } == 0)
  }

  test("Tables.read of a missing table fails like read.parquet") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, dir, "absent"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }
}
