package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The footer-schema memo behind [[Tables.parquet]]: a repeat read skips
  * the inference job, and a rewritten file or a changed inference conf
  * re-infers.
  */
class TablesMemoSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()

  /** Spark jobs `body` launches on this thread. A sentinel job in a
    * second group marks the end: the listener bus delivers in order, so
    * once the sentinel's start is seen every job of `body` is counted.
    */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"memo-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-end"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(sentinel, sentinel)
      spark.range(1).collect()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a repeat read of a source table launches no Spark job") {
    val dir = Files.createTempDirectory("graft_memo_tables").toString
    spark.range(10).toDF("l_orderkey").write.parquet(s"$dir/lineitem.parquet")
    Tables(spark, dir).lineitem
    assert(jobsLaunchedBy(Tables(spark, dir).lineitem) == 0)
  }

  test("only the first read of a new file infers its schema") {
    val path = Files.createTempDirectory("graft_memo_first").resolve("t").toString
    spark.range(10).write.parquet(path)
    assert(jobsLaunchedBy(Tables.parquet(spark, path)) >= 1)
    assert(jobsLaunchedBy(Tables.parquet(spark, path)) == 0)
    assert(Tables.parquet(spark, path).count() == 10)
  }

  test("a path rewritten with a different schema reads with the new schema") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_memo_rewrite").resolve("t").toString
    Seq(1L, 2L).toDF("a").write.parquet(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("a"))
    Seq(("x", 1.5)).toDF("b", "c").write.mode("overwrite").parquet(path)
    val back = Tables.parquet(spark, path)
    assert(back.schema == spark.read.parquet(path).schema)
    assert(back.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(back.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("x", 1.5)))
  }

  test("spark.sql.parquet.binaryAsString is part of the memo key") {
    // Spark-written footers carry Spark's own schema, which binaryAsString
    // never overrides, so the file is written with the plain parquet API
    val file = Files.createTempDirectory("graft_memo_binary").resolve("b.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary payload; }")
    val writer = ExampleParquetWriter.builder(new Path(file.toString))
      .withType(schema).withConf(new Configuration()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("payload", "abc"))
    finally writer.close()

    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    def payloadType(s: SparkSession): DataType =
      Tables.parquet(s, file.toString).schema("payload").dataType
    assert(payloadType(spark) == BinaryType)
    assert(payloadType(asString) == StringType)
    assert(payloadType(spark) == BinaryType)
    assert(Tables.parquet(asString, file.toString).collect()(0).getString(0) == "abc")
  }
}
