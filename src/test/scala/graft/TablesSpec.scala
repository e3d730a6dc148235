package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.{StructType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

/** The per-session schema cache behind [[Tables]]: a table read again
  * starts no inference job, and a table rewritten in place is inferred
  * again. */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  private val fixtures = SparkFixture.sfDir

  /** A fresh directory holding copies of the named fixtures, so the
    * session has never seen their paths. */
  private def freshCopy(names: String*): String = {
    val dir = Files.createTempDirectory("graft-tables")
    names.foreach(n => Files.copy(Paths.get(fixtures, s"$n.parquet"), dir.resolve(s"$n.parquet")))
    dir.toString
  }

  /** `body`'s value and the Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBridge.waitUntilEmpty(sc, 60000L)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBridge.waitUntilEmpty(sc, 60000L)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("a second read of a fixture starts no job and has the same schema") {
    val dir = freshCopy("lineitem")
    val (first, inferJobs) = jobsOf(Tables(spark, dir, "lineitem").schema)
    assert(inferJobs >= 1, "the first read infers the schema with a job")
    val (second, jobs) = jobsOf(Tables(spark, dir, "lineitem").schema)
    assert(jobs == 0)
    assert(second == first)
    assert(first == spark.read.parquet(s"$dir/lineitem.parquet").schema)
  }

  test("a table rewritten in place with another schema is read with the new schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/part.parquet"
    spark.range(5).select(col("id").as("p_partkey"), lit("a").as("p_name"))
      .write.parquet(path)
    assert(Tables(spark, dir, "part").columns.toSeq == Seq("p_partkey", "p_name"))
    spark.range(5).select(col("id").cast("int").as("p_partkey"), lit(1.5).as("p_retail"))
      .write.mode("overwrite").parquet(path)
    val reread = Tables(spark, dir, "part")
    assert(reread.schema == spark.read.parquet(path).schema)
    assert(reread.columns.toSeq == Seq("p_partkey", "p_retail"))
    assert(reread.collect().map(_.getInt(0)).sorted.toSeq == (0 until 5))
  }

  test("events.ts reads as TIMESTAMP_NTZ, twice, under both ts generations") {
    val micros = Seq(0L, 1700000000123456L, 1700000001999999L)
    val written = spark.createDataFrame(micros.zipWithIndex.map { case (us, i) => (i.toLong, us) })
      .toDF("user_id", "us")
      .select(col("user_id"), expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
    val expected = written.orderBy("user_id").collect().map(_.get(1)).toSeq

    // TIMESTAMP(MICROS) without timezone: what Spark writes for TIMESTAMP_NTZ
    val microsDir = Files.createTempDirectory("graft-tables").toString
    written.write.parquet(s"$microsDir/events.parquet")

    // INT64 TIMESTAMP(NANOS), which Spark cannot write: the older generation
    val nanosDir = Files.createTempDirectory("graft-tables").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$nanosDir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try micros.zipWithIndex.foreach { case (us, i) =>
      // sub-microsecond nanos floor away
      w.write(groups.newGroup().append("user_id", i.toLong).append("ts", us * 1000L + 789L))
    } finally w.close()

    def tsOf(df: DataFrame) = df.orderBy("user_id").collect().map(_.get(1)).toSeq
    for (dir <- Seq(microsDir, nanosDir)) {
      val reads = Seq.fill(2)(Tables(spark, dir, "events"))
      reads.foreach { df =>
        assert(df.schema("ts").dataType == TimestampNTZType, dir)
        assert(tsOf(df) == expected, dir)
      }
    }
  }

  test("four threads reading the same tables at once get equal schemas") {
    val names = Seq("region", "nation", "supplier", "part", "orders", "events")
    val dir = freshCopy(names: _*)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 4).map(_ => new Callable[Seq[StructType]] {
        def call(): Seq[StructType] = names.map(Tables(spark, dir, _).schema)
      })
      val results = pool.invokeAll(tasks.asJava, 5, TimeUnit.MINUTES).asScala.map(_.get()).toSeq
      val reference = names.map(n => Tables(spark, fixtures, n).schema)
      results.foreach(r => assert(r == reference))
    } finally pool.shutdownNow()
  }

  test("a zone _apply cell built again reads its persisted zone table without an inference job") {
    val cell = SparkEntry.queries("q128_zonemap_file_read_apply")
    val first = cell(spark, fixtures) // builds or finds the persisted fixture
    val (again, jobs) = jobsOf(cell(spark, fixtures))
    // only the envelope collect: the table's and the zone table's
    // schemas both come from the cache (a bare zone-table read would
    // infer its schema with one job more)
    assert(jobs == 1)
    assert(again.collect().toSeq == first.collect().toSeq)
  }

  test("BenchSession.releaseCaches leaves the schema cache alone") {
    val dir = freshCopy("orders")
    val before = Tables(spark, dir, "orders").cache()
    assert(before.count() > 0)
    BenchSession.releaseCaches(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    val (schema, jobs) = jobsOf(Tables(spark, dir, "orders").schema)
    assert(jobs == 0)
    assert(schema == before.schema)
  }
}
