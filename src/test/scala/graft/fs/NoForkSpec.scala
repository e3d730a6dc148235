package graft.fs

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.model.Message
import graft.ops.TableOps
import graft.streaming.{IngestDedup, Topics}

/** No process launches on graft's local I/O paths. Stock Hadoop without
  * libhadoop forks `chmod` per created file or dir and `readlink` per
  * FileContext rename; on the session recipe's filesystem a streaming
  * checkpoint, state store, file sink, batch parquet write and vacuum
  * commit launch none. Launches are read from JFR's `jdk.ProcessStart`
  * events for the whole JVM, so the control pins that the recording
  * does see a stock `chmod`. */
class NoForkSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** The command line of every process this JVM launched while `body`
    * ran, except Spark's artifact cleanup: when GC collects a session
    * that an earlier streaming query cloned, the JDK Cleaner thread
    * deletes its artifact dir with `rm -rf` — at a time no test
    * controls, through no filesystem code. */
  private def launches(body: => Unit): Seq[String] = {
    // one-off launches in class initializers, run now so they are not
    // charged to whichever I/O path touches them first: Spark's executor
    // metrics (`getconf PAGESIZE`) and Hadoop's Shell (a `setsid` probe)
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-nofork", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq.filterNot { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
      }.map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  test("the session's Hadoop conf resolves file: to the fork-free classes") {
    // the FileSystem cache is keyed by scheme and user, not by conf: a
    // stock instance cached before the session would silently win
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[NioRawLocalFileSystem])
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFs])
  }

  test("control: a stock RawLocalFileSystem creating one file launches a process") {
    val stock = new RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), new Configuration())
    val target = new Path(Files.createTempDirectory("graft-nofork-ctl").resolve("f").toUri)
    val seen = launches(stock.create(target).close())
    assert(seen.exists(_.contains("chmod")), s"JFR saw no chmod launch: $seen")
  }

  test("stream: graft-messages -> IngestDedup -> parquet sink with a checkpoint launches no process") {
    val name = "nofork-" + System.nanoTime()
    val topic = Topics.create(name, 2)
    val words = "spark stream state sink offset commit shard topic cursor band".split(' ')
    val docs = (0 until 40).map(i => (i.toLong, (0 until 12).map(j => words((i * 7 + j * 3) % 10)).mkString(" ")))
    topic.producer(seed = 5).publish(docs.map { case (id, text) =>
      Message.simple("k" + id % 5, id.toString, "body" -> text.getBytes("UTF-8")) }: _*)
    val root = Files.createTempDirectory("graft-nofork-stream")
    val out = root.resolve("out").toString
    val seen = launches {
      val in = spark.readStream.format("graft-messages").option("topic", name)
        .option("maxRecordsPerBatch", "15").load() // 2 micro-batches on the hotter shard
        .select(col("externalId").cast("long").as("doc_id"),
          col("data").getItem("body").cast("string").as("text"))
      val q = IngestDedup.bandCollisions(in).toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.exception.foreach(throw _)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "wanted at least 2 data batches")
    }
    assert(seen.isEmpty, s"launched: $seen")
    assert(spark.read.parquet(out).groupBy("doc_id").count().as[(Long, Long)].collect()
      .toMap == docs.map(_._1 -> 16L).toMap)
  }

  test("batch: a parquet write and a vacuum's FileContext OVERWRITE rename launch no process") {
    val root = Files.createTempDirectory("graft-nofork-batch").toString
    Seq(0L, 2L).foreach { v =>
      Seq((v, s"v$v")).toDF("k", "s").write.parquet(TableOps.versionPath(root, v))
    }
    val written = root + "/plain"
    val seen = launches {
      spark.range(100).select(col("id"), (col("id") % 7).as("m")).write.parquet(written)
      assert(TableOps.vacuumVersions(spark, root, keepFrom = 2L) == Seq(0L))
    }
    assert(seen.isEmpty, s"launched: $seen")
    assert(spark.read.parquet(written).count() == 100)
    assert(TableOps.vacuumHorizon(spark, root).contains(2L))
  }
}
