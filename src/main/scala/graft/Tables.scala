package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All tables keep their parquet schema except `events.ts`, whose
  * physical type has varied across driver generations: INT64
  * TIMESTAMP(NANOS) (a type Spark's parquet reader rejects outright —
  * read via `spark.sql.legacy.parquet.nanosAsLong` and floored to
  * microseconds with `div 1000`, not `/1000`: int64 nanos exceed a
  * double's 53-bit mantissa) or plain TIMESTAMP(MICROS) without
  * timezone (read natively as TIMESTAMP_NTZ). Both normalize to
  * TIMESTAMP_NTZ microseconds here; DuckDB lands on the same value
  * when it reads the file, so oracle comparisons stay value-identical
  * under either generation.
  *
  * Schemas are inferred once per session. A bare `spark.read.parquet`
  * runs one Spark job to read a footer; [[schema]] keeps what it
  * inferred and every later read passes it to the reader, which then
  * starts no job. An entry is keyed by
  *  - the qualified path,
  *  - the session's explicitly set `spark.sql.parquet.*` and
  *    `spark.sql.legacy.parquet.*` confs (`nanosAsLong` changes the
  *    inferred type of `events.ts`),
  * and holds the fingerprint of the path's leaf files (name, length,
  * modification time, recursively), listed on every read without a
  * job. A fingerprint that differs from the entry's — a table
  * rewritten in place — infers the schema again. The cache is
  * metadata: [[BenchSession.releaseCaches]] does not drop it.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = parquet(spark, s"$dir/events.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case TimestampNTZType => df
        case _ => df.withColumn("ts", col("ts").cast(TimestampNTZType))
      }
    case n => parquet(spark, s"$dir/$n.parquet")
  }

  /** Register every fixture as a temp view (used by the SQL entry point). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** `spark.read.parquet(path)` with the session's cached schema. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers, partition columns
    * included, inferred at most once per session, path, parquet confs
    * and file fingerprint. A path that cannot be listed is handed to
    * the reader uncached, so it fails with the reader's own error. */
  def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val key = (qualified.toString, parquetConfs(spark))
    val cache = sessionCache(spark)
    val files = try Some(fingerprint(fs, qualified))
                catch { case _: java.io.FileNotFoundException => None }
    Option(cache.get(key)) match {
      case Some((seen, s)) if files.contains(seen) => s
      case _ =>
        val s = spark.read.parquet(path).schema
        files.foreach(f => cache.put(key, (f, s)))
        s
    }
  }

  private type Fingerprint = Seq[(String, Long, Long)]

  // weak keys: a session's entries live as long as the session object;
  // lookups are by reference (SparkSession does not override equals)
  private val sessions =
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[(String, Seq[(String, String)]), (Fingerprint, StructType)]]()

  private def sessionCache(spark: SparkSession) = sessions.synchronized {
    var m = sessions.get(spark)
    if (m == null) { m = new ConcurrentHashMap(); sessions.put(spark, m) }
    m
  }

  private def parquetConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.toSeq.sorted

  /** (path, length, modification time) of every leaf file under `p`,
    * or of `p` itself when it is a file. */
  private def fingerprint(fs: FileSystem, p: Path): Fingerprint = {
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
    fs.listStatus(p).toSeq.flatMap(leaves)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
  }
}
