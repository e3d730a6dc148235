package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One SparkSession recipe for every graft session — the measurement
  * mains (Bench, Stress, Measure), Verify and the test fixture — so
  * their methodology and their filesystem cannot drift apart. */
object BenchSession {

  /** The shared recipe: `local[cpus]` with as many shuffle partitions,
    * UTC, graft's SQL extensions, no UI, and the fork-free local
    * filesystem ([[graft.fs.NioLocalFileSystem]] for FileSystem,
    * [[graft.fs.NioLocalFs]] for FileContext) behind every `file:`
    * path: checkpoints, state stores, sinks and parquet writes. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl", classOf[graft.fs.NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.fs.NioLocalFs].getName)

  /** Parse "k=v;k2=v2" conf-override syntax — ONE definition shared by
    * the session builder, Measure's A/B arm parser, and Bench's record
    * stamp, so the three spellings cannot drift. (A value cannot
    * contain ';' — acceptable for SQL conf values, documented here.) */
  def parseConfPairs(s: String): Seq[(String, String)] =
    s.split(';').filter(_.contains('=')).toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
    }

  /** The SPARK_GRAFT_CONF overrides active in this process (empty when
    * unset) — Bench stamps these into its record JSON so a committed
    * record self-certifies that it ran override-free. */
  def confOverrides: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").map(parseConfPairs).getOrElse(Nil)

  def build(): SparkSession = {
    val b = builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // ad-hoc conf overrides for measurement experiments:
    // SPARK_GRAFT_CONF="k=v;k2=v2". Unset = the exact session every
    // committed record ran under; Bench stamps the active map into its
    // record JSON either way (audit trail).
    confOverrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Time one action: build `df` and force it through the noop sink.
    * Cache cleanup happens OUTSIDE the measured window. Returns -1 on
    * failure. */
  def timeNoop(spark: SparkSession, label: String)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val elapsed = try {
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}")
        -1.0
    }
    releaseCaches(spark) // after timing, not inside it
    elapsed
  }

  /** Drop every cache a query left in the session: the SQL cache
    * manager's entries, then the RDD blocks. Local-checkpoint RDD
    * blocks (the dup-cluster rounds) live at the RDD level, invisible
    * to the SQL cache manager — release whatever the cleared caches
    * left behind so the next query starts from the same storage
    * baseline (and plans no `InMemoryRelation` over an earlier
    * query's cache). */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Time one registry query through the noop sink (see timeNoop). */
  def timeQuery(spark: SparkSession, name: String, dir: String): Double =
    timeNoop(spark, name)(SparkEntry.queries(name)(spark, dir))
}
