package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: the engine's configuration — AQE (runtime
  * coalescing + skew-join splitting), dynamic partition overwrite, UTC,
  * the nanosAsLong events read, streaming checkpoints without checksum
  * sidecars, and the graft extensions (SQL functions, GlobalWindowToAgg,
  * the as-of join strategy). Library users, the tool mains and the test
  * suites all build through it, so the graded configuration is the
  * shipped one.
  *
  * On a cluster, pass the real master/shuffle-partition count (a common
  * starting point is 2–3× total executor cores; AQE coalesces down).
  * Spark UI and similar JVM-wide settings come from `-Dspark.*` system
  * properties (see build.sbt), which `build` does not override.
  */
object GraftSession {
  /** Spark 4.1 writes and fsyncs a sidecar .crc per checkpoint file per
    * micro-batch — pure overhead on a local filesystem (and on any DFS
    * that already checksums blocks), measured 0.88–0.98 paired
    * (plans/r15/exp_crc.log). SPARK_GRAFT_CKPT_CHECKSUM=true restores the
    * Spark default for corruption-audit runs. */
  private val CkptChecksumKey =
    "spark.sql.streaming.checkpoint.fileChecksum.enabled"
  private def ckptChecksumDefault: String =
    sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false")

  def build(master: String = "local[*]",
            shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // incremental partitioned writes must only replace the partitions
      // they produce (the default STATIC overwrite deletes the whole
      // table root); the writer also requests this per-write
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // read TIMESTAMP(NANOS) parquet as long once, session-wide (the
      // Tables facade rebuilds microsecond timestamps from it)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(CkptChecksumKey, ckptChecksumDefault)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    // getOrCreate may return a pre-existing session whose extensions were
    // fixed at creation; registering directly makes the functions available
    // either way.
    functions.GraftExtensions.register(spark)
    spark
  }

  /** The session of the tool mains (Bench, Verify, Explain, StreamDiag,
    * ExpPairedConf): `local[n]` with n shuffle partitions, where n is
    * SPARK_GRAFT_CPUS or, unset, the available processors. */
  def forTool(appName: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = build(s"local[$cpus]", cpus, appName)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
