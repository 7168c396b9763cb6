package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Facade over the driver-generated parquet tables for one scale-factor dir.
  *
  * All operators read through this; Catalyst handles column pruning and
  * filter pushdown into the parquet scans, so no caching or manual
  * projection is needed here. At cluster scale the same facade would point
  * at partitioned table roots instead of single files.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** events.parquet has shipped `ts` in two physical spellings across
    * testdata generations: TIMESTAMP(NANOS) — which Spark's vectorized
    * reader only accepts as a raw nano LONG under the nanosAsLong legacy
    * conf — and plain microsecond TIMESTAMP (read natively). Normalize
    * either to a session-TZ TimestampType via [[Tables.normalizeTs]] so
    * operators and oracles see identical values regardless of generation.
    */
  def events: DataFrame = {
    Tables.ensureNanosAsLong(spark)
    Tables.normalizeTs(table("events"))
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register every table as a temp view so `spark.sql` works against the
    * same data (the SQL entry path, q41). */
  def registerViews(): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { n =>
      table(n).createOrReplaceTempView(n)
    }

  /** The testdata files are single-row-group parquet, so a scan is one
    * task no matter how many cores exist. Compute-heavy per-row kernels
    * (MinHash/SimHash signatures, cosine math) fan out through a cheap
    * round-robin repartition first — O(file size) shuffle, full-core map
    * stage. The repartition is CONDITIONAL on the planned scan
    * parallelism: once the source has enough splits to occupy the cores
    * (a production table always does; locally, lower
    * spark.sql.files.maxPartitionBytes achieves it), the shuffle is pure
    * overhead — the full text payload written and re-read — and is
    * skipped automatically. `df.rdd` only plans (computes FileScan
    * splits); it runs no job. */
  private def wide(df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
  def documentsWide: DataFrame  = wide(documents)
  def embeddingsWide: DataFrame = wide(embeddings)

  /** Cache-key salt for process-wide derived artifacts (IVF codebook,
    * dedup pair graph): the table file's name/size/mtime listing. A
    * regenerated directory changes the fingerprint, so a cache keyed on
    * it can never serve artifacts built from deleted data. */
  def tableFingerprint(name: String): String =
    Tables.fingerprint(s"$dir/$name.parquet")
}

object Tables {
  private val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Every events read (batch facade, stream, replay builder) needs the
    * nanosAsLong legacy conf: it is read at scan planning and the
    * TIMESTAMP(NANOS) generation fails without it. `GraftSession.build`
    * sets it; this sets it on a caller-supplied session that lacks it. */
  private[graft] def ensureNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getOption(NanosAsLongKey).contains("true"))
      spark.conf.set(NanosAsLongKey, "true")

  /** Normalizes the events `ts` column to a microsecond TimestampType
    * regardless of how the parquet stores it: a raw nano LONG (the
    * TIMESTAMP(NANOS) generation, read under the nanosAsLong legacy conf)
    * is truncated ns→µs with integer DIV — the same truncation DuckDB
    * applies, so oracles agree — and a native TIMESTAMP_NTZ column is
    * cast to TimestampType, a value-identity under the UTC session
    * timezone every entry point in this library pins. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  private[graft] def fingerprint(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq.sortBy(_.getName))
      kids.map(_.flatMap(walk)).getOrElse(Seq(f))
    }
    walk(new java.io.File(path))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("|").hashCode.toHexString
  }
}
