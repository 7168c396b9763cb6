package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle-partition sizing for operator-internal stages,
  * and the one scoped session-conf helper the operators use to apply it.
  *
  * A shuffle's reduce-partition count should follow the DATA VOLUME
  * crossing it, not the session's core count. The iterative operators
  * (graph rounds, the dedup label propagation) and the tiny post-kernel
  * rollups run their per-round joins/aggregations over KB–MB relations,
  * yet inherit the session's `spark.sql.shuffle.partitions` (= cores
  * locally, thousands on a cluster) — hundreds of near-empty tasks and
  * M×R shuffle blocks per round whose scheduling/fetch overhead dominates
  * below ~10⁵ rows per stage. AQE coalescing does not recover this
  * (plans/r16/exp_parfirst_inv.log): coalescing merges the reduce READS
  * but the map side still writes R-way blocks, checkpointed RDDs freeze
  * whatever count materialized, and `parallelismFirst` refuses to shrink
  * below the session parallelism.
  *
  * So the operator derives the partition count from the relation it is
  * about to iterate/aggregate — rows / rows-per-partition, clamped to
  * [1, session] — and streaming state stores derive theirs from source
  * bytes. Small inputs get few partitions locally while corpus-scale
  * inputs keep the deployer's full width (the clamp cap): the formula
  * that gives 8 partitions for the 1.2M-row sf0.1 trade-edge relation
  * gives the session's own width once rows/target exceeds it.
  */
object Parts {

  /** One lock for every scoped mutation of a session conf ([[withConfs]]):
    * scoped set/restore is only atomic if every writer serializes on the
    * SAME monitor — two independent locks would let two scopes
    * interleave their save/restore and leave the session conf wrong. */
  private val lock = new Object

  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"

  private def sessionWidth(spark: SparkSession): Long =
    spark.conf.get(ShufflePartitionsKey).toLong

  /** Partition count for an operator-internal stage over `rows` rows:
    * ceil(rows / perPartition) clamped to [1, session shuffle
    * partitions]. `perPartition` is the operator's documented per-row
    * cost class (how many rows amortize one task's scheduling overhead
    * at that operator's per-row work), not a global constant. */
  def forRows(spark: SparkSession, rows: Long, perPartition: Long): Int =
    math.max(1L, math.min(sessionWidth(spark),
      (rows + perPartition - 1) / perPartition)).toInt

  /** Same clamp for a stage whose volume is known only as input BYTES
    * (streaming sources sized before any job runs): floor is the
    * caller's minimum (state stores keep ≥4 for commit pipelining),
    * cap is the session width. */
  def forBytes(spark: SparkSession, bytes: Long, perPartitionBytes: Long,
      floor: Int): Int =
    math.max(floor.toLong, math.min(sessionWidth(spark),
      (bytes + perPartitionBytes - 1) / perPartitionBytes)).toInt

  /** Recursive byte size of a table file or directory on whatever Hadoop
    * filesystem its path names (local, hdfs, s3a, ...) — the pre-job
    * volume estimate `forBytes` consumes. Hidden checksum files are not
    * counted. */
  def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(p).getLength
  }

  /** Run `f` with each `(key, value)` set on the session conf, restoring
    * every previous value (or unsetting it) afterwards, also when `f`
    * throws. `f` must EXECUTE its jobs inside (localCheckpoint, streaming
    * drain, eager collect), not merely build a lazy plan. Serialized on
    * [[lock]] and reentrant, so a scoped caller may call a scoped helper.
    * While a scope is open, an unrelated query on the same session also
    * sees the scoped values; Verify, Bench and ScalaTest run queries
    * sequentially, and operators that run internal legs concurrently
    * (d16) take one scope around all legs. */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(f: => A): A =
    lock.synchronized {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally prev.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

  /** [[withConfs]] for `spark.sql.shuffle.partitions` = `n`. */
  def withShufflePartitions[A](spark: SparkSession, n: Int)(f: => A): A =
    withConfs(spark, ShufflePartitionsKey -> n.toString)(f)
}
