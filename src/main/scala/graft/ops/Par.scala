package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Scale-adaptive scan fan-out (optimization guide §2.2/§2.6, §6).
  *
  * Spark's file-split arithmetic (`maxSplitBytes = min(maxPartitionBytes,
  * max(openCostInBytes, bytes/minPartitionNum))`) cannot split inside one
  * parquet row group, so a single small single-row-group file — the local
  * bench's table shape — yields a ONE-task scan no matter the core count,
  * and every scan-stage kernel (TER/chrF/BLEU DPs, curation gates, the
  * covariance grid) runs single-threaded on a 32-core host. At production
  * scale the same tables are thousands of row groups and scans parallelize
  * naturally; the two shapes need different physical plans, not a constant
  * tuned for either.
  *
  * [[fanOutKernel]] bridges them by DERIVING the decision from the input:
  * when (and only when) the frame's actual file-scan partitioning is
  * starved relative to the session's cores, insert one round-robin
  * repartition so downstream per-row work uses the whole machine;
  * otherwise return the input untouched (at scale the probe says "not
  * starved" and the plan is byte-identical to before). Use it ONLY above
  * HEAVY row-pure kernels (DP alignments, regex ladders, per-row hash
  * grids) where per-row compute dwarfs the one extra exchange.
  *
  * [[fanOut]] is the guarded form for ordinary row-pure work (cheap
  * projections, signature hashes, explode-aggregates): it additionally
  * requires the scan to carry at least `FLOOR_BYTES_PER_CORE` bytes per
  * core before fanning — the round-16 driver bench showed a 32-way
  * exchange over a sub-MB table costs more than the cheap kernel it
  * parallelizes (q_cluster_sizes 0.54×, q_ivf_topk 0.58×, q_lsh_pairs
  * 0.58×, q_minhash_lsh 0.64× under the cold median-of-3 protocol), so a
  * starved-but-tiny scan is left alone. The floor is bytes-per-core
  * (scale-relative), not an absolute constant: a 10-node production scan
  * that is genuinely starved still fans once there is enough data to
  * amortize the exchange.
  *
  * The probe reads partitioning METADATA only — the leaf scan nodes'
  * planned split count and file bytes — never `df.rdd` (which under AQE
  * materializes every upstream shuffle stage, i.e. runs real jobs at
  * DataFrame-construction time). Plans that already contain a shuffle
  * exchange are returned untouched: their downstream parallelism is
  * `spark.sql.shuffle.partitions`, not the scan split count, so they are
  * not scan-starved in the §2.5 sense.
  *
  * Use ONLY above row-wise-pure work (per-row kernels, filters, aggregates,
  * joins keyed on columns): a repartition changes row placement and
  * intra-partition order, so partition-sensitive operators (the Packing
  * family's partition-local packing, `monotonically_increasing_id` chains
  * not behind an explicit sort) must not sit directly downstream.
  */
object Par {
  /** starved-or-not per (cores, floored, plan identity); bounded by the
    * number of distinct table scans a session touches. The plan identity
    * key is the 32-bit semanticHash salted with the schema hash and node
    * count — not collision-proof in theory (a full canonicalized-plan
    * digest would be, but costs a tree render per call); a collision
    * mis-applies another plan's fan decision, a perf-only misbehavior.
    */
  private val decided =
    new java.util.concurrent.ConcurrentHashMap[(Int, Boolean, Int, Int, Int), Boolean]()

  /** Minimum planned scan bytes per core before [[fanOut]] inserts the
    * exchange (4 MB/core). Below it the per-row work a guarded site
    * protects is cheaper than the 32-way exchange itself.
    */
  private val floorBytesPerCore: Long = 4L * 1024 * 1024

  /** Guarded fan: starvation probe AND the bytes-per-core floor. */
  def fanOut(df: DataFrame): DataFrame = fan(df, floored = true)

  /** Kernel fan: starvation probe only — for sites whose downstream
    * per-row kernel (DP alignment, regex ladder, k-means grid) dominates
    * the exchange even on a sub-MB scan (driver-confirmed round 16:
    * q_lang_id 1.96×, q_quality 1.76×, q_token_stats 1.50×).
    */
  def fanOutKernel(df: DataFrame): DataFrame = fan(df, floored = false)

  private def fan(df: DataFrame, floored: Boolean): DataFrame = {
    // streaming frames: micro-batch partitioning is the source's business
    // (and the probe below cannot run on an unstarted stream)
    if (df.isStreaming) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (cores <= 1) return df
    val analyzed = df.queryExecution.analyzed
    val key = (cores, floored, analyzed.semanticHash(),
      df.schema.catalogString.hashCode, analyzed.collectLeaves().size)
    val starved = decided.computeIfAbsent(key, _ => {
      val plan = df.queryExecution.sparkPlan
      // a plan already carrying a shuffle is not scan-starved: everything
      // downstream of the exchange runs at spark.sql.shuffle.partitions
      val shuffled = plan.exists { case _: ShuffleExchangeLike => true
        case _ => false }
      if (shuffled) false
      else {
        // only FILE-backed inputs qualify: an in-memory relation (test
        // fixture, literal frame) is never the 100 TB shape, and fanning
        // it would add an exchange to operators whose zero-shuffle plan
        // is a spec'd invariant. Partition counts come from the scan
        // nodes' PLANNED splits (metadata — no job, unlike df.rdd under
        // AQE); bytes from the file listing.
        val v1 = plan.collect { case f: FileSourceScanExec => f }
        val v2 = plan.collect { case b: BatchScanExec => b }
        if (v1.isEmpty && v2.isEmpty) false
        else {
          val parts = v1.map(_.inputRDDs().head.getNumPartitions).sum +
            v2.map(_.inputRDD.getNumPartitions).sum
          val bytes = v1.map(_.relation.location.sizeInBytes).sum +
            v2.map(_.logicalLink
              .map(_.stats.sizeInBytes).getOrElse(BigInt(Long.MaxValue))
              .min(BigInt(Long.MaxValue)).toLong).sum
          parts < cores &&
            (!floored || bytes >= floorBytesPerCore * cores)
        }
      }
    })
    if (starved) df.repartition(cores) else df
  }
}
