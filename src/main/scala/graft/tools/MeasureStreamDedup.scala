package graft.tools

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.Dedup
import graft.streaming.StreamingOps

/** Replay helpers for measuring [[StreamingOps.streamingNearDedup]] recall
  * against the batch MinHash+LSH decision at equal threshold — the
  * empirical evidence behind the single-band pre-filter's documented
  * s^bandRows recall claim. The StreamingSpec recall pin runs them; the
  * sweep main behind the NOTES.md figures is in git history
  * (`git show 613271b:src/main/scala/graft/tools/MeasureStreamDedup.scala`).
  */
object MeasureStreamDedup {

  private val streamIds = new AtomicInteger(9000)

  /** Replay `docs` (doc_id, text) through [[StreamingOps.streamingNearDedup]]
    * in doc_id order (event time = epoch + doc_id ms, `batchSize` docs per
    * micro-batch) and return the (doc_id, kept, dup_of) verdicts.
    */
  def replay(spark: SparkSession, docs: Seq[(Long, String)], threshold: Double,
      batchSize: Int, bandRows: Int = 2): Seq[(Long, Boolean, Option[Long])] = {
    import spark.implicits._
    val id = streamIds.incrementAndGet()
    val in = MemoryStream[(Long, Timestamp, String)](id, spark, None)
    val name = s"msd_$id"
    val out = StreamingOps.streamingNearDedup(
      in.toDF().toDF("doc_id", "ts", "text"), "ts", "1 hour",
      threshold = threshold, bandRows = bandRows)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      docs.sortBy(_._1).grouped(batchSize).foreach { chunk =>
        in.addData(chunk.map { case (id, text) =>
          (id, new Timestamp(id), text)
        })
        q.processAllAvailable()
      }
      spark.table(name).as[(Long, Boolean, Option[Long])].collect().toSeq
    } finally q.stop()
  }

  /** Docs flagged duplicate by the batch LSH pipeline under
    * first-arrival-wins (the higher doc_id of each pair at `threshold`).
    */
  def batchDupIds(docs: DataFrame, threshold: Double): Set[Long] =
    Dedup.minHashLshPairs(docs, threshold = threshold)
      .select("b_id").distinct().collect().map(_.getLong(0)).toSet
}
