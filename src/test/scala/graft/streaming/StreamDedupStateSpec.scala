package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming LSH band join's time bound evicts state: once the
  * watermark passes a batch's horizon, the join drops that batch's rows,
  * so its state holds about one horizon of documents however long the
  * stream runs. */
class StreamDedupStateSpec extends SparkSpec {
  import spark.implicits._

  private val Base = 10000L
  private val Batches = 6
  private val PerBatch = 20

  /** Batch `b`'s documents: consecutive pairs share their text, so each
    * batch yields PerBatch / 2 exact near-dups; batches are 1,000 s apart,
    * far beyond the 60 s horizon, so no pair spans two batches. */
  private def batch(b: Int): Seq[(Long, String, Long)] = (0 until PerBatch).map { j =>
    val id = (b * PerBatch + j).toLong
    val topic = b * PerBatch + j / 2
    val rnd = new scala.util.Random(topic)
    val text = Seq.fill(24)(Seq.fill(5)(('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    (id, text, Base + b * 1000L + j)
  }

  test("streaming LSH: the band join evicts rows past the horizon and its state stops growing") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val docs = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("text"),
      expr("timestamp_seconds(_3)").as("ts"))
    val out = StreamDedup.lshNearDupPairs(docs, "doc_id", "text", "ts",
      k = 8, bands = 4, threshold = 0.35, withinUs = 60L * 1000000, watermark = "0 seconds")
    val q = out.select("doc_a", "doc_b").writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup_state").start()
    def joinState = q.recentProgress.toSeq.flatMap(_.stateOperators)
      .filter(_.operatorName.toLowerCase.contains("join"))
    val totals = try (0 until Batches).map { b =>
      ms.addData(batch(b))
      q.processAllAvailable()
      // the no-data batch that follows a watermark move runs the eviction
      joinState.last.numRowsTotal
    } finally q.stop()
    val removed = joinState.map(_.numRowsRemoved).sum
    info(s"band join state rows after each batch: $totals; rows removed: $removed")
    val pairs = spark.table("stream_dedup_state").as[(Long, Long)].collect().toSet
    assert(pairs == (0 until Batches * PerBatch by 2).map(i => (i.toLong, i + 1L)).toSet,
      s"pairs: $pairs")
    assert(removed > 0, s"the band join never evicted a row; state totals $totals")
    assert(totals.drop(2).forall(_ <= totals(1)),
      s"the band join's state keeps growing past the horizon: $totals")
  }
}
