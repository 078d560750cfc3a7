package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** r15 verdict #5: streaming STATE-SIZE evidence under the RocksDB
  * state store provider (the disk-backed store that bounds executor
  * memory when streaming state reaches 100 TB-scale key spaces —
  * `spark.sql.streaming.stateStore.providerClass`, public Spark
  * conf). For each stateful operator family the probe feeds synthetic
  * MemoryStream batches at 1× and 10× and reads the engine's OWN
  * state accounting (`StreamingQueryProgress.stateOperators`:
  * numRowsTotal + the provider's memory metrics), then replays 10×
  * input over the 1× key set and finally advances the watermark — so
  * the table shows state tracks KEYS (bounded by the watermark), not
  * input volume. Results → docs/SCALE.md streaming-state table.
  * Driven by `ScaleProbe stream-state`. */
object StreamStateProbe {

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)
  case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  private val base = 1704067200000L // 2024-01-01 00:00 UTC

  private def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)

  def run(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    def evs(n: Int, keys: Int): Seq[Ev] =
      (0 until n).map { i =>
        Ev(i % keys, ts(i % 8), (i % keys).toLong / 10L,
          if (i % 2 == 0) "click" else "view", 1.0)
      }
    def docs(n: Int, keys: Int): Seq[Doc] =
      (0 until n).map { i =>
        val k = i % keys
        Doc(i.toLong, ts(i % 8), s"synthetic probe document number $k with body token$k filler$k")
      }

    // run one stream: initial batches, read state; then a far-future
    // batch (advances the watermark past every initial key) + an empty
    // nudge batch so eviction lands in a committed state snapshot
    def probe[T](label: String, build: DataFrame => DataFrame,
                 data: Seq[T], lateRow: T)
                (implicit enc: org.apache.spark.sql.Encoder[T]): Seq[String] = {
      val mem = MemoryStream[T]
      mem.addData(data: _*)
      val q = build(mem.toDF()).writeStream.format("noop")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
        .start()
      def state(): (Long, Long, Long) = {
        val so = q.recentProgress.flatMap(_.stateOperators).lastOption
        so.map { s =>
          val rdb: Long = Option(s.customMetrics)
            .map(m => m.getOrDefault("rocksdbTotalMemoryUsage",
              java.lang.Long.valueOf(s.memoryUsedBytes)).longValue())
            .getOrElse(s.memoryUsedBytes)
          (s.numRowsTotal, s.memoryUsedBytes, rdb)
        }.getOrElse((-1L, -1L, -1L))
      }
      q.processAllAvailable()
      val (r1, b1, m1) = state()
      mem.addData(lateRow)
      q.processAllAvailable()
      mem.addData(lateRow)
      q.processAllAvailable()
      val (r2, b2, m2) = state()
      q.stop()
      Seq(
        f"$label%-32s state_rows=$r1%7d mem_bytes=$b1%9d rocksdb_bytes=$m1%9d bytes_per_key=${if (r1 > 0) b1 / r1 else -1}%6d",
        f"$label%-32s AFTER-WATERMARK-ADVANCE state_rows=$r2%7d mem_bytes=$b2%9d rocksdb_bytes=$m2%9d")
    }

    val farEv = Ev(999999999L, ts(100000), 999999L, "click", 1.0)
    val farDoc = Doc(999999999L, ts(100000), "far future watermark nudge")

    graft.api.Graft.withSqlConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      for ((n, keys, tag) <- Seq((1000, 1000, "1x"), (10000, 10000, "10x"),
                                 (10000, 1000, "10x-replay-1x-keys"))) {
        out ++= probe(s"dedup_within_wm[$tag]",
          Streams.dedupWithinWatermark, evs(n, keys), farEv)
        out ++= probe(s"neardup_ingest[$tag]",
          Streams.nearDupIngest, docs(n, keys), farDoc)
        out ++= probe(s"session_counts[$tag]",
          Streams.sessionCounts, evs(n, keys), farEv)
      }
      // firstSeen: flatMapGroupsWithState with NoTimeout — state is
      // per-USER and deliberately not watermark-evicted (documented);
      // the probe shows rows track users, and survive the advance
      out ++= probe("first_seen[1x]",
        df => Streams.firstSeen(spark, df), evs(1000, 1000), farEv)
      out ++= probe("first_seen[10x]",
        df => Streams.firstSeen(spark, df), evs(10000, 10000), farEv)
      out.toSeq
    }
  }
}
