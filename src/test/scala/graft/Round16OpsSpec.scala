package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Round-16 optimization-equivalence pins: each test locks an
  * optimized operator's output to the independent shape it replaced
  * (the oracle gate checks engine-vs-DuckDB; these check
  * optimized-vs-reference-shape inside the engine, on sf0.001). */
class Round16OpsSpec extends SparkSpec {

  test("rag context: single-pass multi-query bm25 equals per-query bm25Rank calls") {
    // reconstruct the operator's chunk table and rank each rag query
    // independently through the public bm25Rank — the exact shape the
    // r16 single-pass fold replaced
    val ragQueries = Seq(
      (1L, Seq("vector", "hash")), (2L, Seq("stream", "window")),
      (3L, Seq("dup", "key")))
    val chunks = Tables.documents(spark, sf)
      .select(col("doc_id"),
        posexplode(graft.api.Graft.chunkOverlap(col("text"), window = 50, stride = 30))
          .as(Seq("chunk_idx", "chunk")))
      .select(concat(col("doc_id"), lit(":"), col("chunk_idx")).as("chunk_id"),
        col("chunk"))
    val expected = ragQueries.map { case (qid, terms) =>
      val top = graft.api.Graft.bm25Rank(chunks, "chunk", "chunk_id", terms, topK = 3)
        .collect()
      qid -> top.map(r => (r.getString(0), r.getAs[Long]("score_micro")))
    }.toMap
    val got = TextAnalysis.ragContext(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("top_score_micro"),
          r.getAs[String]("context"))).toMap
    ragQueries.foreach { case (qid, _) =>
      val exp = expected(qid)
      val (nChunks, topScore, context) = got(qid)
      assert(nChunks === exp.length.toLong, s"query $qid chunk count")
      assert(topScore === exp.map(_._2).max, s"query $qid top score")
      // provenance tags appear in bm25 score order (desc, id tie-break)
      val tagOrder = exp.sortBy { case (id, s) => (-s, id) }.map { case (id, _) => s"[$id]" }
      val positions = tagOrder.map(context.indexOf)
      assert(positions.forall(_ >= 0), s"query $qid missing tags: $tagOrder vs $context")
      assert(positions === positions.sorted, s"query $qid tag order")
    }
  }

  test("weighted median: two-level parallel prefix equals the single serial window") {
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val qty = round(col("l_quantity")).cast("long")
    val byFlag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("cents"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ref = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), cents.as("cents"), qty.as("w"))
      .groupBy(col("l_returnflag"), col("cents")).agg(sum(col("w")).as("w"))
      .withColumn("cumw", sum(col("w")).over(byFlag))
      .withColumn("total", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))))
      .filter(col("cumw") * 2 >= col("total"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("cents")).as("median_cents"), max(col("total")).as("total_weight"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = Aggregations.weightedMedian(spark, sf).collect()
      .map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    assert(got === ref)
  }

  // ---- scoped session conf (Graft.withSqlConf / withTinyExec) ----

  private val codegenKey = "spark.sql.codegen.wholeStage"

  test("tiny scope: a key unset before the scope is unset after it") {
    assert(!spark.conf.getAll.contains(codegenKey), "SparkSpec never sets it")
    val before = spark.conf.getAll
    val inside = graft.api.Graft.withTinyExec(spark, 10L) {
      (spark.conf.get(codegenKey), spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"))
    }
    assert(inside === (("false", "false", "1")))
    assert(spark.conf.getAll === before)
  }

  test("withSqlConf restores the session conf when the body throws") {
    val before = spark.conf.getAll
    intercept[IllegalStateException] {
      graft.api.Graft.withSqlConf(spark, codegenKey -> "false",
          "spark.sql.shuffle.partitions" -> "1") {
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.getAll === before)
  }

  test("withSqlConf: overlapping scopes on one session never capture each other's values") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val before = spark.conf.getAll
    val aInside, aDone = new CountDownLatch(1)
    @volatile var seenByA, seenByB: Option[String] = None
    val key = "spark.sql.shuffle.partitions"
    val b = new Thread(() => graft.api.Graft.withSqlConf(spark, key -> "2") {
      // without serialization B would now be inside A's scope, holding
      // A's "1" as its prior, and would restore it after A had restored
      aDone.await(30, TimeUnit.SECONDS)
      seenByB = Some(spark.conf.get(key))
    })
    val a = new Thread(() =>
      try graft.api.Graft.withSqlConf(spark, key -> "1") {
        aInside.countDown()
        // hold the scope until B is parked on the session's scope lock
        val deadline = System.nanoTime() + 10000000000L
        while (b.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
          Thread.sleep(5)
        seenByA = Some(spark.conf.get(key))
      } finally aDone.countDown())
    a.start()
    assert(aInside.await(30, TimeUnit.SECONDS))
    b.start()
    a.join(); b.join()
    assert(seenByA === Some("1"))
    assert(seenByB === Some("2"))
    assert(spark.conf.getAll === before)
  }
}
