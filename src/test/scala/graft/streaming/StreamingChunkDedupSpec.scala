package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming chunk dedup vs the batch registry query: in-order arrival
  * must be bit-equal to `d22_chunk_dedup`'s first-occurrence rule, and
  * out-of-order arrival must still keep every distinct chunk exactly
  * once globally. */
class StreamingChunkDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("streaming-chunk-dedup-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs(n: Int): Seq[StreamingChunkDedup.Doc] =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(n).collect()
      .map(r => StreamingChunkDedup.Doc(r.getLong(0), r.getString(1)))

  private def runStream(batches: Seq[Seq[StreamingChunkDedup.Doc]], name: String): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val es = MemoryStream[StreamingChunkDedup.Doc]
    val q = StreamingChunkDedup.keeps(es.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try batches.foreach { b => es.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  test("in-order arrival across micro-batches equals the batch d22 per-doc summary") {
    val all = docs(60)
    val got = runStream(Seq(all.take(20), all.slice(20, 40), all.drop(40)), "scd_in_order")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))

    // batch twin: the registry query over the same 60 docs staged as a
    // documents.parquet fixture dir
    val dir = java.nio.file.Files.createTempDirectory("scd_batch").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .orderBy("doc_id").limit(60)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val want = graft.SparkEntry.queries("d22_chunk_dedup")(spark, dir)
      .select("doc_id", "n_chunks", "n_kept")

    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(snap(got) == snap(want))
  }

  test("stateTtl evicts unseen chunks (numRowsRemoved > 0) and an expired chunk is kept again") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val es = MemoryStream[StreamingChunkDedup.Doc]
    val q = StreamingChunkDedup.keeps(es.toDS(), stateTtl = Some(java.time.Duration.ofMillis(200)))
      .writeStream.format("memory").queryName("scd_ttl")
      .outputMode("append").start()
    // ProcessingTimeTimeout makes the engine run no-data batches to
    // fire expirations, so processAllAvailable never settles — poll
    // the memory sink instead
    def waitFor(what: String)(pred: => Boolean): Unit = {
      val t0 = System.currentTimeMillis
      while (!pred && System.currentTimeMillis - t0 < 30000) Thread.sleep(100)
      assert(pred, s"timed out waiting for $what")
    }
    def docRows(id: Long): Long =
      spark.table("scd_ttl").filter(col("doc_id") === id).count()
    try {
      es.addData(Seq(StreamingChunkDedup.Doc(1L, "a b c d e f g h i j")))
      waitFor("doc 1 verdict")(docRows(1L) > 0)
      // age past the lease; the engine's timeout batches fire eviction
      Thread.sleep(600)
      es.addData(Seq(StreamingChunkDedup.Doc(2L, "k l m n o p q r s t")))
      waitFor("doc 2 verdict")(docRows(2L) > 0)
      waitFor("state eviction (numRowsRemoved > 0)") {
        q.recentProgress
          .flatMap(p => Option(p.stateOperators).toSeq.flatten)
          .map(_.numRowsRemoved).sum > 0
      }
      // the same content arrives again after expiry: first-in-window ⇒ kept again
      es.addData(Seq(StreamingChunkDedup.Doc(3L, "a b c d e f g h i j")))
      waitFor("doc 3 verdict")(docRows(3L) > 0)
      val keeps = spark.table("scd_ttl")
        .filter(col("keep") && col("idx") === 0).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(keeps.contains(1L) && keeps.contains(3L),
        s"expected doc 1 and doc 3 both kept after TTL expiry, got $keeps")
    } finally q.stop()
  }

  test("out-of-order arrival still keeps each distinct chunk exactly once") {
    val all = docs(60)
    val shuffled = all.reverse
    val rows = runStream(
      Seq(shuffled.take(15), shuffled.slice(15, 45), shuffled.drop(45)), "scd_ooo")
    val nKept = rows.filter(col("keep")).count()
    val nDistinct = spark.createDataFrame(
      spark.sparkContext.parallelize(all.flatMap(StreamingChunkDedup.chunksOf)))
      .select("chunk").distinct().count()
    assert(nKept == nDistinct)
    // and every occurrence got a verdict
    assert(rows.count() == all.flatMap(StreamingChunkDedup.chunksOf).size)
  }
}
