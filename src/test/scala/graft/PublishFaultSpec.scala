package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fs
import graft.operators.{GraphAnn, IvfIndex, QuantizerCache}
import graft.sources.VersionedTable
import graft.streaming.{StreamingNearDup, VectorIndexMaintainer}
import graft.streaming.StreamingNearDupSpec.ND

/** Crash safety of every store commit point, by fault injection: each
  * writer call is re-run with each of its publishes failing at each
  * step (write, force, move) of [[Fs.publishFile]]. After the fault a
  * reader must see exactly the old snapshot or the new one, and the
  * next writer call must behave as it does on that snapshot — with no
  * recovery step in between. */
class PublishFaultSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("publish-fault-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private final class Injected extends RuntimeException("injected publish fault")

  /** run `op` with its `k`-th publish failing at `step`; false if `op`
    * made fewer than `k` publishes (it then ran to completion). A fault
    * that `op` swallows counts as fired too: what it left is checked. */
  private def faulted(step: String, k: Int)(op: => Unit): Boolean = {
    var calls = 0
    var fired = false
    Fs.beforeStep = { s =>
      if (s == "write") calls += 1
      if (s == step && calls == k) { fired = true; throw new Injected }
    }
    try op
    catch { case _: Injected => () }
    finally Fs.beforeStep = _ => ()
    fired
  }

  private def withTmp[T](f: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory("publish_fault").toString
    try f(d) finally Fs.deleteRecursively(new java.io.File(d))
  }

  /** The contract, for `op` over the state `setup` leaves: for every
    * step and every publish of `op`, a fault leaves `view` equal to the
    * old or the new snapshot, and `next` (then `view`) returns what it
    * returns on that snapshot. Returns the number of faults injected. */
  private def everyFault[V, R](setup: String => Unit, op: String => Unit,
                               view: String => V, next: String => R): Int = {
    def reference(applyOp: Boolean) = withTmp { d =>
      setup(d)
      if (applyOp) op(d)
      val v = view(d)
      (v, (next(d), view(d)))
    }
    val (oldView, oldNext) = reference(applyOp = false)
    val (newView, newNext) = reference(applyOp = true)
    assert(oldView != newView, "the writer call must change what a reader sees")
    var injected = 0
    for (step <- Seq("write", "force", "move")) {
      var k = 1
      var more = true
      while (more) {
        more = withTmp { d =>
          setup(d)
          val fired = faulted(step, k)(op(d))
          if (fired) {
            injected += 1
            val seen = view(d)
            assert(seen == oldView || seen == newView,
              s"fault at publish $k, step $step: a reader saw a mix\n$seen")
            val want = if (seen == oldView) oldNext else newNext
            assert((next(d), view(d)) == want, s"fault at publish $k, step $step: next writer")
          }
          fired
        }
        k += 1
      }
    }
    injected
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  // ------------------------------------------------------- VersionedTable
  test("VersionedTable.commit: a fault at any publish leaves the old or the new version") {
    val s = spark
    import s.implicits._
    def rows(vs: Seq[(Long, Long)]) = vs.toDF("k", "v")
    val v0 = rows((0L until 16L).map(k => (k, k)))
    val v1 = rows((0L until 8L).map(k => (k, 100 + k)))
    def table(d: String) = new VersionedTable(spark, d, nBuckets = 4)
    val n = everyFault[(Option[Int], Seq[String], Seq[String]), Unit](
      setup = d => table(d).commit(v0, Seq("k"), None, statsCols = Seq("v")): Unit,
      op = d => table(d).commit(v1, Seq("k"), Some(0), statsCols = Seq("v")): Unit,
      // a cold reader: version, full read, zone-map-pruned range query
      // (pruning is a superset guarantee; the caller applies the range)
      view = { d =>
        val t = table(d)
        (t.currentVersion(), sorted(t.read().get),
          sorted(t.readPruned("v", 100, 200).get.filter(col("v").between(100, 200))))
      },
      next = { d =>
        val t = table(d)
        t.commit(rows(Seq((3L, -3L))), Seq("k"), t.currentVersion(), statsCols = Seq("v")): Unit
      })
    assert(n == 3, "one manifest publish per commit, three steps")
  }

  // ------------------------------------------------------------ IvfIndex
  private val model = IvfIndex.modelFromCenters(Array(
    Array(0f, 0f, 0f, 0f), Array(20f, 20f, 20f, 20f), Array(40f, 40f, 40f, 40f)))

  private def vectors(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, Seq.tabulate(4)(j => ((i * 7 + j * 13) % 45).toFloat))).toDF("vec_id", "embedding")
  }

  private def centroids(m: IvfIndex.Model): Seq[(Int, Seq[Float])] =
    m.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq

  /** what a store reader sees: committed count, live ids, physical
    * rows and the quantizer the store serves. */
  private def ivfView(d: String): (Long, Seq[Long], Long, Seq[(Int, Seq[Float])]) = {
    val rows = IvfIndex.readStore(spark, d)
    (IvfIndex.storedCount(spark, d),
      rows.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq,
      rows.count(),
      centroids(IvfIndex.loadModel(spark, d)))
  }

  test("IVF writeStore / upsertStore / applyCdc: a fault at any publish leaves the old or the new generation") {
    type View = (Long, Seq[Long], Long, Seq[(Int, Seq[Float])])
    val base = vectors(0L until 60L)
    val setup = (d: String) => IvfIndex.writeStore(IvfIndex.assign(base, model), model, d)
    // the next writer appends under whatever model the store serves
    val nextAppend = (d: String) => { IvfIndex.upsertStore(vectors(200L until 205L), d); ivfView(d) }
    val moved = IvfIndex.modelFromCenters(Array(
      Array(5f, 5f, 5f, 5f), Array(25f, 25f, 25f, 25f), Array(45f, 45f, 45f, 45f)))
    val writes = everyFault[View, View](setup,
      op = d => IvfIndex.writeStore(IvfIndex.assign(vectors(0L until 40L), moved), moved, d),
      view = ivfView, next = nextAppend)
    // new ids and resident ones: the resident ids' lists are rewritten
    val upserts = everyFault[View, View](setup,
      op = d => IvfIndex.upsertStore(vectors((100L until 110L) ++ Seq(3L, 9L)), d),
      view = ivfView, next = nextAppend)
    val cdc = vectors(Seq(3L, 7L, 30L)).withColumn("change_type", lit("delete"))
      .unionByName(vectors(Seq(9L)).withColumn("change_type", lit("update_preimage")))
      .unionByName(vectors(Seq(9L)).withColumn("embedding", array(Seq.fill(4)(lit(44f)): _*))
        .withColumn("change_type", lit("update_postimage")))
      .unionByName(vectors(Seq(120L)).withColumn("change_type", lit("insert")))
    val applies = everyFault[View, View](setup,
      op = d => IvfIndex.applyCdc(cdc, d),
      view = ivfView, next = nextAppend)
    assert(writes == 3 && upserts == 3 && applies == 3, "one pointer publish per write")
  }

  // ------------------------------------------------------ QuantizerCache
  test("QuantizerCache: a build that throws leaves no entry directory; the next lookup trains and serves the same model") {
    val corpus = vectors(0L until 60L)
    val sfKey = java.nio.file.Files.createTempDirectory("publish_fault_qcache").toString
    val entry = QuantizerCache.storeDir(sfKey, "ivf-3-42").toFile
    def entries(): Seq[String] = Option(entry.getParentFile.list()).toSeq.flatten.sorted
    val want = centroids(IvfIndex.train(corpus, nlist = 3))
    for (step <- Seq("write", "force", "move")) {
      QuantizerCache.invalidate()
      Fs.deleteRecursively(entry.getParentFile)
      // the model files are written; the count beside them faults
      assert(faulted(step, 1)(QuantizerCache.ivfStats(spark, sfKey, corpus, nlist = 3)), step)
      assert(entries().isEmpty, s"fault at $step left ${entries()}")
      val (m, n) = QuantizerCache.ivfStats(spark, sfKey, corpus, nlist = 3)
      assert(centroids(m) == want && n == 60L)
      assert(entries() == Seq(entry.getName))
    }
    Fs.deleteRecursively(entry.getParentFile)
    Fs.deleteRecursively(new java.io.File(sfKey))
  }

  // ------------------------------------------------------ StreamingNearDup
  private def docs(rows: Seq[ND]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }
  private val sigA = "0" * 32
  private val sigB = "1" * 16 + "0" * 16
  private val corpus = Seq(ND(1L, -100L, "h1", sigA), ND(2L, -90L, "h2", sigB))
  private val batch0 = Seq(ND(10L, 10L, "h1", "01" * 16), ND(20L, 20L, "h20", "1" + sigA.tail),
    ND(30L, 30L, "h30", "0011" * 8))
  private val batch1 = Seq(ND(60L, 60L, "h30", "1" * 32), ND(70L, 70L, "h70", "11" + sigB.drop(2)))

  /** what a store reader sees: both stores' rows and files per bucket. */
  private def nearDupView(root: String): Seq[Seq[String]] =
    Seq("sig", "hash").flatMap { sub =>
      val dir = StreamingNearDup.storeDir(root, sub)
      Seq(sorted(spark.read.parquet(dir)),
        new java.io.File(dir).listFiles().filter(_.isDirectory).map { b =>
          s"${b.getName}:${b.listFiles().count(_.getName.endsWith(".parquet"))}"
        }.sorted.toSeq)
    }

  private def verdicts(v: DataFrame): Seq[String] = v.collect().map {
    case Row(id: Long, verdict: String, m: Long) => s"$id:$verdict:$m"
  }.sorted.toSeq

  private def gated(root: String): Unit = {
    StreamingNearDup.bootstrap(docs(corpus), root)
    StreamingNearDup.processBatch(spark, docs(batch0), root): Unit
  }
  private def nextBatch(root: String): Seq[String] =
    verdicts(StreamingNearDup.processBatch(spark, docs(batch1), root))

  test("near-dup bootstrap / compactStore: a fault at any publish leaves one whole generation; the next micro-batch runs as-is") {
    val bootstraps = everyFault[Seq[Seq[String]], Seq[String]](
      setup = gated,
      op = root => StreamingNearDup.bootstrap(docs(corpus.take(1)), root),
      view = nearDupView,
      next = nextBatch)
    val compactions = everyFault[Seq[Seq[String]], Seq[String]](
      setup = gated,
      op = root => StreamingNearDup.compactStore(spark, root),
      view = nearDupView,
      next = nextBatch)
    assert(bootstraps == 3 && compactions == 3)
  }

  test("near-dup processBatch: a fault at its publish leaves the old or the new generation; the replay leaves the uninterrupted run") {
    // on the old generation the next call is batch1's first run, on the
    // new one its replay
    val batches = everyFault[Seq[Seq[String]], Seq[String]](
      setup = gated,
      op = root => StreamingNearDup.processBatch(spark, docs(batch1), root): Unit,
      view = nearDupView,
      next = nextBatch)
    assert(batches == 3, "one pointer publish per micro-batch")
    val once = withTmp { d => gated(d); (nextBatch(d), nearDupView(d)) }
    val replayed = withTmp { d => gated(d); nextBatch(d); (nextBatch(d), nearDupView(d)) }
    assert(replayed == once, "a replayed batch must leave the uninterrupted run's rows and verdicts")
  }

  // ------------------------------------------------------------ GraphAnn
  /** a small graph store's inputs, collected once so every setup
    * commits the same bytes. */
  private def graphVecs(ids: Seq[Long]): Seq[(Long, Array[Long])] =
    ids.map(id => (id, Array.tabulate(8)(j => ((id * 131 + j * 17) % 2000L) - 1000L)))

  private lazy val graphBase: (Seq[(Long, Array[Long])], Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val vecs = graphVecs(0L until 200L)
    val edges = GraphAnn.buildGraph(vecs.toDF("vec_id", "f"), degree = 8, dims = 8)
      .select("src", "dst").as[(Long, Long)].collect().toSeq
    (vecs, edges)
  }

  private def writeGraph(d: String, vecs: Seq[(Long, Array[Long])], edges: Seq[(Long, Long)],
                         entry: Seq[Long]): Unit = {
    val s = spark
    import s.implicits._
    GraphAnn.writeStores(vecs.toDF("vec_id", "f"), edges.toDF("src", "dst"),
      entry.toDF("vec_id"), d, nBuckets = 8)
  }

  /** what a store reader sees: the live vectors, edges and entry layer. */
  private def graphView(d: String): Seq[Seq[String]] = Seq(
    sorted(spark.read.parquet(GraphAnn.tablePath(d, "fx")).select("vec_id", "f")),
    sorted(spark.read.parquet(GraphAnn.tablePath(d, "edges")).select("src", "dst")),
    GraphAnn.storedEntry(spark, d).map(_.toString))

  test("graph writeStores / appendStore / refreshEntryLayer: a fault at any publish leaves the old or the new generation") {
    val s = spark
    import s.implicits._
    val (vecs, edges) = graphBase
    val setup = (d: String) => writeGraph(d, vecs, edges, entry = Seq(0L, 1L))
    def store(d: String) = GraphAnn.StoredIndex(d, 8)
    // the next writer: an append linked from the committed entry layer
    val nextAppend = (d: String) => GraphAnn.appendStore(spark, store(d),
      graphVecs(300L until 310L).toDF("vec_id", "f"), degree = 8, entryIds = GraphAnn.storedEntry(spark, d))
    val writes = everyFault[Seq[Seq[String]], Int](setup,
      op = d => writeGraph(d, vecs.take(120), edges.filter { case (a, b) => a < 120 && b < 120 }, Seq(5L)),
      view = graphView, next = nextAppend)
    val appends = everyFault[Seq[Seq[String]], Int](setup,
      op = d => GraphAnn.appendStore(spark, store(d), graphVecs(200L until 220L).toDF("vec_id", "f"),
        degree = 8, entryIds = Seq(0L, 1L)): Unit,
      view = graphView, next = nextAppend)
    val refreshes = everyFault[Seq[Seq[String]], Int](setup,
      op = d => GraphAnn.refreshEntryLayer(spark, store(d)),
      view = graphView, next = nextAppend)
    assert(writes == 3 && appends == 3 && refreshes == 3, "one pointer publish per call")
  }

  // ------------------------------------------------ VectorIndexMaintainer
  /** what a fresh maintainer serves: its model, every indexed row's
    * posting list and its committed count. Each row must sit in the
    * list that model assigns it to, and the count must be the rows'. */
  private def maintainerView(d: String): (Seq[(Int, Seq[Float])], Seq[(Long, Int)]) = {
    val m = new VectorIndexMaintainer(spark, d, model)
    val served = m.model
    val rows = if (!IvfIndex.storeExists(d)) Nil
      else IvfIndex.readStore(spark, d).select("vec_id", "embedding", "list_id").collect().toSeq
    rows.foreach { r =>
      assert(served.nearest(r.getSeq[Float](1).toArray, 1).head == r.getInt(2),
        s"vec ${r.getLong(0)} sits in list ${r.getInt(2)}, not where the served quantizer puts it")
    }
    assert(m.indexedCount() == rows.length, s"pointer count ${m.indexedCount()} vs ${rows.length} rows")
    (centroids(served), rows.map(r => (r.getLong(0), r.getInt(2))).sorted)
  }

  test("vector-index processBatch / refreshQuantizer: after a fault at any publish every row sits under the served quantizer") {
    type View = (Seq[(Int, Seq[Float])], Seq[(Long, Int)])
    def ingest(d: String, batch: DataFrame, batchId: Long): Unit =
      new VectorIndexMaintainer(spark, d, model).processBatch(batch, batchId)
    // the next writer: a restarted maintainer ingests one more batch
    val nextBatch = (d: String) => { ingest(d, vectors(60L until 80L), 2L); maintainerView(d) }
    val firsts = everyFault[View, View](setup = _ => (),
      op = d => ingest(d, vectors(0L until 40L), 0L),
      view = maintainerView, next = nextBatch)
    // id 0 sits in list 1; re-pointed at the last centroid it moves to list 2
    val moved = vectors(Seq(0L)).withColumn("embedding", array(Seq.fill(4)(lit(44f)): _*))
      .unionByName(vectors(Seq(100L)))
    val upserts = everyFault[View, View](setup = d => ingest(d, vectors(0L until 40L), 0L),
      op = d => ingest(d, moved, 1L),
      view = maintainerView, next = nextBatch)
    val refreshes = everyFault[View, View](setup = d => ingest(d, vectors(0L until 40L), 0L),
      op = d => new VectorIndexMaintainer(spark, d, model).refreshQuantizer(),
      view = maintainerView, next = nextBatch)
    assert(firsts == 3 && upserts == 3 && refreshes == 3, "one pointer publish per writer call")
  }
}
