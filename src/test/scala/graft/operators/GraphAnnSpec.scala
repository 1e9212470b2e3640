package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Graph ANN quality gate, on the sf0.01 embeddings (near-random —
  * the query's best cosine is ≈0.37 against a ≈0.27 background, so
  * recall here is HARD; there is no planted easy cluster). The claim
  * under test is the serving tradeoff: greedy best-first search over
  * the NN-descent-refined graph must reach HIGHER recall@10 than
  * multi-probe LSH while scoring FEWER candidates. All inputs are
  * deterministic (fixed planes, fixed-point scores, id tiebreaks), so
  * the comparison is exact, not statistical.
  */
class GraphAnnSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graph-ann-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ip(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  test("best-first search: beats multi-probe LSH recall on a smaller candidate budget") {
    val fxAll = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x * lit(1e7)).cast("long")).as("f"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    val qf = fxAll.find(_._1 == 0L).get._2
    val base = fxAll.filter(_._1 != 0L)
    val n = base.size
    val brute = base.map { case (id, f) => (id, ip(f, qf)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet

    val fxDf = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x * lit(1e7)).cast("long")).as("f"))
      .filter(col("vec_id") =!= 0)
    val graph = GraphAnn.buildGraph(fxDf).persist()
    val (topDf, budget) = GraphAnn.searchWithBudget(graph, fxDf, qf)
    val got = topDf.collect().map(_.getLong(0)).toSet
    graph.unpersist()
    val recall = (got intersect brute).size / 10.0

    assert(budget <= n / 2, s"graph search scored $budget of $n — must stay a bounded fraction")
    assert(recall >= 0.8, s"graph recall@10 = $recall (budget $budget of $n)")

    // multi-probe LSH baseline: 8-bit sign signature, probe every
    // bucket within hamming radius 4 of the query's signature — a
    // LARGER candidate set than the graph search spent
    val md = MessageDigest.getInstance("MD5")
    val planes = (0 until 8).map { j =>
      (0 until 64).map { i =>
        val h = md.digest(s"plane:$j:$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 1) 1L else -1L
      }.toArray
    }
    def sig(f: Array[Long]): Int =
      planes.zipWithIndex.foldLeft(0) { case (acc, (p, j)) =>
        if (ip(f, p) >= 0) acc | (1 << j) else acc }
    val qSig = sig(qf)
    val probeCands = base.filter { case (_, f) => Integer.bitCount(sig(f) ^ qSig) <= 4 }
    val probeTop = probeCands.map { case (id, f) => (id, ip(f, qf)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val probeRecall = (probeTop intersect brute).size / 10.0

    assert(probeCands.size > budget,
      s"baseline must out-spend the graph for a fair claim: probe ${probeCands.size} vs graph $budget")
    assert(recall > probeRecall,
      s"graph recall $recall (budget $budget) must beat multi-probe recall $probeRecall " +
        s"(budget ${probeCands.size})")
  }

  test("layered entry: coarse-layer seeds reach >= flat recall at a smaller scored budget") {
    val fxDf = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x * lit(1e7)).cast("long")).as("f"))
    val qf = fxDf.filter(col("vec_id") === 0).select("f").head().getSeq[Long](0).toArray
    val base = fxDf.filter(col("vec_id") =!= 0).persist()
    val fxAll = base.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    val brute = fxAll.map { case (id, f) => (id, ip(f, qf)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet

    val graph = GraphAnn.buildGraph(base).persist()
    val (flatTop, flatBudget) = GraphAnn.searchWithBudget(graph, base, qf)
    val flatRecall = (flatTop.collect().map(_.getLong(0)).toSet intersect brute).size / 10.0

    // the coarse layer is persisted state, like the quantizers — built
    // once, loaded at serve time; here built inline for the comparison
    val entry = GraphAnn.buildEntryLayer(base).collect().map(_.getLong(0)).toSeq
    assert(entry.size >= 8 && entry.size <= 32, s"coarse layer size ${entry.size}")
    // the spread entry lets the search cut its expansion budget
    val (layerTop, layerBudget) = GraphAnn.searchWithBudget(
      graph, base, qf, maxExpand = 22, entryIds = Some(entry))
    val layerRecall = (layerTop.collect().map(_.getLong(0)).toSet intersect brute).size / 10.0
    graph.unpersist(); base.unpersist()

    assert(layerBudget < flatBudget,
      s"layered search must spend less: $layerBudget vs flat $flatBudget")
    assert(layerRecall >= flatRecall,
      s"layered recall $layerRecall (budget $layerBudget) must be >= flat $flatRecall (budget $flatBudget)")
  }

  test("stored-index serving: per-query results identical to the live path; point reads are partition-pruned") {
    val fxDf = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x * lit(1e7)).cast("long")).as("f"))
    val base = fxDf.filter(col("vec_id") >= 4).persist()
    val qs = fxDf.filter(col("vec_id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq.sortBy(_._1)

    val graph = GraphAnn.buildGraph(base).persist()
    val entryDf = GraphAnn.buildEntryLayer(base).persist()
    val entry = entryDf.collect().map(_.getLong(0)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("gann_store").toString
    val nB = 16
    GraphAnn.writeStores(base, graph, entryDf, dir, nBuckets = nB)
    assert(GraphAnn.storedEntry(spark, dir) == entry.sorted, "the entry layer is committed with the store")

    // batched stored search == the live per-query search, bit for bit:
    // same entry set, same ef/batch/maxExpand discipline, same tie order
    val (storedDf, storedBudgets) = GraphAnn.searchStoredWithBudget(
      spark, GraphAnn.StoredIndex(dir, nB), qs, k = 10, maxExpand = 22, entryIds = entry)
    val stored = storedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(t => (t._2, t._3)).toSeq }
    qs.foreach { case (qid, qf) =>
      val (liveDf, liveBudget) = GraphAnn.searchWithBudget(
        graph, base, qf, maxExpand = 22, entryIds = Some(entry))
      val live = liveDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(stored(qid) == live, s"qid=$qid stored=${stored(qid)} live=$live")
      assert(storedBudgets(qid) == liveBudget,
        s"qid=$qid budget stored=${storedBudgets(qid)} live=$liveBudget")
    }
    graph.unpersist(); base.unpersist()

    // a point read of specific ids must touch ONLY those ids' bucket
    // directories (partition pruning on the store layout) — the
    // property that makes a hop a pruned read instead of a table scan.
    // inputFiles ignores filters, so assert on the EXECUTED scan: its
    // numFiles metric must equal the probed buckets' files, not the
    // table's.
    val probeIds = Seq(17L, 33L)
    val wantBuckets = probeIds.map(GraphAnn.bucketOf(_, nB)).toSet
    val probe = spark.read.parquet(GraphAnn.tablePath(dir, "fx"))
      .filter(col("bucket").isin(wantBuckets.toSeq: _*) && col("vec_id").isin(probeIds: _*))
    assert(probe.collect().map(_.getAs[Long]("vec_id")).toSet == probeIds.toSet)
    val scan = probe.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the probe plan"))
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("bucket")),
      s"bucket filter must be a partition filter: ${scan.metadata}")
    val allFiles = spark.read.parquet(GraphAnn.tablePath(dir, "fx")).inputFiles
    val wantFiles = allFiles.count(f => wantBuckets.exists(b => f.contains(s"bucket=$b/")))
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles == wantFiles && readFiles < allFiles.length,
      s"pruned read touched $readFiles files; wanted $wantFiles of ${allFiles.length}")
  }

  /** planted-grid corpus (same shape as the dd12/ss14 fixtures): 16-dim
    * integer vectors, inter-class gap 1000 ≫ jitter < 100, so both the
    * appended and the rebuilt graph must navigate to the same (exact)
    * per-class top-10. */
  private def planted(id: Long, nClasses: Int): Array[Long] =
    (0 until 16).map { j =>
      val center = ((id % nClasses) * 1299709L + j * 104729L) % 1000L * 1000L
      val k = id * 16 + j
      val m = 2147483647L
      val h1 = (k * 1299709L + 104729L) % m
      val h2 = (h1 * 48271L) % m
      center + ((h2 * h2 + h1) % m) % 100L
    }.toArray

  test("appendStore: delta insert with dirty-bucket repair serves like a full rebuild") {
    val s2 = spark
    import s2.implicits._
    val nClasses = 8
    // base ids 4..1999, delta ids 2000..2099 plus near-twins of the
    // 4 held-out queries (ids 2100..2103 = query vector + tiny shift):
    // the twins are IP-top-1 for their query, so a probe that misses
    // the appended data is caught immediately
    val qs = (0L until 4L).map(q => q -> planted(q, nClasses))
    val twin = qs.map { case (q, f) => (2100L + q, f.map(_ + 1L)) }
    val baseRows = (4L until 2000L).map(id => (id, planted(id, nClasses)))
    val deltaRows = (2000L until 2100L).map(id => (id, planted(id, nClasses))) ++ twin
    val baseDf = baseRows.toDF("vec_id", "f").persist()
    val deltaDf = deltaRows.toDF("vec_id", "f")
    val fullDf = (baseRows ++ deltaRows).toDF("vec_id", "f").persist()

    // planted geometry is L2; probe with the l2 metric and compare to
    // the exact integer L2 top-10 (the twin is d2-top-1 by design)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def brute(qf: Array[Long]): Set[Long] =
      (baseRows ++ deltaRows).map { case (id, f) => (id, d2(f, qf)) }
        .sortBy { case (id, s) => (s, id) }.take(10).map(_._1).toSet

    val nB = 16
    val dirA = java.nio.file.Files.createTempDirectory("gann_append").toString
    val graphA = GraphAnn.buildGraph(baseDf, degree = 16, dims = 16).persist()
    // component-guaranteed entries: the planted corpus builds 8
    // disconnected class islands, and a coarse sign layer alone
    // strands some of them (no budget can reach an enterless island)
    val entryDfA = GraphAnn.buildEntryLayerConnected(baseDf, graphA, dims = 16).persist()
    val entryA = entryDfA.collect().map(_.getLong(0)).toSeq
    GraphAnn.writeStores(baseDf, graphA, entryDfA, dirA, nB)
    GraphAnn.appendStore(spark, GraphAnn.StoredIndex(dirA, nB), deltaDf,
      degree = 16, entryIds = entryA, metric = "l2")

    val dirB = java.nio.file.Files.createTempDirectory("gann_rebuild").toString
    val graphB = GraphAnn.buildGraph(fullDf, degree = 16, dims = 16).persist()
    val entryDfB = GraphAnn.buildEntryLayerConnected(fullDf, graphB, dims = 16).persist()
    val entryB = entryDfB.collect().map(_.getLong(0)).toSeq
    GraphAnn.writeStores(fullDf, graphB, entryDfB, dirB, nB)

    def probe(dir: String, entry: Seq[Long]): Map[Long, Set[Long]] =
      GraphAnn.searchStoredWithBudget(spark, GraphAnn.StoredIndex(dir, nB), qs,
        k = 10, ef = 48, maxExpand = 80, batch = 8, entryIds = entry,
        metric = "l2")._1
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    val append = probe(dirA, entryA)
    val rebuild = probe(dirB, entryB)
    qs.foreach { case (q, qf) =>
      val want = brute(qf)
      assert(append(q) == want, s"append probe for q=$q: ${append(q)} vs exact $want")
      assert(rebuild(q) == want, s"rebuild probe for q=$q: ${rebuild(q)} vs exact $want")
      assert(append(q).contains(2100L + q), s"q=$q must surface its appended twin")
    }
    graphA.unpersist(); graphB.unpersist()
    baseDf.unpersist(); fullDf.unpersist()
  }

  test("appendStoreChunked: bisected multi-piece ingest serves exactly, and a full re-run is idempotent") {
    val s2 = spark
    import s2.implicits._
    val nClasses = 8
    val qs = (0L until 4L).map(q => q -> planted(q, nClasses))
    val twin = qs.map { case (q, f) => (2100L + q, f.map(_ + 1L)) }
    val baseRows = (4L until 2000L).map(id => (id, planted(id, nClasses)))
    val deltaRows = (2000L until 2100L).map(id => (id, planted(id, nClasses))) ++ twin
    val baseDf = baseRows.toDF("vec_id", "f").persist()
    val deltaDf = deltaRows.toDF("vec_id", "f")
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def brute(qf: Array[Long]): Set[Long] =
      (baseRows ++ deltaRows).map { case (id, f) => (id, d2(f, qf)) }
        .sortBy { case (id, s) => (s, id) }.take(10).map(_._1).toSet

    val nB = 16
    val dir = java.nio.file.Files.createTempDirectory("gann_chunked").toString
    val graph = GraphAnn.buildGraph(baseDf, degree = 16, dims = 16).persist()
    val entryDf = GraphAnn.buildEntryLayerConnected(baseDf, graph, dims = 16).persist()
    val entry = entryDf.collect().map(_.getLong(0)).toSeq
    GraphAnn.writeStores(baseDf, graph, entryDf, dir, nB)
    val store = GraphAnn.StoredIndex(dir, nB)
    // pieceCap 40 over a 104-row delta forces >= 3 bisection pieces;
    // later pieces must link against the earlier ones through the store
    val pieces = GraphAnn.appendStoreChunked(spark, store, deltaDf,
      degree = 16, entryIds = entry, metric = "l2", pieceCap = 40L)
    assert(pieces >= 3, s"expected a multi-piece ingest, got $pieces")

    def probe(): Map[Long, Set[Long]] =
      GraphAnn.searchStoredWithBudget(spark, store, qs,
        k = 10, ef = 48, maxExpand = 80, batch = 8, entryIds = entry,
        metric = "l2")._1
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val first = probe()
    qs.foreach { case (q, qf) =>
      assert(first(q) == brute(qf), s"chunked probe for q=$q: ${first(q)} vs exact ${brute(qf)}")
      assert(first(q).contains(2100L + q), s"q=$q must surface its appended twin")
    }

    // retried ingest: no duplicate fx rows, identical serving results
    val rowsAfter = spark.read.parquet(GraphAnn.tablePath(dir, "fx")).count()
    GraphAnn.appendStoreChunked(spark, store, deltaDf,
      degree = 16, entryIds = entry, metric = "l2", pieceCap = 40L)
    assert(spark.read.parquet(GraphAnn.tablePath(dir, "fx")).count() == rowsAfter,
      "a re-run must not append duplicate fx rows")
    assert(probe() == first, "a re-run must not change serving results")
    graph.unpersist(); baseDf.unpersist()
  }

  test("entry-layer drift gate: an append-born island becomes reachable with NO manual refresh") {
    val s2 = spark
    import s2.implicits._
    val baseRows = (4L until 2000L).map(id => (id, planted(id, 8)))
    // the appended ISLAND: mutually nearest (near-identical direction,
    // tiny jitter) and far from every resident in L2 — appendStore's
    // per-vector top-degree link keeps only island-mates (59 mates at
    // cos ≈ 1 beat every resident), so the publish lands a NEW
    // connected component the committed entry layer knows nothing
    // about: exactly the long-append failure mode under test
    val islandRows = (3000L until 3060L).map { id =>
      (id, Array.tabulate(16)(j => 50000000L + ((id * 31 + j * 7) % 1000L)))
    }
    val islandIds = islandRows.map(_._1).toSet
    val baseDf = baseRows.toDF("vec_id", "f").persist()
    val nB = 16
    val dir = java.nio.file.Files.createTempDirectory("gann_entry_refresh").toString
    val graph = GraphAnn.buildGraph(baseDf, degree = 16, dims = 16).persist()
    GraphAnn.writeStores(baseDf, graph, GraphAnn.buildEntryLayerConnected(baseDf, graph, dims = 16),
      dir, nB)
    val stale = GraphAnn.storedEntry(spark, dir)
    // raw appendStore (no gate): the island publishes AND is reported
    // as isolated — the signal appendStoreChunked's drift gate consumes
    val isolated = GraphAnn.appendStore(spark, GraphAnn.StoredIndex(dir, nB),
      islandRows.toDF("vec_id", "f"), degree = 16, entryIds = stale, metric = "l2")
    assert(isolated == islandRows.size,
      s"every island vector must report isolated, got $isolated")

    val qf = Array.fill(16)(50000500L)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val want = (baseRows ++ islandRows).map { case (id, f) => (id, d2(f, qf)) }
      .sortBy { case (id, s) => (s, id) }.take(10).map(_._1).toSet
    assert(want.subsetOf(islandIds), "fixture: the exact top-10 must live on the island")

    def probe(entry: Seq[Long]): Set[Long] =
      GraphAnn.searchStoredWithBudget(spark, GraphAnn.StoredIndex(dir, nB),
        Seq(7L -> qf), k = 10, ef = 48, maxExpand = 80, batch = 8,
        entryIds = entry, metric = "l2")._1
        .collect().map(_.getLong(1)).toSet
    assert(probe(stale).intersect(islandIds).isEmpty,
      "premise: under the stale entry layer the island must be unreachable")

    // the production path: a chunked ingest (idempotent re-run of the
    // same delta — no duplicate fx rows) whose drift gate sees the
    // isolation signal and refreshes the entry layer ITSELF; no
    // manual refreshEntryLayer call anywhere in this scenario
    val fxRows = spark.read.parquet(GraphAnn.tablePath(dir, "fx")).count()
    // the gate derives the projection width from the committed
    // dims-16 fx, not a caller default (a 64-wide projection null-pads
    // and collapses the coarse layer to one bucket)
    GraphAnn.appendStoreChunked(spark, GraphAnn.StoredIndex(dir, nB),
      islandRows.toDF("vec_id", "f"), degree = 16, entryIds = stale,
      metric = "l2")
    assert(spark.read.parquet(GraphAnn.tablePath(dir, "fx")).count() == fxRows,
      "the gated re-run must not append duplicate fx rows")
    val fresh = GraphAnn.storedEntry(spark, dir)
    assert(fresh != stale, "the drift gate must have refreshed the entry layer")
    assert(probe(fresh) == want,
      "after the gated entry refresh the island must be exactly searchable")
    graph.unpersist(); baseDf.unpersist()
  }

  test("refreshEntryLayer derives the projection width from the committed vectors") {
    val s2 = spark
    import s2.implicits._
    val rows = (0L until 512L).map(id =>
      (id, Array.tabulate(16)(j => ((id * 131 + j * 17) % 2000L) - 1000L)))
    val df = rows.toDF("vec_id", "f").persist()
    val dir = java.nio.file.Files.createTempDirectory("gann_dims").toString
    val g = GraphAnn.buildGraph(df, degree = 8, dims = 16).persist()
    GraphAnn.writeStores(df, g, df.limit(1).select("vec_id"), dir, nBuckets = 16)
    // no dims hint anywhere
    GraphAnn.refreshEntryLayer(spark, GraphAnn.StoredIndex(dir, 16))
    val got = GraphAnn.storedEntry(spark, dir).toSet
    val expected = GraphAnn.buildEntryLayerConnected(df, g, nPlanes = 5, dims = 16)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected, "refresh must equal an explicit dims-16 rebuild")
    // the coarse layer keeps its spread: a width-mismatched projection
    // (the old caller-default bug) null-pads every sign bit and
    // collapses all coarse buckets to one representative
    val coarse = GraphAnn.buildEntryLayer(df, dims = 16).count()
    assert(coarse > 1, s"fixture must occupy several sign buckets, got $coarse")
    g.unpersist(); df.unpersist()
  }

  test("stored search shards above ServeBatchCap with identical results") {
    val s2 = spark
    import s2.implicits._
    val rows = (4L until 500L).map(id => (id, planted(id, 8)))
    val df = rows.toDF("vec_id", "f").persist()
    val qs = (0L until 5L).map(q => q -> planted(q, 8))
    val dir = java.nio.file.Files.createTempDirectory("gann_shard").toString
    val entryDf = GraphAnn.buildEntryLayer(df, dims = 16).persist()
    val entry = entryDf.collect().map(_.getLong(0)).toSeq
    GraphAnn.writeStores(df, GraphAnn.buildGraph(df, degree = 16, dims = 16), entryDf, dir, 16)
    val store = GraphAnn.StoredIndex(dir, 16)
    def run(shard: Int) = {
      val (r, b) = GraphAnn.searchStoredWithBudget(spark, store, qs,
        entryIds = entry, shardSize = shard)
      (r.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq, b)
    }
    val (oneBatch, budgets1) = run(Int.MaxValue)
    val (sharded, budgets2) = run(2) // forces 3 shards over the 5 queries
    assert(sharded == oneBatch, "sharding must not change any result row")
    assert(budgets1 == budgets2, "sharding must not change any per-query budget")
    df.unpersist()
  }

  test("executor-side distributed serving is bit-equal to the driver path (both metrics)") {
    val s2 = spark
    import s2.implicits._
    val rows = (4L until 1500L).map(id => (id, planted(id, 8)))
    val df = rows.toDF("vec_id", "f").persist()
    // queries: 600 corpus-adjacent vectors — forces several partitions
    // AND exceeds ServeBatchCap so the driver twin itself shards
    val qs = (0L until 600L).map(q => q -> planted(q % 8, 8).map(_ + q))
    val dir = java.nio.file.Files.createTempDirectory("gann_dist").toString
    val entryDf = GraphAnn.buildEntryLayer(df, dims = 16).persist()
    val entry = entryDf.collect().map(_.getLong(0)).toSeq
    GraphAnn.writeStores(df, GraphAnn.buildGraph(df, degree = 16, dims = 16), entryDf, dir, 16)
    val store = GraphAnn.StoredIndex(dir, 16)
    val qdf = qs.toDF("qid", "q").repartition(7).persist()
    for (metric <- Seq("ip", "l2")) {
      val driver = GraphAnn.searchStoredWithBudget(spark, store, qs,
          entryIds = entry, metric = metric)._1
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq.sorted
      val dist = GraphAnn.searchStoredDistributed(spark, store, qdf,
          entryIds = entry, metric = metric)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq.sorted
      assert(dist == driver, s"distributed serve must be bit-equal to the driver path ($metric)")
    }
    // snapshot reuse across batches: pass a pre-built CSR explicitly
    val csr = GraphAnn.loadCsr(spark, store)
    val again = GraphAnn.searchStoredDistributed(spark, store, qdf,
        entryIds = entry, metric = "ip", csr = Some(csr)).count()
    assert(again == 600L * 10)
    qdf.unpersist(); df.unpersist()
  }

  test("distributed serving after an in-place appendStore serves the new store, not a memoized snapshot") {
    val s2 = spark
    import s2.implicits._
    val rows = (4L until 800L).map(id => (id, planted(id, 8)))
    val df = rows.toDF("vec_id", "f").persist()
    // each query's near-twin arrives in the append: it is the query's
    // l2-top-1, so a search still served from the pre-append snapshot
    // cannot return it
    val qs = (0L until 4L).map(q => q -> planted(q, 8))
    val twins = qs.map { case (q, f) => (2000L + q, f.map(_ + 1L)) }.toDF("vec_id", "f")
    val dir = java.nio.file.Files.createTempDirectory("gann_memo").toString
    val graph = GraphAnn.buildGraph(df, degree = 16, dims = 16).persist()
    val entryDf = GraphAnn.buildEntryLayerConnected(df, graph, dims = 16).persist()
    val entry = entryDf.collect().map(_.getLong(0)).toSeq
    GraphAnn.writeStores(df, graph, entryDf, dir, 16)
    val store = GraphAnn.StoredIndex(dir, 16)
    val qdf = qs.toDF("qid", "q")
    def serve(csr: Option[GraphAnn.CsrIndex]) =
      GraphAnn.searchStoredDistributed(spark, store, qdf, entryIds = entry, metric = "l2", csr = csr)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq.sorted
    val before = serve(None)
    GraphAnn.appendStore(spark, store, twins, degree = 16, entryIds = entry, metric = "l2")
    val after = serve(None)
    // the same search over a snapshot loaded fresh from disk
    val fresh = serve(Some(GraphAnn.loadCsr(spark, store)))
    assert(after == fresh, "a memoized pre-append snapshot was served")
    assert(qs.forall { case (q, _) => after.exists(r => r._1 == q && r._2 == 2000L + q) },
      "every query must surface its appended twin")
    assert(after != before)
    // the superseded generation's snapshot and broadcast were released
    assert(GraphAnn.memoizedGenerations(dir) == Set(GraphAnn.liveGeneration(dir).n))
    graph.unpersist(); df.unpersist()
  }
}
