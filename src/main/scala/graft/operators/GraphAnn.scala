package graft.operators

import java.nio.file.Paths
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** Graph-based ANN serving (the HNSW/NSG family, single-layer): a
  * persisted neighbor graph is the index; a query runs greedy
  * BEST-FIRST search over it — score a few entry points, repeatedly
  * expand the best not-yet-expanded candidates, exact-rerank
  * everything visited. High recall at a small, explicit candidate
  * budget, without any quantizer training.
  *
  * Spark shape: the graph is an edge DataFrame (src, dst) — at rest
  * bucketed by `src`, so each expansion reads only the frontier's
  * adjacency. Each expansion batch is one job: broadcast the (tiny)
  * id set against the edge table, join the new candidate ids to the
  * vector table, score with the codegen'd fixed-point inner product.
  * The candidate and expanded sets are a few hundred ids —
  * driver-held literals, never a shuffle. At 100 TB the vector fetch
  * is the only table touch per batch and rides on an id-bucketed
  * layout (point lookups, not scans); a query costs a handful of
  * pruned reads.
  *
  * Build: LSH-blocked like the `ss9` kNN-graph query (bucket
  * equi-joins, never O(n²)) but over MULTIPLE independent tables,
  * NN-descent-refined, degree-pruned, and symmetrized — see
  * [[buildGraph]] for why each step is load-bearing.
  */
object GraphAnn {

  /** fingerprint token for committed stores built by this code: bump
    * on ANY change to the build algorithm or store layout so that
    * canon-keyed store paths (Similarity.graphStoreFor) change and a
    * previously published store can't be served stale. Knob values
    * are folded into the canon separately — this token only covers
    * what the knobs can't see (the algorithm itself). */
  val BuildVersion = "gb7"

  /** deterministic ±1 hyperplanes (md5-derived), one independent
    * matrix per hash table `t` — independent instance from the
    * similarity queries' buckets, the graph does not need to share
    * their bucketing. */
  private def planes(t: Int, nPlanes: Int, dims: Int): IndexedSeq[IndexedSeq[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      (0 until dims).map { i =>
        val h = md.digest(s"gplane:$t:$j:$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 1) 1 else -1
      }
    }
  }

  private def ip(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** construction bucketing width for ~`cap` vectors per bucket —
    * NOTE this is a connectivity knob, not the probe knob: buckets
    * must be big enough that in-bucket top-`degree` edges form a
    * navigable graph (too many buckets ⇒ singleton buckets ⇒ a
    * disconnected graph greedy search cannot traverse). Candidate
    * work stays Σ bucket² ≈ n·cap — linear in n at fixed cap. */
  /** per-slice row bound for in-bucket pair scoring: a bucket larger
    * than this is sliced into consecutive-id groups before the b²
    * loop, so no task's candidate work exceeds cap² no matter how
    * correlated the sign planes turn out on a given corpus. Sized
    * ABOVE every committed fixture's largest natural bucket (planted
    * class buckets ≤ ~256 rows) so those builds are bit-unaffected. */
  val BuildBucketCap = 512

  def planesForBuild(n: Long, cap: Long = 64L): Int = {
    val needed = math.ceil(math.log(math.max(1.0, n.toDouble / cap)) / math.log(2.0)).toInt
    math.min(24, math.max(3, needed))
  }

  /** Edges rank by COSINE, not raw inner product: IP is not a metric —
    * its "nearest neighbors" are dominated by high-norm hub vectors,
    * so an IP-built graph has no proximity gradient to descend (the
    * classic MIPS-vs-metric trap). The graph encodes angular
    * proximity; the QUERY-time score stays exact IP. */
  private def cosEdge: Column =
    ip(col("fa"), col("fb")).cast("double") /
      (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))

  /** Build the symmetrized neighbor graph over `fx` (vec_id, f:
    * array<long> fixed-point): `tables` INDEPENDENT bucketings, each
    * contributing per-src top-`degree` in-bucket edges (by [[cosEdge]]
    * angular proximity), unioned, NN-descent-refined and symmetrized.
    * One bucketing alone yields a disjoint union of per-bucket
    * subgraphs (in-bucket edges never cross buckets — greedy search
    * could not leave its seed's region); independent tables cut the
    * space differently, and their union is what makes the graph
    * navigable. Cost: `tables` bucketed self-joins, each
    * Σ bucket² ≈ n·cap — linear in n at fixed cap. `nPlanes` < 0
    * auto-sizes from the corpus via [[planesForBuild]]. */
  def buildGraph(fx: DataFrame, degree: Int = 8, nPlanes: Int = -1, dims: Int = 64,
                 tables: Int = 3, refine: Int = 2): DataFrame = {
    val spark = fx.sparkSession
    import spark.implicits._
    val p = if (nPlanes > 0) nPlanes else planesForBuild(fx.count())
    val withNorm = fx.withColumn("n2", ip(col("f"), col("f")))
    // Per-table candidates are scored BUCKET-LOCALLY: one repartition
    // of (bucket, id, f) per table, then all in-bucket pairs scored in
    // memory inside mapPartitions with only (src, dst, cos) emitted.
    // The join formulation this replaces shuffled BOTH vectors per
    // candidate pair — ~60 GB of transient shuffle at 1M × dims-16
    // (measured: filled the disk), for pair payloads a bucket-local
    // loop never materializes. Emitting per-src top-degree per table
    // is result-IDENTICAL to ranking globally after the union: a
    // candidate in the global top-degree is necessarily in its own
    // table's per-src top-degree (same (cos desc, dst asc) tie rule),
    // so the global prune below sees every survivor either way.
    val perTable = (0 until tables).map { t =>
      val m = planes(t, p, dims)
      val bucket = concat((0 until p).map { j =>
        val planeLit = array(m(j).map(v => lit(v.toLong)): _*)
        when(ip(col("f"), planeLit) >= 0, lit("1")).otherwise(lit("0"))
      }: _*)
      withNorm.withColumn("bucket", bucket)
        .select(col("bucket"), col("vec_id"), col("f"), col("n2"))
        .as[(String, Long, Seq[Long], Long)]
        .repartition(col("bucket"))
        .mapPartitions { it =>
          it.toSeq.groupBy(_._1).iterator.flatMap { case (_, bucketRows) =>
            // HEAVY-BUCKET GUARD: ±1 sign planes are correlated, so a
            // "random" corpus can still land 10⁵ rows in one joint
            // sign pattern — and b² pair work in one task is the
            // classic skew straggler (measured: a single bucket
            // stalled the 1M build for minutes). Slice oversized
            // buckets into ≤ BuildBucketCap consecutive-id groups:
            // per-row candidate work is bounded by cap, the slicing
            // is deterministic (sorted ids), and cross-slice edges
            // are recovered by the OTHER tables' cuts. Buckets at or
            // under the cap — every committed fixture — are
            // bit-unaffected.
            val sortedAll = bucketRows.toArray.sortBy(_._2)
            val slices =
              if (sortedAll.length <= BuildBucketCap) Iterator(sortedAll)
              else sortedAll.grouped(BuildBucketCap)
            slices.flatMap { arr =>
            val n = arr.length
            val fs = arr.map(_._3.toArray)
            val norms = arr.map(_._4.toDouble)
            (0 until n).iterator.flatMap { i =>
              val fi = fs(i)
              // bounded keep-best-`degree` by (cos desc, dst asc): the
              // heap's dequeue() removes the WORST kept edge — the
              // reversed-cos ordering makes "smallest cos, then
              // largest dst" the maximum element
              val top = new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
                Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long]))
              var j = 0
              while (j < n) {
                if (j != i) {
                  var acc = 0L; var d = 0
                  val fj = fs(j)
                  while (d < fi.length) { acc += fi(d) * fj(d); d += 1 }
                  val c = acc.toDouble / (math.sqrt(norms(i)) * math.sqrt(norms(j)))
                  top.enqueue((c, arr(j)._2))
                  if (top.size > degree) { top.dequeue(); () }
                }
                j += 1
              }
              top.iterator.map { case (c, dst) => (arr(i)._2, dst, c) }.toSeq
            }
            }
          }
        }
        .toDF("src", "dst", "cos")
    }
    // prune to out-degree ≤ `degree` (HNSW's M bound): without it both
    // per-node memory and per-expansion scoring cost balloon
    def prune(edges: DataFrame): DataFrame = {
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
      edges.groupBy("src", "dst").agg(max("cos").as("cos"))
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") <= degree)
        .select("src", "dst", "cos")
    }
    var edges = prune(perTable.reduce(_ unionByName _))

    // NN-DESCENT refinement (Dong et al., WWW'11): a neighbor of my
    // neighbor is my candidate neighbor — score the 2-hop candidates
    // and keep the per-src top-`degree` of (current ∪ 2-hop). Each
    // round moves the LSH-seeded graph toward the TRUE (angular) kNN
    // graph, which is what makes greedy descent follow the proximity
    // gradient — and the second round is load-bearing for recall
    // (measured: recall@10 0.8 at refine=2 vs 0.5 at refine=1 on the
    // sf0.01 fixture). Cost per round: ≤ n·degree² scored pairs —
    // linear in n at fixed degree. The per-round eager checkpoint is
    // ALSO load-bearing: the 2-hop step references `edges` twice, so
    // without a materialization barrier each round DOUBLES the plan
    // tree and the prior round is recomputed on both sides of the
    // self-join (measured 2.5× wall-clock without it).
    // Candidate SCORING path for the refinement rounds. The join form
    // ships both vector arrays per candidate pair — at 1M × degree 16
    // that is n·degree² pairs × ~300 B of array payload ≈ 60+ GB of
    // transient shuffle (measured: filled the disk). When the whole
    // vector table fits the broadcast cap, score pairs IN-TASK against
    // a broadcast primitive-array snapshot instead: only the candidate
    // (src, dst) ids ever shuffle, the arithmetic is bit-identical
    // (same Long ip → toDouble → sqrt division), and a real cluster
    // ships the snapshot once per executor like any dimension
    // broadcast. Above the cap the join path remains (a corpus that
    // big shards its build anyway).
    val refineSnapshot: Option[(Array[Long], Array[Long], Array[Double], Int)] =
      if (refine <= 0) None
      else {
        val total = withNorm.count()
        val dimEst = total * (8L + 8L * dims) + total * 8L
        if (dimEst > ServeCsrMaxBytes) None
        else {
          val rows = withNorm.select(col("vec_id"), col("f"), col("n2"))
            .orderBy("vec_id").as[(Long, Seq[Long], Long)].collect()
          val ids = rows.map(_._1)
          val d = if (rows.isEmpty) dims else rows(0)._2.length
          val flat = new Array[Long](rows.length * d)
          val nrm = new Array[Double](rows.length)
          var i = 0
          while (i < rows.length) {
            val f = rows(i)._2
            var j = 0
            while (j < d) { flat(i * d + j) = f(j); j += 1 }
            nrm(i) = rows(i)._3.toDouble
            i += 1
          }
          Some((ids, flat, nrm, d))
        }
      }
    val fa = withNorm.select(col("vec_id").as("src"), col("f").as("fa"), col("n2").as("na2"))
    val fb = withNorm.select(col("vec_id").as("dst"), col("f").as("fb"), col("n2").as("nb2"))
    val bcSnap = refineSnapshot.map(spark.sparkContext.broadcast(_))
    var round = 0
    while (round < refine) {
      val cand = edges.select(col("src"), col("dst").as("mid"))
        .join(edges.select(col("src").as("mid"), col("dst")), Seq("mid"))
        .select("src", "dst")
        .filter(col("src") =!= col("dst"))
        .distinct()
      val twoHop = bcSnap match {
        case Some(bc) =>
          cand.as[(Long, Long)].mapPartitions { it =>
            val (ids, flat, nrm, d) = bc.value
            it.flatMap { case (a, b) =>
              val pa = java.util.Arrays.binarySearch(ids, a)
              val pb = java.util.Arrays.binarySearch(ids, b)
              if (pa < 0 || pb < 0) Iterator.empty
              else {
                var acc = 0L; var j = 0
                while (j < d) { acc += flat(pa * d + j) * flat(pb * d + j); j += 1 }
                Iterator((a, b, acc.toDouble / (math.sqrt(nrm(pa)) * math.sqrt(nrm(pb)))))
              }
            }
          }.toDF("src", "dst", "cos")
        case None =>
          cand.join(fa, Seq("src")).join(fb, Seq("dst"))
            .select(col("src"), col("dst"), cosEdge.as("cos"))
      }
      edges = prune(edges.unionByName(twoHop)).localCheckpoint(eager = true)
      round += 1
    }
    bcSnap.foreach(_.unpersist())

    // Symmetrize AFTER pruning — reverse edges are what let the
    // search walk out of a poor entry region; total degree ≤ 2·degree.
    val directed = edges.select("src", "dst")
    directed.unionByName(directed.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** COARSE ENTRY LAYER (the HNSW upper-layer analog): one
    * representative per sign-projection coarse bucket — spread across
    * the space BY CONSTRUCTION (every occupied region contributes
    * exactly one entry id), unlike the fixed low-id seeds it replaces.
    * The representative is the bucket's min-id vector — an unbiased
    * pick; a max-norm pick reads as "best IP candidate" but drags the
    * search into hub regions (high-norm vectors score high against
    * EVERY query), measurably hurting recall on near-random corpora.
    * Persisted alongside the graph like the trained
    * quantizers — built once per corpus, loaded at serve time. ~2^p
    * rows; search scores them all in one job, then descends the base
    * graph from the best of them — log-depth-style entry that lets
    * `maxExpand` shrink at equal-or-better recall. */
  def buildEntryLayer(fx: DataFrame, nPlanes: Int = 5, dims: Int = 64,
                      table: Int = 7919): DataFrame = {
    // default: an independent matrix. For strongly CLUSTERED corpora
    // pass `table = 0` with `nPlanes = planesForBuild(n)` — the entry
    // buckets then coincide with build table 0's, so every occupied
    // build bucket (and with it every graph component) contributes an
    // entry: a disconnected island can otherwise be unreachable no
    // matter the search budget (a 4-entry coarse layer over an
    // 8-island corpus strands half the classes — measured on the
    // planted fixture).
    val m = planes(table, nPlanes, dims)
    val bucket = concat((0 until nPlanes).map { j =>
      val planeLit = array(m(j).map(v => lit(v.toLong)): _*)
      when(ip(col("f"), planeLit) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("vec_id").asc)
    fx.withColumn("bucket", bucket)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("vec_id")
  }

  /** COMPONENT-GUARANTEED entry layer: one representative (min id)
    * per connected component of the BUILT graph, computed with the
    * [[ConnectedComponents]] operator, unioned with the coarse
    * sign-bucket layer. The coarse layer spreads entries across the
    * space, but a batch-built graph over a strongly clustered corpus
    * can be DISCONNECTED (tight L2 islands never share an LSH build
    * bucket's top-degree edges) and sign buckets collide on cluster
    * centers — an island with no entry is unreachable at ANY search
    * budget (measured on the planted fixture: 4 coarse entries over 8
    * islands strand half the classes). HNSW buys this guarantee from
    * sequential inserts; a batch build must add it explicitly. One CC
    * run per graph build; #components extra entries. */
  def buildEntryLayerConnected(fx: DataFrame, graph: DataFrame,
                               nPlanes: Int = 5, dims: Int = 64): DataFrame = {
    val spark = fx.sparkSession
    val perComponent = ConnectedComponents.run(spark, graph.select("src", "dst"))
      .groupBy("component").agg(min("id").as("vec_id"))
      .select("vec_id")
    // zero-edge vectors never appear in the edge list, so CC gives
    // them no representative — each is its own (singleton) component
    // and must carry its own entry or it is unreachable at any budget
    val inGraph = graph.select(col("src").as("vec_id"))
      .unionByName(graph.select(col("dst").as("vec_id")))
    val singletons = fx.select("vec_id").join(inGraph, Seq("vec_id"), "left_anti")
    buildEntryLayer(fx, nPlanes, dims)
      .unionByName(perComponent).unionByName(singletons).distinct()
  }

  /** greedy best-first search (HNSW's ef-search discipline): score
    * the entry points, then repeatedly expand the best `batch`
    * NOT-YET-EXPANDED candidates among the top-`ef` scored — tracking
    * the expanded set is what keeps the search descending instead of
    * re-converging on the same beam — until `maxExpand` nodes have
    * been expanded or every top-`ef` candidate already was. Returns
    * the exact top-`k` of everything visited, as (vec_id, score).
    * Candidate budget ≤ entry points + maxExpand · 2·degree scored
    * vectors. Entry points come from `entryIds` (a persisted
    * [[buildEntryLayer]] coarse layer) when given, else the first
    * `seeds` ids. */
  def search(graph: DataFrame, fx: DataFrame, queryFx: Array[Long],
             k: Int = 10, ef: Int = 24, maxExpand: Int = 30, seeds: Int = 16,
             batch: Int = 4, entryIds: Option[Seq[Long]] = None): DataFrame =
    searchWithBudget(graph, fx, queryFx, k, ef, maxExpand, seeds, batch, entryIds)._1

  /** [[search]] plus the number of vectors actually scored — the
    * candidate budget spent, the currency recall is traded in. */
  def searchWithBudget(graph: DataFrame, fx: DataFrame, queryFx: Array[Long],
             k: Int = 10, ef: Int = 24, maxExpand: Int = 30, seeds: Int = 16,
             batch: Int = 4, entryIds: Option[Seq[Long]] = None): (DataFrame, Int) = {
    val spark = fx.sparkSession
    import spark.implicits._
    val qLit = array(queryFx.map(lit): _*)

    def scoreIds(ids: Seq[Long]): Seq[(Long, Long)] =
      if (ids.isEmpty) Nil
      else fx.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), ip(col("f"), qLit).as("score"))
        .as[(Long, Long)].collect().toSeq

    // Adjacency: under the explicit cap the edge list rides on the
    // driver (one collect; a few MB) and each expansion costs zero
    // Spark jobs for the neighbor lookup — the same capped hybrid
    // fast path as ConnectedComponents/BpeTrainer, and identical
    // results by construction (the distinct/dedup happens in the
    // scored map either way). Above the cap, expansions read the
    // (src-bucketed) edge table per batch.
    val nEdges = graph.count()
    val adj: Option[Map[Long, Array[Long]]] =
      if (nEdges <= DriverEdgeCap)
        Some(graph.select("src", "dst").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) })
      else None
    def neighborsOf(ids: Seq[Long]): Seq[Long] = adj match {
      case Some(m) => ids.flatMap(id => m.getOrElse(id, Array.empty[Long])).distinct
      case None => graph.filter(col("src").isin(ids: _*))
        .select("dst").distinct().as[Long].collect().toSeq
    }

    // entry points: the persisted coarse layer when provided (spread
    // across the space — see buildEntryLayer), else fixed low ids
    val entry = entryIds.getOrElse(
      fx.select("vec_id").orderBy("vec_id").limit(seeds)
        .as[Long].collect().toSeq)
    val scored = scala.collection.mutable.Map[Long, Long](scoreIds(entry): _*)
    val expanded = scala.collection.mutable.Set[Long]()

    var done = false
    while (!done && expanded.size < maxExpand) {
      val toExpand = scored.toSeq.sortBy { case (id, s) => (-s, id) }.take(ef)
        .map(_._1).filterNot(expanded.contains)
        .take(math.min(batch, maxExpand - expanded.size))
      if (toExpand.isEmpty) done = true
      else {
        expanded ++= toExpand
        scored ++= scoreIds(neighborsOf(toExpand).filterNot(scored.contains))
      }
    }
    (scored.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
      .toDF("vec_id", "score"), scored.size)
  }

  /** edge count below which the whole adjacency list is collected to
    * the driver for the search loop (≈ 30 MB at the cap). */
  val DriverEdgeCap = 2000000L

  /** queries per stored-search shard: bounds the driver's resident
    * per-hop state (scored maps + fetched vectors) to
    * cap × (entries + maxExpand·2·degree) ids — a few MB — no matter
    * how large the offline query batch is. */
  val ServeBatchCap = 256

  // ------------------------------------------------------------------
  // committed-store serving: the scale path. [[searchWithBudget]]'s
  // per-hop `isin` over a live DataFrame is fine under DriverEdgeCap,
  // but at 100× the graph neither fits the driver nor should every
  // hop rescan the table. The store path writes vectors and adjacency
  // hash-bucketed BY ID as partitioned parquet once per corpus; every
  // hop is then a PARTITION-PRUNED point read of only the probed
  // buckets' directories, and one read serves the WHOLE query batch.

  /** a committed on-disk graph index under a generation pointer
    * ([[graft.core.Fs.publishGeneration]]): `dir/CURRENT` names the live
    * generation `dir/g<N>/`, which holds `fx` (vec_id, f) and `edges`
    * (src, dst), both partitioned by `bucket`, plus the entry layer
    * `entry` (vec_id). Every writer — [[writeStores]], [[appendStore]],
    * [[refreshEntryLayer]] — fills the next generation and then swaps
    * the pointer, so a reader sees the old store or the new one, never
    * a mix, and a crash at any step leaves the old one live with no
    * recovery step. A publish deletes the generation it replaced:
    * single writer per store, its readers drained first. */
  final case class StoredIndex(dir: String, nBuckets: Int)

  /** id → bucket, driver-replicable (plain floorMod — no engine hash
    * involved, so the probe can enumerate its target buckets without
    * running a job). Sequential vec ids round-robin evenly; at rest
    * this is the routing key, exactly the `vt_lookup` discipline. */
  def bucketOf(id: Long, nBuckets: Int): Int = math.floorMod(id, nBuckets.toLong).toInt

  /** commit the serving stores — the vectors, the built graph and its
    * entry layer (a frame with a `vec_id` column) — as a new generation
    * of the store at `dir`. */
  def writeStores(fx: DataFrame, graph: DataFrame, entry: DataFrame, dir: String,
                  nBuckets: Int = 64): Unit =
    Fs.publishGeneration(Paths.get(dir)) { g =>
      fx.withColumn("bucket", pmod(col("vec_id"), lit(nBuckets.toLong)).cast("int"))
        .write.partitionBy("bucket").parquet(s"$g/fx")
      graph.withColumn("bucket", pmod(col("src"), lit(nBuckets.toLong)).cast("int"))
        .write.partitionBy("bucket").parquet(s"$g/edges")
      entry.select("vec_id").write.parquet(s"$g/entry")
      ""
    }: Unit

  /** the live generation of the store at `dir`. */
  private[operators] def liveGeneration(dir: String): Fs.Generation =
    Fs.currentGeneration(Paths.get(dir))
      .getOrElse(throw new IllegalStateException(s"no graph store at $dir"))

  private def liveDir(dir: String): java.nio.file.Path = liveGeneration(dir).dir(Paths.get(dir))

  /** path of one table (`fx`, `edges` or `entry`) of the store's live
    * generation; resolve it per read — a later publish replaces the
    * generation. */
  def tablePath(dir: String, table: String): String = liveDir(dir).resolve(table).toString

  /** the committed entry layer's ids, ascending. */
  def storedEntry(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] =
    spark.read.parquet(tablePath(dir, "entry")).collect().map(_.getLong(0)).toSeq.sorted

  /** point read of `ids` from a bucketed store table (pass the table
    * read ONCE per search so its file index is listed once, not per
    * hop): the `bucket` filter is on the PARTITION column, so only the
    * probed buckets' files are read (partition pruning — verified by a
    * scan-metric assertion in GraphAnnSpec). */
  private def prunedRead(table: DataFrame, idCol: String, ids: Seq[Long],
                         nBuckets: Int): DataFrame = {
    val bs = ids.map(bucketOf(_, nBuckets)).distinct
    table.filter(col("bucket").isin(bs: _*) && col(idCol).isin(ids: _*))
  }

  /** BATCHED multi-query best-first search over a [[StoredIndex]] —
    * the serving shape that survives scale: per hop, ONE pruned read
    * of the frontier's adjacency buckets and ONE of the new candidate
    * vectors' buckets, SHARED by every query in the batch (2 jobs per
    * hop total, not per query); the driver holds only frontier-sized
    * state per query (scored ids + the expanded set — bounded by the
    * candidate budget, never the graph). Scoring the fetched vectors
    * happens driver-side because the fetched set is tiny
    * (≤ batch·2·degree rows per query per hop); everything data-sized
    * stays in Spark as pruned point reads.
    *
    * Per-query results are identical to [[searchWithBudget]] on the
    * same parameters: same entry set, same ef/batch/maxExpand
    * discipline, same (-score, id) tie order (GraphAnnSpec pins the
    * equality). Returns (qid, vec_id, score) — top-`k` per query —
    * and the per-query scored-candidate budget. */
  /** largest delta [[appendStore]] accepts in one call — the driver
    * holds the delta's vectors and its pairwise scores (≤ cap² long
    * ops); larger ingests loop in chunks, exactly the BpeTrainer /
    * ConnectedComponents capped-hybrid discipline. */
  val GraphDeltaCap = 5000L

  /** Incremental maintenance of a committed graph store — insert a
    * bounded DELTA of new vectors without rebuilding (the HNSW insert
    * discipline, batched):
    *
    *  1. LINK: every delta vector greedy-searches the EXISTING store
    *     for its nearest residents (one batched [[searchStoredWithBudget]]
    *     pass over the committed index — partition-pruned point reads,
    *     never a scan) and keeps the top-`degree` by ANGULAR proximity
    *     (the same cosine edge rule [[buildGraph]] uses — IP-ranked
    *     edges would hub-collapse, see [[cosEdge]]);
    *  2. delta↔delta: exact pairwise cosine inside the (bounded)
    *     delta, so same-batch near points connect to each other;
    *  3. PUBLISH: new forward (delta→nbr) and reverse (nbr→delta)
    *     edges merge into the store by DIRTY-BUCKET REWRITE — only
    *     the buckets holding a touched src are re-pruned (per touched
    *     src: top-2·degree by cosine over current ∪ new, the
    *     symmetrized bound; untouched srcs in the same bucket pass
    *     through byte-identical) and written into the next generation,
    *     the VersionedTable dirty-bucket discipline. The delta's
    *     vectors are written beside them into `fx`'s id buckets; every
    *     other file is hard-linked over, and the pointer swap publishes
    *     the append atomically.
    *
    * Cost: one budgeted stored search + a rewrite of ≤ touched
    * buckets + one link per other file; resident data outside the
    * touched buckets is never read or rewritten.
    * GraphAnnSpec + ss15 pin probe(append) ≡ probe(rebuild) on the
    * planted corpus.
    *
    * Returns the number of ISOLATED delta vectors — vectors whose
    * entire kept top-`degree` neighborhood is delta-internal (no
    * resident survived the cosine rerank). A non-zero count is the
    * island signal: such a group may have published as a NEW
    * connected component the committed entry layer cannot reach —
    * [[appendStoreChunked]] consumes it as its entry-refresh drift
    * gate. */
  def appendStore(spark: org.apache.spark.sql.SparkSession, store: StoredIndex,
                  deltaFx: DataFrame, degree: Int = 16, ef: Int = 48,
                  maxExpand: Int = 80, batch: Int = 8,
                  entryIds: Seq[Long], metric: String = "ip"): Int = {
    import spark.implicits._
    val delta = deltaFx.select("vec_id", "f").as[(Long, Seq[Long])].collect()
      .map { case (id, f) => id -> f.toArray }
    require(delta.length <= GraphDeltaCap,
      s"appendStore delta ${delta.length} exceeds GraphDeltaCap=$GraphDeltaCap — chunk the ingest")
    val live = liveDir(store.dir)
    val fxTable = spark.read.parquet(s"$live/fx")
    val edgeTable = spark.read.parquet(s"$live/edges")

    // 1. LINK against the resident graph: over-fetch 2·degree
    //    candidates by IP, then rerank by cosine with the fetched
    //    vectors (the search's IP order is not the edge metric)
    val (linked, _) = searchStoredWithBudget(spark, store, delta.toSeq,
      k = 2 * degree, ef, maxExpand, batch, entryIds, metric = metric)
    val candIds = linked.select("vec_id").distinct().as[Long].collect().toSeq
    val candVecs = prunedRead(fxTable, "vec_id", candIds, store.nBuckets)
      .select(col("vec_id"), col("f"))
      .as[(Long, Seq[Long])].collect().map { case (id, f) => id -> f.toArray }.toMap
    val candsPerQ = linked.select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSeq }

    def cos(a: Array[Long], b: Array[Long]): Double = {
      var ipv = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        ipv += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      ipv / (math.sqrt(na) * math.sqrt(nb))
    }
    // per delta vector: top-`degree` of (resident candidates ∪ other
    // delta vectors) by cosine — one combined ranking, like buildGraph
    // ranks across all tables' candidates at once
    val deltaIds = delta.map(_._1).toSet
    var isolated = 0
    val newEdges = delta.flatMap { case (id, f) =>
      // a re-run (or chunked ingest) links against a store that may
      // already hold this id — never let it rank itself as a neighbor
      val residents = candsPerQ.getOrElse(id, Nil).filter(_ != id)
        .flatMap(c => candVecs.get(c).map(c -> _))
      val others = delta.iterator.filter(_._1 != id)
      val ranked = (residents.iterator ++ others)
        .map { case (oid, of) => (oid, cos(f, of)) }
        .toSeq.sortBy { case (oid, c) => (-c, oid) }.take(degree)
      // kept-neighborhood entirely delta-internal = this vector (and
      // its mates) may be publishing as a fresh island: the entry
      // layer can't know about it. Counted on re-runs too (the mates
      // are then resident but still in deltaIds) so a retried ingest
      // reaches the same refresh decision.
      if (ranked.nonEmpty && ranked.forall { case (oid, _) => deltaIds.contains(oid) })
        isolated += 1
      ranked.flatMap { case (oid, _) => Seq((id, oid), (oid, id)) } // symmetrized
    }.distinct.toSeq

    // 3. PUBLISH — dirty-bucket rewrite of every bucket holding a
    //    touched src (delta srcs and residents that gained a reverse
    //    edge). The repair itself runs IN SPARK: the driver ships only
    //    the bounded new-edge set; bucket contents never ride through
    //    the driver, so the rewrite cost is O(touched buckets), not
    //    O(collected edges).
    val newEdgesDf = newEdges.toSeq.toDF("src", "dst")
    val touchedBuckets = newEdges.map(e => bucketOf(e._1, store.nBuckets)).distinct.toSeq
    val touchedDf = newEdges.map(_._1).distinct.toSeq.toDF("src")
      .withColumn("touched", lit(true))
    val bucketRows = edgeTable.filter(col("bucket").isin(touchedBuckets: _*))
      .select("src", "dst")
      .join(broadcast(touchedDf), Seq("src"), "left")
    val passThrough = bucketRows.filter(col("touched").isNull).select("src", "dst")
    // re-prune each touched src to the symmetrized 2·degree bound by
    // cosine over (current ∪ new); vectors come from the fx store plus
    // the (broadcast-sized) delta. dropDuplicates: on a RETRIED run the
    // store already holds the delta's rows, and a duplicated vec_id
    // here would double every delta-touching join row — row_number's
    // 2·degree cap would then count copies and silently shrink the
    // kept neighbor set
    val allFx = fxTable.select("vec_id", "f").unionByName(deltaFx.select("vec_id", "f"))
      .dropDuplicates("vec_id")
    val srcFx = allFx.select(col("vec_id").as("src"), col("f").as("fa"))
    val dstFx = allFx.select(col("vec_id").as("dst"), col("f").as("fb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
    val repaired = bucketRows.filter(col("touched")).select("src", "dst")
      .unionByName(newEdgesDf).distinct()
      .join(srcFx, Seq("src")).join(dstFx, Seq("dst"))
      .withColumn("na2", ip(col("fa"), col("fa")))
      .withColumn("nb2", ip(col("fb"), col("fb")))
      .withColumn("cos", cosEdge)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2 * degree)
      .select("src", "dst")
    val rewritten = repaired.unionByName(passThrough)
      .withColumn("bucket", pmod(col("src"), lit(store.nBuckets.toLong)).cast("int"))
    // idempotent re-run guard: re-appending a delta (a retried chunked
    // ingest) must not add duplicate fx rows — drop delta ids the store
    // already holds. The check is a pruned point read over the
    // (bounded) delta id set; the edges side is already idempotent
    // (distinct + rewrite of the same touched buckets).
    val alreadyPresent = prunedRead(fxTable, "vec_id", delta.map(_._1).toSeq, store.nBuckets)
      .select("vec_id").as[Long].collect().toSet
    val freshFx =
      if (alreadyPresent.isEmpty) deltaFx
      else deltaFx.filter(!col("vec_id").isin(alreadyPresent.toSeq: _*))
    val touched = touchedBuckets.map(b => s"bucket=$b").toSet
    Fs.publishGeneration(Paths.get(store.dir)) { g =>
      rewritten.write.partitionBy("bucket").parquet(s"$g/edges")
      freshFx.select("vec_id", "f")
        .withColumn("bucket", pmod(col("vec_id"), lit(store.nBuckets.toLong)).cast("int"))
        .write.partitionBy("bucket").parquet(s"$g/fx")
      // carry every other bucket file over; the written tables keep
      // their own top-level markers
      Fs.linkTree(live.resolve("edges"), g.resolve("edges"))(rel =>
        rel.getNameCount > 1 && !touched.contains(rel.getName(0).toString))
      Fs.linkTree(live.resolve("fx"), g.resolve("fx"))(_.getNameCount > 1)
      Fs.linkTree(live.resolve("entry"), g.resolve("entry"))(_ => true)
      ""
    }
    isolated
  }

  /** ENTRY-LAYER MAINTENANCE for a committed store: recompute the
    * component-guaranteed entry layer ([[buildEntryLayerConnected]])
    * from the CURRENT committed fx/edges tables and publish it as a new
    * generation (fx and edges hard-linked over). [[appendStore]] repairs neighborhoods but
    * never touches the entry layer — a long append stream that births
    * a NEW component (a delta batch whose vectors are all nearer each
    * other than any resident survives link-pruning as an island) would
    * leave that island unreachable at ANY search budget under the
    * build-time entries. Run this after appends that may introduce new
    * regions (or every N appends — the refreshQuantizer drift-gate
    * pattern); cost is one ConnectedComponents pass over the edge
    * table (capped-hybrid: driver union-find under the 5M-edge cap,
    * star contraction above) — entry refresh, never a graph rebuild.
    * GraphAnnSpec pins the scenario: a planted post-append island is
    * unreachable under the stale entries and exactly-searchable after
    * the refresh. */
  def refreshEntryLayer(spark: org.apache.spark.sql.SparkSession, store: StoredIndex): Unit = {
    val live = liveDir(store.dir)
    val fx = spark.read.parquet(s"$live/fx").select("vec_id", "f")
    val edges = spark.read.parquet(s"$live/edges").select("src", "dst")
    // dims comes from the COMMITTED vectors, never a caller guess: a
    // mismatched width null-pads the sign projection's zip_with, every
    // coarse bucket degenerates to one, and the refreshed layer
    // silently loses its spread (one tiny first() against the fx
    // footprint — maintenance path only)
    val dims = fx.select(size(col("f"))).first().getInt(0)
    Fs.publishGeneration(Paths.get(store.dir)) { g =>
      Seq("fx", "edges").foreach(t => Fs.linkTree(live.resolve(t), g.resolve(t))(_ => true))
      buildEntryLayerConnected(fx, edges, dims = dims).write.parquet(s"$g/entry")
      ""
    }: Unit
  }

  /** chunked-ingest pieces after which the entry layer is refreshed
    * even when no piece reported an isolated vector. */
  private val EntryRefreshEvery = 8

  /** Ingest an arbitrarily large delta by deterministic RANGE
    * BISECTION into ≤ `pieceCap` pieces: count the id range, recurse
    * on halves until each piece fits, append left-to-right — later
    * pieces LINK against a store that already holds earlier ones,
    * exactly the batched HNSW-insert semantics [[appendStore]]
    * implements for one piece. No delta data beyond the per-piece
    * bound ever rides the driver; the piece sequence is a pure
    * function of the id range (re-runs replay it identically, and
    * each piece's append is idempotent). Returns pieces appended.
    *
    * ENTRY-LAYER DRIFT GATE (the refreshQuantizer pattern applied to
    * graph entries): after the ingest, [[refreshEntryLayer]] runs
    * automatically when EITHER (a) any piece reported isolated delta
    * vectors — the island signal: a group that linked only to itself
    * may be a new connected component the committed entries cannot
    * reach at any budget — or (b) the ingest landed ≥
    * `EntryRefreshEvery` pieces, catching the gradual reachability
    * drift the isolation proxy can miss. A production append stream
    * therefore never strands an island by forgetting the maintenance
    * call (GraphAnnSpec pins the planted-island scenario with no
    * manual refresh). */
  def appendStoreChunked(spark: org.apache.spark.sql.SparkSession, store: StoredIndex,
                         deltaFx: DataFrame, degree: Int = 16, ef: Int = 48,
                         maxExpand: Int = 80, batch: Int = 8,
                         entryIds: Seq[Long], metric: String = "ip",
                         pieceCap: Long = GraphDeltaCap): Int = {
    // persist: the bisection runs O(tree) counts plus one appendStore
    // per piece — without the cache an expensive upstream plan would
    // re-execute at every node
    val cached = deltaFx.persist()
    try {
      var isolated = 0L
      def ingest(lo: Long, hi: Long): Int = {
        val slice = cached.filter(col("vec_id").between(lo, hi))
        val n = slice.count()
        if (n == 0L) 0
        else if (n <= pieceCap) {
          isolated += appendStore(spark, store, slice, degree, ef, maxExpand,
            batch, entryIds, metric)
          1
        } else {
          // a single id carrying more rows than the cap cannot be
          // bisected — fail with the actual problem (duplicate ids)
          // instead of recursing on ingest(lo, lo) forever
          require(lo < hi,
            s"vec_id $lo carries $n rows (> pieceCap=$pieceCap) — the delta has duplicate ids")
          val mid = lo + (hi - lo) / 2
          ingest(lo, mid) + ingest(mid + 1, hi)
        }
      }
      val b = cached.agg(min("vec_id"), max("vec_id")).collect()(0)
      val pieces = if (b.isNullAt(0)) 0 else ingest(b.getLong(0), b.getLong(1))
      if (isolated > 0 || pieces >= EntryRefreshEvery) refreshEntryLayer(spark, store)
      pieces
    } finally { cached.unpersist(); () }
  }

  def searchStoredWithBudget(spark: org.apache.spark.sql.SparkSession, store: StoredIndex,
                             queries: Seq[(Long, Array[Long])], k: Int = 10, ef: Int = 24,
                             maxExpand: Int = 30, batch: Int = 4,
                             entryIds: Seq[Long],
                             shardSize: Int = ServeBatchCap,
                             metric: String = "ip"): (DataFrame, Map[Long, Int]) = {
    import spark.implicits._
    // metric picks the QUERY-time score only (the graph's edges are
    // always angular, see cosEdge): "ip" for MIPS serving, "l2" for
    // metric corpora (fixed-point integer coordinates — the planted /
    // grid fixtures' geometry, same as IvfIndex.probeL2). Internally
    // l2 scores as -d² so the (-score, id) best-first order and tie
    // rule are shared; the emitted score column is the signed value.
    require(metric == "ip" || metric == "l2", s"unknown metric $metric")
    // driver state is O(batch × candidate budget): a 100k-query
    // offline batch would otherwise pull budget×batch vectors through
    // the driver per hop. Shard above the cap — per-query results are
    // trivially shard-independent (no cross-query state), so the
    // concatenation is identical to one giant batch, and each shard's
    // resident footprint stays bounded (GraphAnnSpec pins equality at
    // the boundary).
    if (queries.size > shardSize) {
      val parts = queries.grouped(shardSize).map(g =>
        searchStoredWithBudget(spark, store, g, k, ef, maxExpand, batch, entryIds, shardSize, metric))
        .toSeq
      val rows = parts.flatMap(_._1.as[(Long, Long, Long)].collect())
        .sortBy { case (qid, id, s) => (qid, -s, id) }
      return (rows.toDF("qid", "vec_id", "score"), parts.flatMap(_._2).toMap)
    }
    final case class QState(q: Array[Long],
                            scored: scala.collection.mutable.Map[Long, Long],
                            expanded: scala.collection.mutable.Set[Long],
                            var done: Boolean)
    val wantL2 = metric == "l2"
    def ipOf(q: Array[Long], v: Array[Long]): Long =
      if (wantL2) {
        var acc = 0L; var i = 0
        while (i < q.length) { val d = q(i) - v(i); acc -= d * d; i += 1 }
        acc
      } else {
        var acc = 0L; var i = 0
        while (i < q.length) { acc += q(i) * v(i); i += 1 }
        acc
      }
    // list each store table once; every hop filters the same relation.
    // PERSIST both for the duration of this call: a hop's frontier isin
    // re-scans the table, and paying a parquet read per hop (2 jobs ×
    // maxExpand/batch hops) was most of the driver path's wall — the
    // cache turns every hop after the first into an in-memory scan.
    // Memory stays bounded: caching is lazy per partition, so a trickle
    // query materializes only its probed buckets, and a store too big
    // to cache is already past the serve-shard discipline.
    val live = liveDir(store.dir)
    val fxTable = spark.read.parquet(s"$live/fx").persist()
    val edgeTable = spark.read.parquet(s"$live/edges").persist()
    try {
    def fetchVecs(ids: Seq[Long]): Map[Long, Array[Long]] =
      if (ids.isEmpty) Map.empty
      else prunedRead(fxTable, "vec_id", ids, store.nBuckets)
        .select(col("vec_id"), col("f"))
        .as[(Long, Seq[Long])].collect().map { case (id, f) => id -> f.toArray }.toMap

    // hop 0: every query scores the SAME entry layer — one read
    val entryVecs = fetchVecs(entryIds.distinct)
    val states = queries.map { case (qid, qf) =>
      qid -> QState(qf,
        scala.collection.mutable.Map(entryVecs.toSeq.map { case (id, v) => id -> ipOf(qf, v) }: _*),
        scala.collection.mutable.Set.empty[Long], done = false)
    }.toMap

    var active = true
    while (active) {
      // frontier per query under the shared discipline
      val toExpand = states.collect { case (qid, st) if !st.done =>
        val picks = st.scored.toSeq.sortBy { case (id, s) => (-s, id) }.take(ef)
          .map(_._1).filterNot(st.expanded.contains)
          .take(math.min(batch, maxExpand - st.expanded.size))
        if (picks.isEmpty) st.done = true
        qid -> picks
      }.filter(_._2.nonEmpty)
      if (toExpand.isEmpty) active = false
      else {
        // ONE pruned adjacency read for the whole batch's frontier
        val unionSrc = toExpand.values.flatten.toSeq.distinct
        val adj = prunedRead(edgeTable, "src", unionSrc, store.nBuckets)
          .select(col("src"), col("dst"))
          .as[(Long, Long)].collect()
          .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
        val wanted = toExpand.map { case (qid, picks) =>
          val st = states(qid)
          st.expanded ++= picks
          qid -> picks.flatMap(id => adj.getOrElse(id, Array.empty[Long]))
            .distinct.filterNot(st.scored.contains)
        }
        // ONE pruned vector read for the union of new candidates
        val vecs = fetchVecs(wanted.values.flatten.toSeq.distinct)
        wanted.foreach { case (qid, ids) =>
          val st = states(qid)
          ids.foreach(id => vecs.get(id).foreach(v => st.scored(id) = ipOf(st.q, v)))
          if (st.expanded.size >= maxExpand) st.done = true
        }
      }
    }

    val rows = states.toSeq.flatMap { case (qid, st) =>
      st.scored.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
        .map { case (id, s) => (qid, id, s) }
    }.sortBy { case (qid, id, s) => (qid, -s, id) }
    (rows.toDF("qid", "vec_id", "score"), states.map { case (qid, st) => qid -> st.scored.size })
    } finally {
      fxTable.unpersist()
      edgeTable.unpersist(): Unit
    }
  }

  // ------------------------------------------------------------------
  // EXECUTOR-SIDE batched serving: the offline-scale path.
  // [[searchStoredWithBudget]] drives every hop through driver
  // collects — bounded per shard, but a 100k-query batch still pays
  // shards × hops × 2 Spark jobs with all candidate vectors staged
  // through driver memory. Per-query traversals share NO state, so the
  // right 100-TB shape is: snapshot the committed store ONCE into a
  // compact primitive-array CSR, broadcast it, and run every query's
  // greedy descent inside mapPartitions — zero jobs per hop, queries
  // never leave the executors, driver memory O(index), per-query wall
  // flat in the batch size. Beyond [[ServeCsrMaxBytes]] the corpus
  // must be sharded into per-shard stores (each serving stage
  // broadcasts its own shard; a top-k merge combines), exactly how
  // production vector serving replicates index shards across nodes.

  /** Immutable primitive-array snapshot of a committed store:
    * vectors as (sorted ids, flattened coordinates) and adjacency as
    * src-sorted CSR — broadcastable with zero per-row object
    * overhead, point lookups by binary search. */
  final class CsrIndex(val ids: Array[Long], val flat: Array[Long], val dims: Int,
                       val srcs: Array[Long], val offs: Array[Int], val dsts: Array[Long])
      extends Serializable {
    def vecPos(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    def scoreAt(pos: Int, q: Array[Long], l2: Boolean): Long = {
      val base = pos * dims
      var acc = 0L; var i = 0
      if (l2) while (i < dims) { val d = q(i) - flat(base + i); acc -= d * d; i += 1 }
      else while (i < dims) { acc += q(i) * flat(base + i); i += 1 }
      acc
    }
    def neighborIds(id: Long): Array[Long] = {
      val p = java.util.Arrays.binarySearch(srcs, id)
      if (p < 0) Array.emptyLongArray
      else java.util.Arrays.copyOfRange(dsts, offs(p), offs(p + 1))
    }
  }

  /** hard ceiling on the broadcast index snapshot (~1.4 GiB): a 1M ×
    * dims-16 corpus at degree 16 lands ≈ 650 MB. Fail loud above —
    * the fix at scale is store sharding, not a bigger broadcast. */
  val ServeCsrMaxBytes = 1500000000L

  /** in-JVM memo of loaded snapshots per store dir, tagged with the
    * number of the generation they were loaded from (the
    * QuantizerCache load-don't-rebuild discipline): a serving process
    * snapshots each committed store once, then every batch reuses the
    * broadcastable CSR. Every store writer publishes a new generation,
    * so the next lookup after one reloads instead of serving the old
    * snapshot. */
  private val csrMemo = new ConcurrentHashMap[String, (Long, CsrIndex)]()

  /** Broadcast[CsrIndex] memo, same keying (ADVICE r10): without it
    * every [[searchStoredDistributed]] call re-serialized the
    * ~hundreds-of-MB snapshot into a FRESH broadcast and never released
    * it, so a long-lived serving session accumulated copies in driver
    * and executor memory. A superseded generation's broadcast is
    * unpersisted when it is replaced. */
  private val csrBcMemo = new ConcurrentHashMap[String, (Long, Broadcast[CsrIndex])]()

  /** `store`'s memo entry at its current generation; a stale entry is
    * released and replaced. */
  private def memoized[V](memo: ConcurrentHashMap[String, (Long, V)], store: StoredIndex,
                          release: V => Unit)(load: => V): V = {
    val gen = liveGeneration(store.dir).n
    memo.compute(store.dir, (_, held) =>
      if (held != null && held._1 == gen) held
      else { if (held != null) release(held._2); (gen, load) })._2
  }

  /** generations of `dir` the memos hold — for specs. */
  private[operators] def memoizedGenerations(dir: String): Set[Long] =
    Seq(csrMemo.get(dir), csrBcMemo.get(dir)).flatMap(Option(_)).map(_._1).toSet

  /** the broadcast-handle twin of [[loadCsrCached]]. */
  def csrBroadcastCached(spark: org.apache.spark.sql.SparkSession,
                         store: StoredIndex): Broadcast[CsrIndex] =
    memoized(csrBcMemo, store, (b: Broadcast[CsrIndex]) => b.unpersist())(
      spark.sparkContext.broadcast(loadCsrCached(spark, store)))

  /** [[loadCsr]] through the in-JVM memo — the serving entry point. */
  def loadCsrCached(spark: org.apache.spark.sql.SparkSession, store: StoredIndex,
                    maxBytes: Long = ServeCsrMaxBytes): CsrIndex =
    memoized(csrMemo, store, (_: CsrIndex) => ())(loadCsr(spark, store, maxBytes))

  /** one-time snapshot of a committed store into a [[CsrIndex]].
    * Sized from footer counts BEFORE anything is fetched; the collect
    * is O(index) driver memory exactly once per serving session (the
    * snapshot is then broadcast and reused across query batches). */
  def loadCsr(spark: org.apache.spark.sql.SparkSession, store: StoredIndex,
              maxBytes: Long = ServeCsrMaxBytes): CsrIndex = {
    import spark.implicits._
    val live = liveDir(store.dir)
    val fxTable = spark.read.parquet(s"$live/fx").select("vec_id", "f")
    val edgeTable = spark.read.parquet(s"$live/edges").select("src", "dst")
    val n = fxTable.count()
    val e = edgeTable.count()
    val dims = if (n == 0) 0
      else fxTable.select(size(col("f"))).as[Int].head()
    val est = n * (8L + 8L * dims) + e * 16L
    require(est <= maxBytes,
      s"store snapshot ≈ $est bytes exceeds the $maxBytes broadcast cap " +
        "(shard the corpus into per-shard stores and merge top-k)")
    val vecRows = fxTable.orderBy("vec_id").as[(Long, Seq[Long])].collect()
    val ids = new Array[Long](vecRows.length)
    val flat = new Array[Long](vecRows.length * dims)
    var i = 0
    while (i < vecRows.length) {
      ids(i) = vecRows(i)._1
      val f = vecRows(i)._2
      var j = 0
      while (j < dims) { flat(i * dims + j) = f(j); j += 1 }
      i += 1
    }
    val edgeRows = edgeTable.orderBy("src", "dst").as[(Long, Long)].collect()
    val srcsB = scala.collection.mutable.ArrayBuilder.make[Long]
    val offsB = scala.collection.mutable.ArrayBuilder.make[Int]
    val dsts = new Array[Long](edgeRows.length)
    var prev = Long.MinValue
    i = 0
    while (i < edgeRows.length) {
      val (s, d) = edgeRows(i)
      if (s != prev) { srcsB += s; offsB += i; prev = s }
      dsts(i) = d
      i += 1
    }
    offsB += edgeRows.length
    new CsrIndex(ids, flat, dims, srcsB.result(), offsB.result(), dsts)
  }

  /** the per-query greedy descent — IDENTICAL pick rules to
    * [[searchStoredWithBudget]] (top-ef by (-score, id), skip
    * expanded, batch-capped to the remaining expand budget, per-hop
    * distinct new candidates), so the distributed path is bit-equal
    * to the driver path by construction (GraphAnnSpec pins it).
    *
    * Implementation is allocation-lean: scored lives in growable
    * primitive (id, score) arrays with membership answered by a
    * bitset over CSR positions, and each hop's top-ef window comes
    * from one bounded insertion pass instead of a full boxed sort —
    * the first cut sorted boxed tuples per hop and spent more wall in
    * the sort than in the scoring arithmetic at 100k queries. */
  private def greedyKernel(qf: Array[Long], wantL2: Boolean, entry: Array[Long],
                           ix: CsrIndex, k: Int, ef: Int, maxExpand: Int,
                           batch: Int): Seq[(Long, Long)] = {
    // scored set: parallel growable arrays + a per-query position
    // bitset for O(1) "already scored" checks (ids outside the CSR
    // can only be entry ids — those dedupe via the caller's distinct)
    var cap = math.max(64, entry.length * 2)
    var ids = new Array[Long](cap)
    var scores = new Array[Long](cap)
    var n = 0
    val seen = new java.util.BitSet(ix.ids.length)
    val expandedPos = new java.util.BitSet(ix.ids.length)
    def add(pos: Int): Unit = {
      if (seen.get(pos)) return
      seen.set(pos)
      if (n == cap) {
        cap *= 2
        ids = java.util.Arrays.copyOf(ids, cap)
        scores = java.util.Arrays.copyOf(scores, cap)
      }
      ids(n) = ix.ids(pos)
      scores(n) = ix.scoreAt(pos, qf, wantL2)
      n += 1
    }
    entry.foreach { id => val p = ix.vecPos(id); if (p >= 0) add(p) }

    // bounded top-ef window by (-score, id): one insertion pass over
    // the scored arrays — identical ordering to the sorted take(ef)
    val wIds = new Array[Long](ef)
    val wScores = new Array[Long](ef)
    var expanded = 0
    var done = false
    while (!done) {
      var wn = 0
      var i = 0
      while (i < n) {
        val s = scores(i); val id = ids(i)
        // insert (s, id) into the window if it beats the current tail
        if (wn < ef || s > wScores(wn - 1) || (s == wScores(wn - 1) && id < wIds(wn - 1))) {
          var j = if (wn < ef) wn else ef - 1
          while (j > 0 && (wScores(j - 1) < s || (wScores(j - 1) == s && wIds(j - 1) > id))) {
            wIds(j) = wIds(j - 1); wScores(j) = wScores(j - 1); j -= 1
          }
          wIds(j) = id; wScores(j) = s
          if (wn < ef) wn += 1
        }
        i += 1
      }
      // picks: best non-expanded among the window, up to the budget
      val budget = math.min(batch, maxExpand - expanded)
      var picked = 0
      var w = 0
      while (w < wn && picked < budget) {
        val pos = ix.vecPos(wIds(w))
        if (pos >= 0 && !expandedPos.get(pos)) {
          expandedPos.set(pos)
          expanded += 1
          picked += 1
          val nb = ix.neighborIds(wIds(w))
          var q = 0
          while (q < nb.length) {
            val npos = ix.vecPos(nb(q))
            if (npos >= 0) add(npos)
            q += 1
          }
        }
        w += 1
      }
      if (picked == 0 || expanded >= maxExpand) done = true
    }
    // final top-k by (-score, id)
    val order = (0 until n).sortBy(i => (-scores(i), ids(i)))
    order.take(k).map(i => (ids(i), scores(i)))
  }

  /** Serve an ARBITRARILY LARGE query batch from a committed store,
    * executor-side: `queries` is a DataFrame (qid long, q array<long>)
    * that never rides the driver; the store snapshot (built once, or
    * passed in pre-built for reuse across batches) is broadcast; each
    * task runs the greedy kernel per query and emits its top-k.
    * Returns (qid, vec_id, score) — per-query rows identical to
    * [[searchStoredWithBudget]] on the same store and knobs. */
  def searchStoredDistributed(spark: org.apache.spark.sql.SparkSession, store: StoredIndex,
                              queries: DataFrame, k: Int = 10, ef: Int = 24,
                              maxExpand: Int = 30, batch: Int = 4,
                              entryIds: Seq[Long], metric: String = "ip",
                              csr: Option[CsrIndex] = None): DataFrame = {
    require(metric == "ip" || metric == "l2", s"unknown metric $metric")
    import spark.implicits._
    // reuse the memoized broadcast for committed stores; only an
    // explicitly passed snapshot pays a fresh (caller-owned) broadcast
    val bc = csr.map(spark.sparkContext.broadcast).getOrElse(csrBroadcastCached(spark, store))
    val bcEntry = spark.sparkContext.broadcast(entryIds.distinct.toArray)
    val wantL2 = metric == "l2"
    queries.select(col("qid").cast("long"), col("q")).as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val snapshot = bc.value
        val entry = bcEntry.value
        it.flatMap { case (qid, qf) =>
          greedyKernel(qf.toArray, wantL2, entry, snapshot, k, ef, maxExpand, batch)
            .map { case (id, s) => (qid, id, s) }
        }
      }
      .toDF("qid", "vec_id", "score")
  }
}
