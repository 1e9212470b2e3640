package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.core.{Bytes, Commitments, Keccak, U256}
import graft.pipeline.ZkPipeline

/** `serve`: one client in a closed loop against a store committed at
  * set-up (entries + headers as Parquet). Seeded mix of single attested
  * Query2 and ERC20 requests (revelation, then attestation) and batched
  * requests through `query2Batch` / `erc20Batch`. */
object Serve {

  val Blocks = 32
  val Shape: Gen.Shape = Gen.Shape(nContracts = 4, nftIds = 64, erc20Holders = 48, genericKeys = 24)
  val Limit = 5
  val BatchSize = 64

  private val Q2Schema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("owner_pad", BinaryType, nullable = false),
    StructField("min_b", LongType, nullable = false),
    StructField("max_b", LongType, nullable = false)))

  private val Erc20Schema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("user_pad", BinaryType, nullable = false),
    StructField("min_b", LongType, nullable = false),
    StructField("max_b", LongType, nullable = false)))

  final case class Req(user: Int, lo: Long, hi: Long)

  final class Store(val chain: Gen.Chain, val entries: DataFrame, val headers: DataFrame) {
    val root: Array[Byte] = chain.blockDbRoot(chain.lastBlock)
    private val keyDigest = mutable.Map.empty[Int, Array[Byte]]
    def digest(ids: Seq[Int]): Array[Byte] =
      ids.map(id => keyDigest.getOrElseUpdate(id, Commitments.keyOnlyDigest(Gen.nftKey(id))))
        .foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine)
  }

  private def query2Req(c: Gen.Chain, rnd: SplittableRandom): Req = {
    val id = 1 + rnd.nextInt(c.shape.nftIds)
    val b = c.firstBlock + rnd.nextInt(c.nBlocks)
    val w = rnd.nextInt(12)
    val lo = math.max(c.firstBlock, b - w)
    Req(c.ownerAt((b - c.firstBlock).toInt)(id), lo, math.min(c.lastBlock, lo + w))
  }

  private def erc20Req(c: Gen.Chain, rnd: SplittableRandom): Req = {
    val w = rnd.nextInt(24)
    val lo = c.firstBlock + rnd.nextInt(c.nBlocks)
    Req(rnd.nextInt(c.nUsers), lo, math.min(c.lastBlock, lo + w))
  }

  private def shuffle[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] =
    xs.map(x => (rnd.nextDouble(), x)).sortBy(_._1).map(_._2)

  private def eq(a: Array[Byte], b: Array[Byte]): Boolean = java.util.Arrays.equals(a, b)

  // ------------------------------------------------------------ requests
  /** single attested Query2 request; checks every revealed field. */
  def query2(run: Run, s: Store, q: Req, tracedOp: Boolean): Double = {
    val c = s.chain
    val owner = c.users(q.user)
    // the bare answer, for the revelation's re-derivation share
    if (tracedOp) run.probe(tracedOp)(Trace.span("pipeline.query2") { _ =>
      val (ids, checks) = ZkPipeline.query2(s.entries, c.nft.addr, c.nft.slot, owner, q.lo, q.hi, Limit)
      ids.collect(); checks.collect()
    })
    val (row, ms) = run.op("bench.attest_query2", tracedOp) {
      val rev = ZkPipeline.query2Revelation(s.entries, s.headers, c.nft.addr, c.nft.slot, owner, q.lo, q.hi, Limit)
      val revealed = Trace.span("pipeline.revelation")(_ => rev.collect())
      Trace.span("pipeline.attest") { _ =>
        ZkPipeline.attestQuery2(run.df(revealed.toSeq, rev.schema), Limit).collect()
      }
    }
    val ids = c.query2Ids(q.user, q.lo, q.hi)
    val digest = s.digest(ids)
    val padded = ids.map(_.toLong) ++ Seq.fill(Limit - ids.size)(0L)
    val proving = c.header(q.hi).hash
    val seal = Keccak.keccak256(ZkPipeline.manifestPreimage(67, q.lo, q.hi, ids.size.toLong, padded,
      digest, proving, s.root))
    val r = row.head
    run.check(s"query2 $q", row.length == 1 && r.getAs[Boolean]("verified") &&
      r.getAs[Long]("min_block") == q.lo && r.getAs[Long]("max_block") == q.hi &&
      r.getAs[Long]("num_entries") == ids.size &&
      r.getAs[scala.collection.Seq[Long]]("nft_ids").toSeq == padded &&
      eq(r.getAs[Array[Byte]]("range_digest"), digest) &&
      eq(r.getAs[Array[Byte]]("proving_block_hash"), proving) &&
      eq(r.getAs[Array[Byte]]("block_db_root"), s.root) &&
      eq(r.getAs[Array[Byte]]("result_hash"), seal))
    ms
  }

  /** single attested ERC20 request; checks every revealed field. */
  def erc20(run: Run, s: Store, q: Req, tracedOp: Boolean): Double = {
    val c = s.chain
    val user = c.users(q.user)
    if (tracedOp) run.probe(tracedOp)(Trace.span("pipeline.erc20") { _ =>
      ZkPipeline.queryErc20(s.entries, c.erc20.addr, c.erc20.slot, user, Gen.Rate, Gen.TotalSupply,
        q.lo, q.hi).collect()
    })
    val (row, ms) = run.op("bench.attest_erc20", tracedOp) {
      val rev = ZkPipeline.queryErc20Revelation(s.entries, s.headers, c.erc20.addr, c.erc20.slot, user,
        Gen.Rate, Gen.TotalSupply, q.lo, q.hi)
      val revealed = Trace.span("pipeline.revelation")(_ => rev.collect())
      Trace.span("pipeline.attest") { _ =>
        ZkPipeline.attestErc20(run.df(revealed.toSeq, rev.schema)).collect()
      }
    }
    val sum = U256.toBytes32(c.erc20Sum(q.user, q.lo, q.hi))
    val n = q.hi - q.lo + 1
    val proving = c.header(q.hi).hash
    val seal = Keccak.keccak256(ZkPipeline.erc20ManifestPreimage(88, q.lo, q.hi, n, sum, proving, s.root))
    val r = row.head
    run.check(s"erc20 $q", row.length == 1 && r.getAs[Boolean]("verified") &&
      r.getAs[Boolean]("result_ok") && r.getAs[Boolean]("coverage_ok") &&
      r.getAs[Long]("min_block") == q.lo && r.getAs[Long]("max_block") == q.hi &&
      r.getAs[Long]("n_blocks") == n && r.getAs[Boolean]("gap_free") &&
      eq(r.getAs[Array[Byte]]("result"), sum) &&
      r.getAs[scala.collection.Seq[Long]]("block_numbers").toSeq == (q.lo to q.hi) &&
      eq(r.getAs[Array[Byte]]("proving_block_hash"), proving) &&
      eq(r.getAs[Array[Byte]]("block_db_root"), s.root) &&
      eq(r.getAs[Array[Byte]]("result_hash"), seal))
    ms
  }

  /** a batch of Query2 requests answered by one `query2Batch` */
  def query2Batch(run: Run, s: Store, qs: Seq[Req], tracedOp: Boolean): Double = {
    val c = s.chain
    val table = run.df(qs.zipWithIndex.map { case (q, i) =>
      Row(i.toLong, Bytes.leftPad32(c.users(q.user)), q.lo, q.hi)
    }, Q2Schema)
    val (rows, ms) = run.op("bench.query2_batch", tracedOp, latency = false) {
      Trace.span("pipeline.query2_batch") { r =>
        r.in(qs.size)
        ZkPipeline.query2Batch(s.entries, table, c.nft.addr, c.nft.slot, Limit).collect()
      }
    }
    val byQid = rows.map(r => r.getAs[Long]("qid") -> r).toMap
    qs.zipWithIndex.foreach { case (q, i) =>
      val ids = c.query2Ids(q.user, q.lo, q.hi)
      val padded = ids.map(_.toLong) ++ Seq.fill(Limit - ids.size)(0L)
      run.check(s"query2Batch $q", byQid.get(i.toLong).exists { r =>
        r.getAs[Long]("num_entries") == ids.size &&
        r.getAs[scala.collection.Seq[Long]]("nft_ids").toSeq == padded &&
        eq(r.getAs[Array[Byte]]("range_digest"), s.digest(ids))
      })
    }
    ms
  }

  /** a batch of ERC20 requests answered by one `erc20Batch` */
  def erc20Batch(run: Run, s: Store, qs: Seq[Req], tracedOp: Boolean): Double = {
    val c = s.chain
    val table = run.df(qs.zipWithIndex.map { case (q, i) =>
      Row(i.toLong, Bytes.leftPad32(c.users(q.user)), q.lo, q.hi)
    }, Erc20Schema)
    val (rows, ms) = run.op("bench.erc20_batch", tracedOp, latency = false) {
      Trace.span("pipeline.erc20_batch") { r =>
        r.in(qs.size)
        ZkPipeline.erc20Batch(s.entries, table, c.erc20.addr, c.erc20.slot, Gen.Rate, Gen.TotalSupply)
          .collect()
      }
    }
    val byQid = rows.map(r => r.getAs[Long]("qid") -> r).toMap
    qs.zipWithIndex.foreach { case (q, i) =>
      run.check(s"erc20Batch $q", byQid.get(i.toLong).exists { r =>
        r.getAs[Long]("n_blocks") == q.hi - q.lo + 1 &&
        r.getAs[Long]("range_min") == q.lo && r.getAs[Long]("range_max") == q.hi &&
        r.getAs[Boolean]("gap_free") &&
        eq(r.getAs[Array[Byte]]("result"), U256.toBytes32(c.erc20Sum(q.user, q.lo, q.hi)))
      })
    }
    ms
  }

  // ------------------------------------------------------------ workload
  /** commit the store: entries and headers written as Parquet. */
  def commit(run: Run, chain: Gen.Chain, entries: Seq[Row], dir: Path): Store = {
    val spark = run.spark
    run.df(entries, Harness.EntrySchema).write.parquet(dir.resolve("entries").toString)
    run.df(chain.headers.toSeq.map(Harness.headerRow), Harness.HeaderSchema)
      .write.parquet(dir.resolve("headers").toString)
    new Store(chain, spark.read.parquet(dir.resolve("entries").toString),
      spark.read.parquet(dir.resolve("headers").toString))
  }

  def apply(run: Run): Unit = {
    val chain = new Gen.Chain(run.seed, Shape)
    val entries = (0 until Blocks).flatMap(_ => chain.next()).map(Harness.entryRow)
    val rnd = new SplittableRandom(run.seed * 31 + 7)
    def batch(gen: (Gen.Chain, SplittableRandom) => Req, n: Int = BatchSize): Seq[Req] =
      Seq.fill(n)(gen(chain, rnd))

    // set-up: commit the store three times (median), then warm up with
    // one cycle of the mix on the last one
    var store: Store = null
    run.setUp(3)(i => store = commit(run, chain, entries, run.work.resolve(s"store-$i")))
    // seconds per batched request, by batch kind (untraced batches)
    val batchS = Array.fill(2)(mutable.ArrayBuffer.empty[Double])
    def issue(kind: Int, tracedOp: Boolean): Unit = kind match {
      case 0 => query2(run, store, query2Req(chain, rnd), tracedOp)
      case 1 => erc20(run, store, erc20Req(chain, rnd), tracedOp)
      case _ =>
        val qs = batch(if (kind == 2) query2Req else erc20Req)
        val ms = if (kind == 2) query2Batch(run, store, qs, tracedOp) else erc20Batch(run, store, qs, tracedOp)
        if (!tracedOp) batchS(kind - 2) += ms / 1000.0 / qs.size
    }
    // one cycle of the mix: both batch kinds, then two single requests of
    // each kind, every part in a seeded order
    def cycle(): Seq[Int] = shuffle(Seq(2, 3), rnd) ++ shuffle(Seq(0, 0, 1, 1), rnd)
    run.warmUp(cycle().foreach(issue(_, tracedOp = false)))
    batchS.foreach(_.clear())
    run.opMs.clear()

    val deadline = run.deadlineFromNow()
    while (System.nanoTime() < deadline)
      cycle().iterator.takeWhile(_ => System.nanoTime() < deadline)
        .foreach(kind => issue(kind, run.nextOpTraced()))
    // batched requests per second for an equal mix of the two kinds, so
    // the figure does not depend on which kind the run happened to end on
    if (batchS.forall(_.nonEmpty)) run.rates += 2 / batchS.map(xs => Harness.median(xs.toSeq)).sum
    val storeBytes = Harness.dirBytes(run.work.resolve("store-2"))
    run.spaceAmp = storeBytes.toDouble / (entries.size * Harness.EntryBytes)
  }
}
