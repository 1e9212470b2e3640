package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Bytes, Commitments, MerkleFrontier, U256}
import graft.pipeline.ZkPipeline
import graft.streaming.{BlockDbAppender, StorageDbMaintainer}

/** `append`: writes beside reads, one client in a closed loop. Set-up
  * commits a base history; each operation then appends the next batch
  * of blocks (entries appended to the store, storage-DB version through
  * `StorageDbMaintainer.processBatch`, `stateDb` over the new blocks
  * read back from that version, joined with their headers, block-DB
  * rows and frontier through `BlockDbAppender.processBatch`), and one
  * read-after-write query runs over the grown store. */
object Append {

  val BaseBlocks = 8
  val BlocksPerBatch = 2
  /** the operations keep getting faster for the first few appends */
  val WarmBatches = 3
  val Shape: Gen.Shape = Gen.Shape(nContracts = 8, nftIds = 60, erc20Holders = 40, genericKeys = 30)

  private val StateSchema = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("state_root", BinaryType, nullable = false)))

  /** the chain, produced lazily: batch k holds its blocks' entries */
  final class History(seed: Long) {
    val chain = new Gen.Chain(seed, Shape)
    private val batches = mutable.ArrayBuffer.empty[IndexedSeq[IndexedSeq[Gen.Entry]]]
    /** batch 0 is the base history */
    def batch(k: Int): IndexedSeq[IndexedSeq[Gen.Entry]] = {
      while (batches.size <= k)
        batches += (0 until (if (batches.isEmpty) BaseBlocks else BlocksPerBatch)).map(_ => chain.next())
      batches(k)
    }
    private var frontier = MerkleFrontier.empty
    private val roots = mutable.ArrayBuffer.empty[Array[Byte]]
    /** block-DB root after block b */
    def rootAfter(b: Long): Array[Byte] = {
      val i = (b - chain.firstBlock).toInt
      while (roots.size <= i) {
        frontier = frontier.push(chain.goldens(roots.size).leaf)
        roots += frontier.root
      }
      roots(i)
    }
  }

  final class Store(run: Run, val dir: Path) {
    val entries: String = dir.resolve("entries").toString
    val maintainer = new StorageDbMaintainer(run.spark, dir.resolve("storage_db").toString)
    val appender = new BlockDbAppender(run.spark, dir.resolve("block_db").toString,
      dir.resolve("quarantine").toString)
    var entryCount = 0L
    var lastBlock = -1L
  }

  /** one append: hand-off to durable entries, storage-DB version,
    * block-DB rows and frontier. Returns the state roots it committed. */
  def append(run: Run, h: History, s: Store, k: Int): Array[Row] = {
    val blocks = h.batch(k)
    val es = blocks.flatten
    val (lo, hi) = (blocks.head.head.block, blocks.last.head.block)
    val delta = run.df(es.map(Harness.entryRow), Harness.EntrySchema)
    val headers = run.df((lo to hi).map(b => Harness.headerRow(h.chain.header(b))), Harness.HeaderSchema)
    Trace.span("sources.entries_append") { r =>
      r.in(es.size)
      delta.write.mode(SaveMode.Append).parquet(s.entries)
    }
    Trace.span("streaming.storage_commit") { r =>
      r.in(es.size)
      s.maintainer.processBatch(delta, k.toLong)
    }
    val state = Trace.span("pipeline.state_db") { r =>
      val current = s.maintainer.current().get.filter(col("block_number").between(lo, hi))
      val rows = ZkPipeline.stateDb(current).select("block_number", "state_root").collect()
      r.out(rows.length)
      rows
    }
    Trace.span("streaming.block_append") { r =>
      r.in(state.length)
      val joined = run.df(state.toSeq, StateSchema).join(headers, Seq("block_number"))
        .select("block_number", "block_hash", "state_root")
      s.appender.processBatch(joined, k.toLong)
    }
    s.entryCount += es.size
    s.lastBlock = hi
    state
  }

  def checkState(run: Run, h: History, k: Int, state: Array[Row]): Unit = {
    val blocks = h.batch(k).map(_.head.block)
    val got = state.map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    run.check(s"append batch $k: state roots", blocks.forall { b =>
      got.get(b).exists(java.util.Arrays.equals(_, h.chain.goldens((b - h.chain.firstBlock).toInt).stateRoot))
    } && got.size == blocks.size)
  }

  /** read-after-write: Query2 or ERC20 over the grown store */
  def read(run: Run, h: History, s: Store, rnd: SplittableRandom, tracedOp: Boolean): Double = {
    val c = h.chain
    val hi = s.lastBlock
    val lo = math.max(c.firstBlock, hi - rnd.nextInt(16))
    val entries = run.spark.read.parquet(s.entries)
    if (rnd.nextBoolean()) {
      val id = 1 + rnd.nextInt(c.shape.nftIds)
      val u = c.ownerAt((hi - c.firstBlock).toInt)(id)
      val ((ids, checks), ms) = run.op("bench.read_after_write", tracedOp, latency = false) {
        Trace.span("pipeline.query2") { _ =>
          val (i, ch) = ZkPipeline.query2(entries, c.nft.addr, c.nft.slot, c.users(u), lo, hi, 5)
          (i.collect(), ch.collect())
        }
      }
      val want = c.query2Ids(u, lo, hi)
      val digest = want.map(id => Commitments.keyOnlyDigest(Gen.nftKey(id)))
        .foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine)
      run.check(s"read-after-write query2 $u [$lo,$hi]",
        ids.map(_.getLong(0)).toSeq == want.take(5).map(_.toLong) &&
          checks.head.getLong(0) == want.size &&
          java.util.Arrays.equals(checks.head.getAs[Array[Byte]](1), digest))
      ms
    } else {
      val u = rnd.nextInt(c.nUsers)
      val (rows, ms) = run.op("bench.read_after_write", tracedOp, latency = false) {
        Trace.span("pipeline.erc20") { _ =>
          ZkPipeline.queryErc20(entries, c.erc20.addr, c.erc20.slot, c.users(u), Gen.Rate, Gen.TotalSupply,
            lo, hi).collect()
        }
      }
      val r = rows.head
      run.check(s"read-after-write erc20 $u [$lo,$hi]",
        r.getAs[Long]("n_blocks") == hi - lo + 1 && r.getAs[Long]("range_max") == hi &&
          r.getAs[Boolean]("gap_free") &&
          java.util.Arrays.equals(r.getAs[Array[Byte]]("result"), U256.toBytes32(c.erc20Sum(u, lo, hi))))
      ms
    }
  }

  /** every block-DB row the appender committed, against the golden
    * leaves and prefix roots; nothing may be quarantined. */
  def checkBlockDb(run: Run, h: History, s: Store, nBatches: Int): Unit = {
    val rows = run.spark.read.parquet(s.dir.resolve("block_db").toString)
      .select("block_number", "leaf_hash_hex", "root_after_hex").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    (0 until nBatches).foreach { k =>
      val blocks = h.batch(k).map(_.head.block)
      run.check(s"block_db batch $k", blocks.forall { b =>
        rows.get(b).contains((Bytes.toHex(h.chain.goldens((b - h.chain.firstBlock).toInt).leaf),
          Bytes.toHex(h.rootAfter(b))))
      })
    }
    run.check("block_db: no extra rows", rows.size == s.lastBlock - h.chain.firstBlock + 1)
    run.check("block_db: nothing quarantined", !Files.exists(s.dir.resolve("quarantine")))
  }

  def apply(run: Run): Unit = {
    val h = new History(run.seed)
    val rnd = new SplittableRandom(run.seed * 17 + 3)
    h.batch(WarmBatches + 1) // batches are generated ahead, outside every timing

    // set-up: commit the base history three times (median), then warm
    // up with appends and reads on the last store
    var store: Store = null
    run.setUp(3) { i =>
      store = new Store(run, run.work.resolve(s"store-$i"))
      checkState(run, h, 0, append(run, h, store, 0))
    }
    (0 until 2).foreach(i => Harness.deleteTree(run.work.resolve(s"store-$i")))
    run.warmUp((1 to WarmBatches).foreach { k =>
      checkState(run, h, k, append(run, h, store, k))
      read(run, h, store, rnd, tracedOp = false)
    })
    // taken at a fixed history length: at the end of the run it would
    // follow how many appends the host had time for
    run.spaceAmp = Harness.dirBytes(store.dir).toDouble / (store.entryCount * Harness.EntryBytes)

    val deadline = run.deadlineFromNow()
    var k = WarmBatches
    val written = mutable.ArrayBuffer.empty[Double]
    val userBytes = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < deadline) {
      k += 1
      h.batch(k + 1) // generated ahead, outside the timing
      val tracedOp = run.nextOpTraced()
      val before = Harness.dirBytes(store.dir)
      val (state, ms) = run.op("bench.append_batch", tracedOp)(append(run, h, store, k))
      written += (Harness.dirBytes(store.dir) - before).toDouble
      val n = h.batch(k).map(_.size).sum
      userBytes += n.toDouble * Harness.EntryBytes
      if (!tracedOp) run.rates += n / (ms / 1000.0)
      checkState(run, h, k, state)
      val readMs = read(run, h, store, rnd, tracedOp)
      if (!tracedOp) reads += readMs
    }
    checkBlockDb(run, h, store, k + 1)
    run.layer("sources.bytes_written_per_batch") = Harness.median(written.toSeq)
    run.layer("streaming.write_amp") = written.sum / userBytes.sum
    run.layer("pipeline.read_after_write_ms") = Harness.median(reads.toSeq)
  }
}
