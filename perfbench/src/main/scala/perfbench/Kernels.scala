package perfbench

import java.math.BigInteger
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.core.{Bytes, Commitments, EcGFp5, Keccak, Mpt, U256}

/** Kernel block: µs per call of the `graft.core` kernels on the paper's
  * path, measured on one thread and on `threads` threads at once
  * (suffix `.par`: the per-call time each thread sees while all are
  * busy), plus `host.alu_us`, a pure-ALU canary that no code change can
  * move, so host drift can be told apart from a change in the code. */
object Kernels {

  @volatile private var sink = 0L

  private final case class Kernel(name: String, op: Int => Int)

  private def kernels(seed: Long): Seq[Kernel] = {
    val rnd = new java.util.SplittableRandom(seed)
    def bytes(n: Int): Array[Byte] = Array.fill(n)(rnd.nextInt(256).toByte)
    val keys = Array.fill(64)(bytes(32))
    val vals = Array.fill(64)(Bytes.leftPad32(bytes(24)))
    val leaves = keys.indices.map(i => Commitments.mappingLeafHash(keys(i), vals(i))).toArray
    val points = keys.indices.map(i => Commitments.mappingLeafDigest(keys(i), vals(i))).toArray
    val c = new Gen.Chain(seed, Gen.Shape(2, 8, 8, 0))
    val es = c.next()
    val (trie, locs) = Gen.trieFor(c.nft, es.filter(_.c == c.nft))
    val mptKeys = locs.map(Keccak.keccak256)
    val proofs = mptKeys.map(trie.proof)
    val rate = U256.toBytes32(Gen.Rate)
    val supply = U256.toBytes32(Gen.TotalSupply)
    val balances = Array.fill(64)(U256.toBytes32(new BigInteger(80, new java.util.Random(rnd.nextLong()))))
    Seq(
      Kernel("host.alu_us", i => {
        var x = i.toLong + 0x9e3779b97f4a7c15L; var k = 0
        while (k < 2000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        x.toInt
      }),
      Kernel("core.keccak256_us", i => Keccak.keccak256(keys(i & 63))(0)),
      Kernel("core.mpt_verify_us", i => {
        val j = i % proofs.size
        Mpt.verifyProof(proofs(j), mptKeys(j), trie.rootHash).map(_.length).getOrElse(-1)
      }),
      Kernel("core.mapping_leaf_commit_us", i => Commitments.mappingLeafCommit(keys(i & 63), vals(i & 63))(0)),
      Kernel("core.inner_node_hash_us", i => Commitments.innerNodeHash(leaves(i & 63), leaves((i + 1) & 63))(0)),
      Kernel("core.digest_add_us", i => EcGFp5.addSerialized(points(i & 63), points((i + 7) & 63))(0)),
      Kernel("core.state_leaf_hash_us", i =>
        Commitments.stateLeafHash(keys(i & 63).take(20), 3, 4, leaves(i & 63))(0)),
      Kernel("core.u256_muldiv_us", i => U256.mulDivBytes(rate, balances(i & 63), supply)(31)))
  }

  /** runs `op` for about `ms` milliseconds; returns ns per call. */
  private def timeOne(op: Int => Int, ms: Long): Double = {
    val deadline = System.nanoTime() + ms * 1000000L
    var calls = 0L; var acc = 0L
    val t0 = System.nanoTime()
    var now = t0
    while (now < deadline) {
      var k = 0
      while (k < 64) { acc += op(calls.toInt + k); k += 1 }
      calls += 64
      now = System.nanoTime()
    }
    sink += acc
    (now - t0).toDouble / calls
  }

  /** every kernel solo and at `threads` threads; µs per call. */
  def measure(seed: Long, threads: Int, msPerKernel: Long = 30): Seq[(String, Double)] = {
    val ks = kernels(seed)
    ks.foreach(k => timeOne(k.op, msPerKernel * 2)) // JIT warm-up
    val pool = Executors.newFixedThreadPool(threads)
    try ks.flatMap { k =>
      val solo = timeOne(k.op, msPerKernel)
      val perThread = new Array[Double](threads)
      val done = new CountDownLatch(threads)
      (0 until threads).foreach { t =>
        pool.execute(() => try perThread(t) = timeOne(k.op, msPerKernel) finally done.countDown())
      }
      done.await()
      Seq(k.name -> solo / 1000.0, s"${k.name}.par" -> perThread.sum / threads / 1000.0)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }
}
