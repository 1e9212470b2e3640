package perfbench

import java.math.BigInteger
import java.util.SplittableRandom

import scala.collection.mutable

import graft.core.{Bytes, Commitments, Keccak, MptTrie, Rlp, StorageKey}

/** Seeded chain generator. Everything the program receives (storage
  * entries, EIP-1186 proofs, headers) and every golden the benchmark
  * checks answers against is derived here from the seed alone, with the
  * pure `graft.core` kernels and no Spark.
  *
  * The chain holds three kinds of contract:
  *  - one NFT-style mapping (id -> owner); ownership moves a little per
  *    block and no user ever holds more than [[MaxOwned]] ids, so every
  *    Query2 answer fits the revelation's L = 5 result slots;
  *  - one ERC20-style mapping (holder -> u256 balance); balances move
  *    per block and a zero balance is absent from the trie;
  *  - generic mappings (random key -> random value) that only add
  *    commitment and trie work.
  */
object Gen {

  val MaxOwned = 5
  val Rate: BigInteger = new BigInteger("300000000000000000")
  val TotalSupply: BigInteger = new BigInteger("10000000000000000000000000")

  sealed trait Kind
  case object Nft extends Kind
  case object Erc20 extends Kind
  case object Generic extends Kind

  final case class Contract(idx: Int, addr: Array[Byte], slot: Int, lengthSlot: Int, kind: Kind)

  /** one mapping entry; `key` and `value` are 32 bytes. */
  final case class Entry(block: Long, c: Contract, key: Array[Byte], value: Array[Byte])

  final case class Header(block: Long, rlp: Array[Byte], hash: Array[Byte], parent: Array[Byte])

  /** commitments of one block, computed with the pure kernels. */
  final case class BlockGolden(block: Long, stateRoot: Array[Byte], leaf: Array[Byte])

  final case class Shape(nContracts: Int, nftIds: Int, erc20Holders: Int, genericKeys: Int)

  def userAddr(seed: Long, u: Int): Array[Byte] =
    Keccak.keccak256(s"user:$seed:$u".getBytes("UTF-8")).take(20)

  def nftKey(id: Int): Array[Byte] = Bytes.leftPad32(Bytes.beBytes(id.toLong, 4))

  /** Deterministic chain: block `firstBlock + i` is produced by the i-th
    * call to [[next]]. State evolves block by block from the seed. */
  final class Chain(val seed: Long, val shape: Shape, val firstBlock: Long = 1000L) {
    private val rnd = new SplittableRandom(seed)

    val contracts: IndexedSeq[Contract] = (0 until shape.nContracts).map { i =>
      val addr = Keccak.keccak256(s"contract:$seed:$i".getBytes("UTF-8")).take(20)
      val kind = if (i == 0) Nft else if (i == 1) Erc20 else Generic
      Contract(i, addr, 2 * (i % 120) + 3, 2 * (i % 120) + 4, kind)
    }
    val nft: Contract = contracts(0)
    val erc20: Contract = contracts(1)

    val nUsers: Int = math.max(shape.nftIds / 2, 2)
    val users: IndexedSeq[Array[Byte]] = (0 until nUsers).map(userAddr(seed, _))
    /** holders are the first erc20Holders users; later users never hold. */
    val holders: Int = math.min(shape.erc20Holders, nUsers)

    // -------------------------------------------------------------- state
    private val owner = new Array[Int](shape.nftIds + 1) // ids 1..nftIds
    private val ownedCount = new Array[Int](nUsers)
    locally {
      var id = 1
      while (id <= shape.nftIds) {
        var u = rnd.nextInt(nUsers)
        while (ownedCount(u) >= MaxOwned) u = rnd.nextInt(nUsers)
        owner(id) = u; ownedCount(u) += 1; id += 1
      }
    }
    private val balance = Array.fill(holders)(randomBalance())
    private val genericKeys: IndexedSeq[IndexedSeq[Array[Byte]]] = contracts.map { c =>
      if (c.kind != Generic) IndexedSeq.empty
      else IndexedSeq.fill(shape.genericKeys)(randomBytes(32))
    }
    private val genericVals: IndexedSeq[Array[Array[Byte]]] = contracts.map { c =>
      if (c.kind != Generic) Array.empty[Array[Byte]]
      else Array.fill(shape.genericKeys)(randomValue())
    }

    private def randomBytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); var i = 0
      while (i < n) { b(i) = rnd.nextInt(256).toByte; i += 1 }
      b
    }
    /** non-zero value of random width (a zero slot is absent from a trie). */
    private def randomValue(): Array[Byte] = {
      val v = randomBytes(1 + rnd.nextInt(32))
      v(0) = (v(0) | 1).toByte
      Bytes.leftPad32(v)
    }
    private def randomBalance(): BigInteger =
      if (rnd.nextInt(10) == 0) BigInteger.ZERO
      else new BigInteger(80, new java.util.Random(rnd.nextLong())).add(BigInteger.ONE)

    /** history, one entry per produced block */
    val ownerAt = mutable.ArrayBuffer.empty[Array[Int]]
    val balanceAt = mutable.ArrayBuffer.empty[Array[BigInteger]]
    val headers = mutable.ArrayBuffer.empty[Header]
    val goldens = mutable.ArrayBuffer.empty[BlockGolden]
    private var parent = new Array[Byte](32)

    def nBlocks: Int = headers.size
    def lastBlock: Long = firstBlock + nBlocks - 1
    def header(b: Long): Header = headers((b - firstBlock).toInt)

    /** produce the next block: its entries (sorted by contract, key). */
    def next(): IndexedSeq[Entry] = {
      val b = firstBlock + nBlocks
      if (nBlocks > 0) mutate()
      ownerAt += owner.clone()
      balanceAt += balance.clone()
      val es = contracts.flatMap { c =>
        c.kind match {
          case Nft =>
            (1 to shape.nftIds).map(id => Entry(b, c, nftKey(id), Bytes.leftPad32(users(owner(id)))))
          case Erc20 =>
            (0 until holders).filter(h => balance(h).signum > 0).map(h =>
              Entry(b, c, Bytes.leftPad32(users(h)), graft.core.U256.toBytes32(balance(h))))
          case Generic =>
            genericKeys(c.idx).indices.map(k => Entry(b, c, genericKeys(c.idx)(k), genericVals(c.idx)(k)))
        }
      }
      val stateRoot = stateRootOf(es)
      val rlp = headerRlp(b, parent, Keccak.keccak256(Bytes.concat(stateRoot, Bytes.beBytes(seed, 8))))
      val hash = Keccak.keccak256(rlp)
      headers += Header(b, rlp, hash, parent)
      goldens += BlockGolden(b, stateRoot, Commitments.blockLeafHash(b, hash, stateRoot))
      parent = hash
      es
    }

    private def mutate(): Unit = {
      // a few NFT transfers, never past MaxOwned per user
      val transfers = math.max(1, shape.nftIds / 20)
      var t = 0
      while (t < transfers) {
        val id = 1 + rnd.nextInt(shape.nftIds)
        val to = rnd.nextInt(nUsers)
        if (ownedCount(to) < MaxOwned && to != owner(id)) {
          ownedCount(owner(id)) -= 1; ownedCount(to) += 1; owner(id) = to
        }
        t += 1
      }
      var h = 0
      while (h < holders) {
        if (rnd.nextInt(3) == 0) balance(h) = randomBalance()
        h += 1
      }
      contracts.foreach { c =>
        if (c.kind == Generic) {
          val vs = genericVals(c.idx); var k = 0
          while (k < vs.length) { if (rnd.nextInt(5) == 0) vs(k) = randomValue(); k += 1 }
        }
      }
    }

    // ------------------------------------------------------ query goldens
    def blockDbRoot(upTo: Long): Array[Byte] =
      Commitments.merkleRoot(goldens.take((upTo - firstBlock + 1).toInt).map(_.leaf).toIndexedSeq)

    /** ids owned by user `u` at every block of [lo, hi], ascending. */
    def query2Ids(u: Int, lo: Long, hi: Long): IndexedSeq[Int] =
      (1 to shape.nftIds).filter { id =>
        (lo to hi).forall(b => ownerAt((b - firstBlock).toInt)(id) == u)
      }

    private def balanceOf(u: Int, b: Long): BigInteger =
      if (u < holders) balanceAt((b - firstBlock).toInt)(u) else BigInteger.ZERO

    private def reward(u: Int, b: Long): BigInteger = Rate.multiply(balanceOf(u, b)).divide(TotalSupply)

    def erc20Sum(u: Int, lo: Long, hi: Long): BigInteger =
      (lo to hi).foldLeft(BigInteger.ZERO)((acc, b) => acc.add(reward(u, b)))
  }

  // ------------------------------------------------------------ commitments
  private val unsigned: Ordering[Array[Byte]] = (x, y) => java.util.Arrays.compareUnsigned(x, y)

  def storageRoot(es: Seq[Entry]): Array[Byte] =
    Commitments.merkleRoot(es.sortBy(_.key)(unsigned)
      .map(e => Commitments.mappingLeafHash(e.key, e.value)).toIndexedSeq)

  /** state root of one block's entries: one leaf per contract, ordered by
    * contract address. */
  def stateRootOf(es: Seq[Entry]): Array[Byte] = {
    val leaves = es.groupBy(_.c).toSeq.sortBy(_._1.addr)(unsigned).map { case (c, ces) =>
      Commitments.stateLeafHash(c.addr, c.slot, c.lengthSlot, storageRoot(ces))
    }
    Commitments.merkleRoot(leaves.toIndexedSeq)
  }

  def headerRlp(b: Long, parent: Array[Byte], ethStateRoot: Array[Byte]): Array[Byte] =
    Rlp.encode(Rlp.Lst(Vector[Rlp.Item](
      Rlp.Str(parent), Rlp.Str(new Array[Byte](32)), Rlp.Str(new Array[Byte](20)),
      Rlp.Str(ethStateRoot), Rlp.Str(new Array[Byte](32)), Rlp.Str(new Array[Byte](32)),
      Rlp.Str(new Array[Byte](8)), Rlp.Str(Array.empty[Byte]),
      Rlp.Str(Bytes.beBytes(b, 8).dropWhile(_ == 0)))))

  // ------------------------------------------------------------ MPT proofs
  /** Proofs of every key of one storage trie. Node encodings are
    * memoized per trie, so each node is encoded and hashed once instead
    * of once per proof that passes through it. */
  final class TrieProofs(entries: Seq[(Array[Byte], Array[Byte])]) {
    val root: MptTrie.Node = MptTrie.build(entries)
    private val items = new java.util.IdentityHashMap[MptTrie.Node, Rlp.Item]()
    private val encs = new java.util.IdentityHashMap[MptTrie.Node, Array[Byte]]()

    private def item(n: MptTrie.Node): Rlp.Item = {
      val cached = items.get(n)
      if (cached != null) cached
      else {
        val it = n match {
          case MptTrie.Leaf(path, payload) =>
            Rlp.Lst(Vector(Rlp.Str(Rlp.hexPrefixEncode(path, isLeaf = true)), Rlp.Str(payload)))
          case MptTrie.Ext(path, child) =>
            Rlp.Lst(Vector(Rlp.Str(Rlp.hexPrefixEncode(path, isLeaf = false)), childRef(child)))
          case MptTrie.Branch(children) =>
            Rlp.Lst(children.map(_.map(childRef).getOrElse(Rlp.Str(Array.empty[Byte]))) :+
              Rlp.Str(Array.empty[Byte]))
        }
        items.put(n, it)
        it
      }
    }
    private def enc(n: MptTrie.Node): Array[Byte] = {
      val cached = encs.get(n)
      if (cached != null) cached
      else { val e = Rlp.encode(item(n)); encs.put(n, e); e }
    }
    private def childRef(n: MptTrie.Node): Rlp.Item = {
      val e = enc(n)
      if (e.length >= 32) Rlp.Str(Keccak.keccak256(e)) else item(n)
    }

    val rootHash: Array[Byte] = Keccak.keccak256(enc(root))

    def proof(mptKey: Array[Byte]): IndexedSeq[Array[Byte]] = {
      val nibbles = graft.core.Mpt.keyNibbles(mptKey)
      val out = IndexedSeq.newBuilder[Array[Byte]]
      var n = root
      var pos = 0
      var done = false
      while (!done) {
        out += enc(n)
        n match {
          case MptTrie.Leaf(_, _) => done = true
          case MptTrie.Ext(path, child) => pos += path.length; n = child
          case MptTrie.Branch(children) => n = children(nibbles(pos)).get; pos += 1
        }
      }
      out.result()
    }
  }

  /** storage-trie content of one (block, contract) group: the mapping
    * entries plus the simple slot holding the mapping's length. */
  def lengthValue(n: Int): Array[Byte] = Bytes.leftPad32(Bytes.beBytes(n.toLong, 8))

  def trieFor(c: Contract, es: Seq[Entry]): (TrieProofs, IndexedSeq[Array[Byte]]) = {
    val locations = es.map(e => StorageKey.mappingLocation(e.key, c.slot)).toIndexedSeq
    val kv = locations.zip(es).map { case (loc, e) => (Keccak.keccak256(loc), e.value) } :+
      ((StorageKey.simpleSlotMptKey(c.lengthSlot), lengthValue(es.size)))
    (new TrieProofs(kv), locations)
  }
}

/** fast lowercase hex */
object Hex {
  private val digits = "0123456789abcdef".toCharArray

  def of(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = digits((b(i) >> 4) & 0xf); out(2 * i + 1) = digits(b(i) & 0xf); i += 1
    }
    new String(out)
  }

  def x(b: Array[Byte]): String = "0x" + of(b)

  /** quantity-style hex, as an RPC node returns it: no leading zeros. */
  def quantity(b: Array[Byte]): String = {
    val h = of(b).dropWhile(_ == '0')
    "0x" + (if (h.isEmpty) "0" else h)
  }
}
