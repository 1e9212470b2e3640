package graft.pipeline

import java.math.BigInteger

import org.apache.spark.sql.SparkSession

import graft.core.{Bytes, Commitments, Keccak, U256}

/** Driver-oracle ground truth for the zk fixture queries.
  *
  * The crypto columns (digests, Merkle roots, keccak hashes) are not
  * SQL-expressible, but the *relational spine* of the reference's two
  * query plans is plain SQL (`query2/revelation/circuit.rs:62-169`,
  * `query_erc20/revelation/circuit.rs:74-97`): filter → per-key
  * block-count → having → sort → limit, and clamp → per-block max →
  * gap-free sum. This object materializes the PURE-SCALA fixture rows
  * (computed from [[Fixtures]]' driver-side seqs — no Spark
  * expressions involved, so nothing the Spark plans compute is fed
  * back to the oracle) to parquet under `target/`, and the zk
  * queries' DuckDB oracle SQL reads them via `read_parquet`.
  *
  * Convenience columns are plain types DuckDB can aggregate:
  * hex strings for byte columns (uppercase, matching Spark's `hex()`),
  * `nft_id` (big-endian u32 in the mapping key's last 4 bytes, the id
  * layout `query2/storage/leaf.rs` fixes) and `balance` (the u256
  * value as a BIGINT when it fits — always true for the ERC20 fixture
  * balances; NULL for the NFT owner-address values).
  */
object FixtureStore {

  val cfg: Fixtures.Cfg = Fixtures.Cfg()

  final case class EntryRel(
      block_number: Long,
      contract: String,
      mapping_slot: Int,
      length_slot: Int,
      mapping_key: String,
      value: String,
      nft_id: Long,
      balance: Option[Long])

  final case class HeaderRel(block_number: Long, block_hash: String, parent_hash: String)

  /** uppercase hex — identical to Spark's `hex()` rendering. */
  private def hx(b: Array[Byte]): String = b.map(x => f"$x%02X").mkString

  lazy val entriesRel: Seq[EntryRel] = Fixtures.entriesSeq(cfg).map { e =>
    val id = new BigInteger(1, e.mapping_key.takeRight(4)).longValueExact()
    val v = new BigInteger(1, e.value)
    EntryRel(e.block_number, hx(e.contract), e.mapping_slot, e.length_slot,
      hx(e.mapping_key), hx(e.value), id,
      if (v.bitLength <= 62) Some(v.longValueExact()) else None)
  }

  lazy val headersRel: Seq[HeaderRel] = Fixtures.headersSeq(cfg).map { h =>
    HeaderRel(h.block_number, hx(h.block_hash), hx(h.parent_hash))
  }

  /** content-fingerprinted location: a fixture change can never serve
    * a stale dump (same discipline as the zk_ingest_rpc dump). The
    * `published` token keys only directories built by [[ensure]]'s
    * build-once publish, never one written in place. */
  lazy val dir: String = {
    val canon = (Seq("published") ++ entriesRel.map(e =>
      s"${e.block_number}|${e.contract}|${e.mapping_slot}|${e.length_slot}|${e.mapping_key}|${e.value}") ++
      headersRel.map(h => s"${h.block_number}|${h.block_hash}|${h.parent_hash}")).mkString("\n")
    val tag = Bytes.toHex(Keccak.keccak256(canon.getBytes("UTF-8")).take(8))
    new java.io.File(s"target/zkfix_$tag").getAbsolutePath
  }

  /** DuckDB-side relations (absolute paths — the driver's DuckDB
    * process may run with a different cwd). */
  def entriesPq: String = s"read_parquet('$dir/entries/*.parquet')"
  def headersPq: String = s"read_parquet('$dir/headers/*.parquet')"

  // SQL literals the oracle filters need (driver-side pure Scala).
  def contractHex(i: Int): String = hx(Fixtures.contractAddr(i))
  def userPad32Hex(i: Int): String = hx(Bytes.leftPad32(Fixtures.userAddr(i)))

  // ------------------------------------------------- golden hex literals
  // The commitment columns (EcGFp5 digests, Poseidon Merkle roots,
  // keccak hashes) are not SQL-expressible, but they ARE deterministic
  // functions of the fixture — so the oracle SQL carries them as
  // literals computed here by the SEQUENTIAL pure-kernel golden path
  // (the same functions ZkPipelineSpec pins the distributed plans to;
  // reference strategy `storage/lpn/mod.rs:30-88`). The driver's DuckDB
  // gate then hash-checks the distributed pipeline's digest bytes
  // against an independently-folded recomputation: any order/partition
  // sensitivity in the udaf combine, or any kernel regression, fails
  // the CORRECTNESS row — not just the local spec.

  /** Query2's qualified keys (sorted) with their nft ids — the
    * sequential ground truth the digest and manifest goldens fold
    * over. */
  lazy val goldenQuery2Qualified: Seq[(Long, Array[Byte])] = {
    val owner = Bytes.leftPad32(Fixtures.userAddr(0))
    Fixtures.entriesSeq(cfg)
      .filter(e => java.util.Arrays.equals(e.contract, Fixtures.contractAddr(0)) &&
        e.mapping_slot == cfg.nftSlot && java.util.Arrays.equals(e.value, owner))
      .groupBy(e => Bytes.toHex(e.mapping_key))
      .filter(_._2.map(_.block_number).distinct.size == cfg.nBlocks)
      .toSeq.sortBy(_._1)
      .map { case (_, es) =>
        (new BigInteger(1, es.head.mapping_key.takeRight(4)).longValueExact(),
          es.head.mapping_key)
      }
  }

  /** Query2's range digest (Σ key-only EcGFp5 digests over qualified
    * keys), folded sequentially over the fixture seq. */
  lazy val goldenQuery2DigestBytes: Array[Byte] =
    goldenQuery2Qualified
      .map { case (_, key) => Commitments.keyOnlyDigest(key) }
      .foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine)

  lazy val goldenQuery2DigestHex: String = hx(goldenQuery2DigestBytes)

  /** the sealed Query2 result-manifest hash, recomputed entirely from
    * pure-kernel golden components through the same canonical
    * [[ZkPipeline.manifestPreimage]] layout. */
  def goldenManifestHashHex(limit: Int = 5): String = {
    val ids = goldenQuery2Qualified.map(_._1).sorted.take(limit)
    val padded = ids ++ Seq.fill(limit - ids.size)(0L)
    val b0 = cfg.firstBlock
    val b1 = cfg.firstBlock + cfg.nBlocks - 1
    hx(Keccak.keccak256(ZkPipeline.manifestPreimage(
      67, b0, b1, goldenQuery2Qualified.size.toLong, padded,
      goldenQuery2DigestBytes,
      goldenProvingBlockHashBytes(b0, b1),
      Fixtures.goldenBlockDb(cfg)._2)))
  }

  /** ERC20 manifest seal, recomputed by pure kernels alone: the
    * reward sum re-derived straight from [[Fixtures.erc20Balance]]
    * (not through any Spark plan), sealed over the clamped range with
    * the golden proving hash and block-DB root. */
  def goldenErc20ManifestHashHex(queryMinB: Long, queryMaxB: Long): String = {
    val b0 = cfg.firstBlock
    val b1 = cfg.firstBlock + cfg.nBlocks - 1
    val sum = (b0 to b1).foldLeft(java.math.BigInteger.ZERO)((a, b) =>
      a.add(java.math.BigInteger.valueOf(7L)
        .multiply(Fixtures.erc20Balance(2, b, cfg))
        .divide(java.math.BigInteger.valueOf(1000L))))
    hx(Keccak.keccak256(ZkPipeline.erc20ManifestPreimage(
      88, b0, b1, cfg.nBlocks.toLong, U256.toBytes32(sum),
      goldenProvingBlockHashBytes(queryMinB, queryMaxB),
      Fixtures.goldenBlockDb(cfg)._2)))
  }

  /** the scaled fixture's qualified-key digest (owner 8, 1000 keys —
    * ownership is constant across blocks, so qualification = the
    * owner predicate; [[Fixtures.scaledOwner]] is the portable twin
    * the oracle SQL re-derives the COUNT with). */
  lazy val goldenScaleDigestHex: String =
    hx((0L until 1000L).filter(Fixtures.scaledOwner(_) == 8L)
      .map(k => Commitments.keyOnlyDigest(Bytes.leftPad32(Bytes.beBytes(k + 1, 8))))
      .foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine))

  /** block-DB Merkle root + per-block (state_root, leaf_hash) goldens. */
  lazy val goldenBlockDbRootHex: String = hx(Fixtures.goldenBlockDb(cfg)._2)

  lazy val goldenCommitRows: Seq[(Long, String, String)] = {
    val sr = Fixtures.goldenStateDb(cfg)
    val leaves = Fixtures.goldenBlockDb(cfg)._1
    Fixtures.headersSeq(cfg).zip(leaves).map { case (h, leaf) =>
      (h.block_number, hx(sr(h.block_number)), hx(leaf))
    }
  }

  /** keccak hash of the latest in-range header (the proving block). */
  def goldenProvingBlockHashBytes(minB: Long, maxB: Long): Array[Byte] =
    Fixtures.headersSeq(cfg)
      .filter(h => h.block_number >= minB && h.block_number <= maxB)
      .maxBy(_.block_number).block_hash

  def goldenProvingBlockHashHex(minB: Long, maxB: Long): String =
    hx(goldenProvingBlockHashBytes(minB, maxB))

  /** idempotent write-once ([[graft.core.Fs.buildOnce]]: the
    * directory existing means the dump is complete). */
  def ensure(spark: SparkSession): Unit =
    graft.core.Fs.buildOnce(java.nio.file.Paths.get(dir)) { tmp =>
      import spark.implicits._
      spark.createDataset(entriesRel).toDF().coalesce(1).write.parquet(s"$tmp/entries")
      spark.createDataset(headersRel).toDF().coalesce(1).write.parquet(s"$tmp/headers")
    }
}
