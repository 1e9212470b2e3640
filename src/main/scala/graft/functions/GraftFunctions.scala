package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** Column-function registry (SURVEY §2.7 F1–F11): the scalar surface of
  * the engine. Each function wraps a pure kernel from `graft.core` as a
  * Spark UDF over BinaryType and is also SQL-registered via
  * [[GraftFunctions.register]].
  *
  * UDFs here sit outside whole-stage codegen; they are deliberately
  * kept *scalar and allocation-light* (no boxing beyond the byte
  * arrays Spark hands over) so a row's cost is the kernel itself.
  * Everything expressible with built-ins (substring/concat/lpad over
  * binary — F4/F9/F10 fast paths) should use built-ins; these UDFs are
  * only for the genuinely custom math (keccak, RLP, U256).
  */
object GraftFunctions {

  import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
  import graft.expressions.{Keccak256Expr, MappingLeafDigestExpr, MappingLeafHashExpr, StateLeafHashExpr}

  // ---------------------------------------------------------------- F1
  /** keccak256 over a binary column (F1, keccak.rs:35-267) — native
    * codegen expression, stays inside whole-stage codegen. */
  def keccak256(c: Column): Column = toCol(Keccak256Expr(toExpr(c)))

  /** Unicode NFC normalization — codegen expression (see
    * expressions.NfcNormalizeExpr); DuckDB parity via nfc_normalize. */
  def nfcNormalize(c: Column): Column =
    toCol(graft.expressions.NfcNormalizeExpr(toExpr(c)))

  /** deflate-size / raw-size compression-ratio quality signal —
    * codegen expression (see expressions.DeflateRatioExpr). */
  def deflateRatio(c: Column): Column =
    toCol(graft.expressions.DeflateRatioExpr(toExpr(c)))

  private val keccakHexUdf = udf((b: Array[Byte]) => Bytes.toHex(Keccak.keccak256(b)))
  def keccak256Hex(c: Column): Column = keccakHexUdf(c)

  // ---------------------------------------------------------------- P9
  private val leftPad32Udf = udf((b: Array[Byte]) => Bytes.leftPad32(b))
  /** left_pad32 normalization (P9, eth.rs:221-239). */
  def leftPad32(c: Column): Column = leftPad32Udf(c)

  /** big-endian 32-byte encoding of a long column (fixture/key building) */
  private val longBe32Udf = udf((v: Long) => Bytes.leftPad32(Bytes.beBytes(v, 8)))
  def longToBytes32(c: Column): Column = longBe32Udf(c)

  /** big-endian bytes → long (≤8 bytes; F5 unpacking direction) */
  private val bytesToLongUdf = udf((b: Array[Byte]) => Bytes.beLong(b))
  def bytesToLong(c: Column): Column = bytesToLongUdf(c)

  // ---------------------------------------------------------------- P2/P3
  private val mappingMptKeyUdf = udf((key: Array[Byte], slot: Int) => StorageKey.mappingMptKey(key, slot))
  /** mpt_key = keccak(keccak(pad32(key)‖pad32(slot))) (P2, storage_key.rs:200-270). */
  def mappingMptKey(key: Column, slot: Column): Column = mappingMptKeyUdf(key, slot)

  private val simpleSlotKeyUdf = udf((slot: Int) => StorageKey.simpleSlotMptKey(slot))
  def simpleSlotMptKey(slot: Column): Column = simpleSlotKeyUdf(slot)

  // ---------------------------------------------------------------- F3/P1
  private val rlpLeafValueUdf = udf((node: Array[Byte]) => Rlp.extractLeafValue32(node))
  /** RLP leaf-value projection (P1, storage/mapping/leaf.rs:82-110). */
  def rlpExtractLeafValue(node: Column): Column = rlpLeafValueUdf(node)

  // ---------------------------------------------------------------- S2
  /** full MPT proof walk (S2, eth.rs:310-333 / mpt_sequential.rs:116-230):
    * keccak linkage + nibble-path check; returns the proven value
    * left-padded to 32B, or null when the proof does not verify.
    * Codegen Expression — stays in whole-stage codegen, no UDF serde. */
  def mptVerify(nodes: Column, mptKey: Column, root: Column): Column =
    toCol(graft.expressions.MptVerifyExpr(toExpr(nodes), toExpr(mptKey), toExpr(root), raw = false))

  /** S3 variant: raw leaf payload (state trie: the RLP'd account). */
  def mptVerifyRaw(nodes: Column, mptKey: Column, root: Column): Column =
    toCol(graft.expressions.MptVerifyExpr(toExpr(nodes), toExpr(mptKey), toExpr(root), raw = true))

  private val explodeMptUdf = udf((nodes: Seq[Array[Byte]]) => Mpt.nodeInfos(nodes))
  /** §2.9 generator `explode_mpt_proof`: proof node list →
    * array<struct(level, node_type, n_items, node_len, node_hash)>
    * for per-node ingest validation; pair with `posexplode`/`explode`
    * to get one row per trie node. */
  def explodeMptProof(nodes: Column): Column = explodeMptUdf(nodes)

  private val accountStorageRootUdf = udf((acct: Array[Byte]) =>
    if (acct == null) null
    else Rlp.decodeList(acct)(2) match {
      case Rlp.Str(v) => v
      case _          => null
    })
  /** storageRoot field of an RLP account record (S3,
    * state/block_linking/account/leaf.rs). */
  def accountStorageRoot(acct: Column): Column = accountStorageRootUdf(acct)

  private val headerParentUdf = udf((h: Array[Byte]) => Rlp.headerFields(h).parentHash)
  private val headerStateRootUdf = udf((h: Array[Byte]) => Rlp.headerFields(h).stateRoot)
  private val headerNumberUdf = udf((h: Array[Byte]) => Rlp.headerFields(h).number)
  /** block-header field extraction (F10, state/block_linking/block.rs:21-124). */
  def headerParentHash(h: Column): Column = headerParentUdf(h)
  def headerStateRoot(h: Column): Column = headerStateRootUdf(h)
  def headerNumber(h: Column): Column = headerNumberUdf(h)

  // ---------------------------------------------------------------- F7 (U256)
  import java.math.BigInteger
  private def bin(b: Array[Byte]): BigInteger = U256.fromBytes32(b)

  private val u256CmpUdf = udf((a: Array[Byte], b: Array[Byte]) => U256.cmp(bin(a), bin(b)))
  private val u256ToDecimalUdf = udf((a: Array[Byte]) => new java.math.BigDecimal(bin(a)))

  /** u256 add with overflow abort — codegen Expression (no UDF serde;
    * kernel = U256.addBytes, u256.rs:43-110). */
  def u256Add(a: Column, b: Column): Column =
    toCol(graft.expressions.U256AddExpr(toExpr(a), toExpr(b)))
  /** (a*b)/c in u256 with div-zero/overflow abort, full-precision
    * intermediate — codegen Expression (query_erc20/storage/leaf.rs:57-116). */
  def u256MulDiv(a: Column, b: Column, c: Column): Column =
    toCol(graft.expressions.U256MulDivExpr(toExpr(a), toExpr(b), toExpr(c)))
  def u256Cmp(a: Column, b: Column): Column = u256CmpUdf(a, b)
  /** lossy view for display/oracle when values < 10^38 */
  def u256ToDecimal(a: Column): Column = u256ToDecimalUdf(a).cast("decimal(38,0)")

  // ---------------------------------------------------------------- A2 leaves
  private val keyOnlyDigestUdf = udf((k: Array[Byte]) => Commitments.keyOnlyDigest(k))
  private val stateLeafHashUdf = udf((c: Array[Byte], ms: Int, ls: Int, root: Array[Byte]) =>
    Commitments.stateLeafHash(c, ms, ls, root))
  private val blockLeafHashUdf = udf((bn: Long, bh: Array[Byte], sr: Array[Byte]) =>
    Commitments.blockLeafHash(bn, bh, sr))

  /** codegen expressions (graft.expressions) — shared kernels with the
    * sequential golden path, zero UDF overhead in the build pipeline. */
  def mappingLeafHash(key: Column, value: Column): Column =
    toCol(MappingLeafHashExpr(toExpr(key), toExpr(value)))
  def mappingLeafDigest(key: Column, value: Column): Column =
    toCol(MappingLeafDigestExpr(toExpr(key), toExpr(value)))
  /** fused hash(32)‖digest(81) over one sponge — see
    * [[graft.core.Commitments.mappingLeafCommit]]. */
  def mappingLeafCommit(key: Column, value: Column): Column =
    toCol(graft.expressions.MappingLeafCommitExpr(toExpr(key), toExpr(value)))
  def keyOnlyDigest(key: Column): Column = keyOnlyDigestUdf(key)
  def stateLeafHash(contract: Column, mappingSlot: Column, lengthSlot: Column, storageRoot: Column): Column =
    toCol(StateLeafHashExpr(toExpr(contract), toExpr(mappingSlot), toExpr(lengthSlot), toExpr(storageRoot)))
  def blockLeafHash(blockNumber: Column, blockHash: Column, stateRoot: Column): Column =
    blockLeafHashUdf(blockNumber, blockHash, stateRoot)

  /** SQL registration of the functions that have no native
    * expression. The native ones (`keccak256`, `mapping_leaf_hash`,
    * `mapping_leaf_digest`, …) are injected by
    * [[graft.expressions.GraftExtensions]]; a UDF of the same name
    * registered here would replace them in the session. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("keccak256_hex", (b: Array[Byte]) => Bytes.toHex(Keccak.keccak256(b)))
    spark.udf.register("left_pad32", (b: Array[Byte]) => Bytes.leftPad32(b))
    spark.udf.register("long_to_bytes32", (v: Long) => Bytes.leftPad32(Bytes.beBytes(v, 8)))
    spark.udf.register("mapping_mpt_key", (k: Array[Byte], s: Int) => StorageKey.mappingMptKey(k, s))
    spark.udf.register("rlp_leaf_value", (n: Array[Byte]) => Rlp.extractLeafValue32(n))
    spark.udf.register("header_number", (h: Array[Byte]) => Rlp.headerFields(h).number)
  }
}
