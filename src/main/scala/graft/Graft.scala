package graft

import java.math.BigInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation

import graft.pipeline.ZkPipeline

/** User-facing facade — the entry point a user of the reference would
  * switch to. One object per concern, each returning plain DataFrames
  * so everything composes with the rest of a Spark application:
  *
  * {{{
  * val spark = Graft.session()                   // extensions installed
  * val sdb   = Graft.buildStorageDb(entries)     // §3.1 stages 1-5
  * val state = Graft.buildStateDb(sdb)           // stage 7
  * val (ids, checks) = Graft.query2(entries, contract, slot, owner, 100, 109)
  * val sum   = Graft.queryErc20(entries, contract, slot, user, rate, supply, 100, 109)
  * }}}
  */
object Graft {

  /** the engine's one diagnostics logger: failures at WARN or above,
    * so they print under the WARN level the mains set. */
  private[graft] val log: org.slf4j.Logger = org.slf4j.LoggerFactory.getLogger("graft")

  /** SparkSession with the engine's native expressions registered and
    * the configs the synthetic tables need. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // ANSI pinned ON (Spark 4 default, but the correctness gate must
      // not silently lose it to a default flip or ambient conf): abort
      // on overflow/bad cast instead of silent-null arithmetic.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // ConvertToLocalRelation evaluates a projection over driver rows
      // (a createDataFrame batch, a MemoryStream micro-batch) serially
      // inside the optimizer, once per planned query, and only
      // Unevaluable expressions opt out. The engine's per-row kernels
      // cost 10-100 µs, so folding them is never cheaper than a
      // distributed pass: a streaming append re-ran
      // `mapping_leaf_commit` over every entry on the driver per query.
      .config("spark.sql.optimizer.excludedRules", ConvertToLocalRelation.ruleName)
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }

  // ------------------------------------------------------------ builds
  def buildStorageDb(entries: DataFrame): DataFrame = ZkPipeline.storageDb(entries)
  def buildStateDb(storageDb: DataFrame): DataFrame = ZkPipeline.stateDb(storageDb)
  def buildBlockDb(stateDb: DataFrame, headers: DataFrame): DataFrame = ZkPipeline.blockDb(stateDb, headers)

  // ------------------------------------------------------------ checks
  def verifyProofs(proofs: DataFrame): DataFrame = ZkPipeline.verifyStorageProofs(proofs)
  def lengthMatch(storageDb: DataFrame, lengths: DataFrame): DataFrame = ZkPipeline.lengthMatch(storageDb, lengths)
  def digestEqual(a: DataFrame, b: DataFrame): DataFrame = ZkPipeline.digestEqual(a, b)
  def blockLinking(accountProofs: DataFrame, headers: DataFrame, roots: DataFrame): DataFrame =
    ZkPipeline.blockLinking(accountProofs, headers, roots)

  // ------------------------------------------------------------ queries
  def query2(entries: DataFrame, contract: Array[Byte], slot: Int, owner: Array[Byte],
      minBlock: Long, maxBlock: Long, limit: Int = 5): (DataFrame, DataFrame) =
    ZkPipeline.query2(entries, contract, slot, owner, minBlock, maxBlock, limit)

  def queryErc20(entries: DataFrame, contract: Array[Byte], slot: Int, user: Array[Byte],
      rate: BigInteger, totalSupply: BigInteger, minBlock: Long, maxBlock: Long): DataFrame =
    ZkPipeline.queryErc20(entries, contract, slot, user, rate, totalSupply, minBlock, maxBlock)

  /** fixed-width Query2 revelation record (range, L zero-padded ids,
    * re-derived digest, proving header hash, block-DB root). */
  def query2Revelation(entries: DataFrame, headers: DataFrame, contract: Array[Byte],
      slot: Int, owner: Array[Byte], minBlock: Long, maxBlock: Long, limit: Int = 5): DataFrame =
    ZkPipeline.query2Revelation(entries, headers, contract, slot, owner, minBlock, maxBlock, limit)

  /** result-attestation manifest (S6 analog): re-verifies the
    * revelation's digest from the revealed ids and seals every public
    * field under a keccak result hash — gate downstream consumers on
    * the `verified` column. */
  def attestQuery2(revelation: DataFrame, limit: Int = 5): DataFrame =
    ZkPipeline.attestQuery2(revelation, limit)

  /** ERC20 revelation record (clamped range, per-block contributions,
    * U256 result, proving header hash, block-DB root). */
  def queryErc20Revelation(entries: DataFrame, headers: DataFrame, contract: Array[Byte],
      slot: Int, user: Array[Byte], rate: BigInteger, totalSupply: BigInteger,
      minBlock: Long, maxBlock: Long): DataFrame =
    ZkPipeline.queryErc20Revelation(entries, headers, contract, slot, user, rate,
      totalSupply, minBlock, maxBlock)

  /** ERC20 twin of [[attestQuery2]]: re-derives the revealed U256
    * result from the per-block contributions, cross-checks coverage,
    * and seals the canonical public-input layout under keccak. */
  def attestErc20(revelation: DataFrame): DataFrame =
    ZkPipeline.attestErc20(revelation)

  // ------------------------------------------------------------ sources
  /** EIP-1186 `eth_getProof` dump directory → verified proof rows
    * (S1 live-shaped ingest; `proof_ok`/`key_ok` flags per row). */
  def ingestRpcDump(spark: SparkSession, path: String): DataFrame =
    ZkPipeline.verifyStorageProofs(graft.sources.Eip1186Source.toProofRows(
      graft.sources.Eip1186Source.read(spark, path)))

  /** transactional versioned table handle (atomic commits, snapshot
    * isolation, time travel, vacuum). */
  def versionedTable(spark: SparkSession, baseDir: String, nBuckets: Int = 16): graft.sources.VersionedTable =
    new graft.sources.VersionedTable(spark, baseDir, nBuckets)

  // ------------------------------------------------------- multimodal
  /** real container metadata (PNG/JPEG/GIF/WAV headers) over a binary
    * payload Dataset; unknown formats flow through flagged. */
  def mediaMeta(records: org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord]): DataFrame =
    graft.multimodal.Multimodal.extractContainerMeta(records).toDF()
}
