package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Bytes
import graft.functions.GraftFunctions

/** EIP-1186 (`eth_getProof`) dump-file source — the S1 connector that
  * closes the reference's ETL story end-to-end: the reference's only
  * external scan is `ProofQuery::query_mpt_proof`
  * (`mrp2-utils/src/eth.rs:301-309`), an `eth_getProof` JSON-RPC call
  * whose response it re-verifies at ingest. This connector reads
  * dumps of those responses (JSON-lines, one response per queried
  * slot with its request context) with an **explicit schema** — no
  * inference, per the fixed-schema rule — and normalizes them into
  * the proof-row shape `ZkPipeline.verifyStorageProofs` consumes.
  *
  * Scale shape: a dump directory is a plain file source — Spark
  * splits/parallelizes per file; the normalization is a per-row
  * projection (no shuffle); verification downstream is
  * embarrassingly parallel.
  */
object Eip1186Source {

  /** one entry of `storageProof` (ethers `EIP1186ProofResponse`):
    * key = the queried slot location (pre-keccak), value = the stored
    * quantity (compact hex), proof = RLP node path root→leaf. */
  val StorageProofEntrySchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("proof", ArrayType(StringType, containsNull = false), nullable = false)))

  val ResponseSchema: StructType = StructType(Seq(
    StructField("address", StringType, nullable = false),
    StructField("storageHash", StringType, nullable = false),
    StructField("accountProof", ArrayType(StringType, containsNull = false), nullable = true),
    StructField("storageProof", ArrayType(StorageProofEntrySchema, containsNull = false), nullable = false)))

  /** one dump line = one `eth_getProof` call: the request context the
    * reference derives proofs from (block, mapping slot + key) plus
    * the verbatim response. */
  val DumpSchema: StructType = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("mapping_slot", IntegerType, nullable = false),
    StructField("mapping_key", StringType, nullable = false),
    StructField("result", ResponseSchema, nullable = false)))

  /** 0x-prefixed, possibly odd-length (quantity-style) hex → binary */
  private def unhex0x(c: Column): Column = {
    val stripped = regexp_replace(c, "^0x", "")
    val even = when(length(stripped) % 2 === 1, concat(lit("0"), stripped)).otherwise(stripped)
    unhex(even)
  }

  /** explicit-schema read of a dump directory/file (JSON-lines). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DumpSchema).json(path)

  /** normalize a dump to `verifyStorageProofs` input rows:
    * (block_number, contract, mapping_slot, mapping_key, mpt_key,
    * nodes, mpt_root, value) + `key_ok` cross-checking the response's
    * proof key against the mapping-derived slot location
    * (eth.rs:260-276: location = keccak(pad32(key) ‖ pad32(slot)),
    * mpt_key = keccak(location)). */
  def toProofRows(dump: DataFrame): DataFrame =
    dump
      .select(
        col("block_number"),
        unhex0x(col("result.address")).as("contract"),
        col("mapping_slot"),
        unhex0x(col("mapping_key")).as("mapping_key"),
        unhex0x(col("result.storageHash")).as("mpt_root"),
        explode(col("result.storageProof")).as("sp"))
      .select(
        col("block_number"), col("contract"), col("mapping_slot"), col("mapping_key"),
        // the MPT path key is keccak(location); the response echoes
        // the queried location in sp.key
        GraftFunctions.keccak256(unhex0x(col("sp.key"))).as("mpt_key"),
        transform(col("sp.proof"), n => unhex0x(n)).as("nodes"),
        col("mpt_root"),
        GraftFunctions.leftPad32(unhex0x(col("sp.value"))).as("value"),
        (GraftFunctions.mappingMptKey(col("mapping_key"), col("mapping_slot")) ===
          GraftFunctions.keccak256(unhex0x(col("sp.key")))).as("key_ok"))

  // ------------------------------------------------ fixture dump I/O
  final case class SpEntry(key: String, value: String, proof: Seq[String])
  final case class Resp(address: String, storageHash: String,
      accountProof: Seq[String], storageProof: Seq[SpEntry])
  final case class DumpLine(block_number: Long, mapping_slot: Int,
      mapping_key: String, result: Resp)

  /** quantity-style compact hex (strips leading zeros, 0x0 for zero) —
    * exercises the left-pad path like a real RPC response would. */
  private def quantityHex(b: Array[Byte]): String = {
    val h = Bytes.toHex(b).dropWhile(_ == '0')
    "0x" + (if (h.isEmpty) "0" else h)
  }

  /** the format of [[writeFixtureDump]]'s output. A build-once dump is
    * keyed by it: change it with any change to what the writer emits,
    * so a dump written the old way is never read. */
  val FixtureDumpFormat = "eth_getProof-jsonl-v1"

  /** serialize the deterministic fixture proofs
    * ([[graft.pipeline.Fixtures.storageProofsSeq]]) as an
    * `eth_getProof` dump — one line per queried slot, mirroring
    * eth.rs:301-309's one-location-per-call shape. */
  def writeFixtureDump(spark: SparkSession, dir: String,
      cfg: graft.pipeline.Fixtures.Cfg = graft.pipeline.Fixtures.Cfg()): Unit = {
    import graft.core.StorageKey
    import spark.implicits._
    val lines = graft.pipeline.Fixtures.storageProofsSeq(cfg).map { p =>
      DumpLine(
        p.block_number, p.mapping_slot, "0x" + Bytes.toHex(p.mapping_key),
        Resp(
          "0x" + Bytes.toHex(p.contract),
          "0x" + Bytes.toHex(p.mpt_root),
          Seq.empty,
          Seq(SpEntry(
            "0x" + Bytes.toHex(StorageKey.mappingLocation(p.mapping_key, p.mapping_slot)),
            quantityHex(p.value),
            p.nodes.map(n => "0x" + Bytes.toHex(n))))))
    }
    spark.createDataset(lines).repartition(1).write.mode("overwrite").json(dir)
  }
}
