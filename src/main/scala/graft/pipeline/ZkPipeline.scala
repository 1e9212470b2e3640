package graft.pipeline

import java.math.BigInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Bytes, Commitments, Keccak, U256}
import graft.functions.GraftFunctions._
import graft.operators.Aggregators

/** The reference's preprocessing + query pipeline as Spark
  * transformations (SURVEY §3): storage DB → state DB → block DB
  * builds, then the Query2 / QueryERC20 plans.
  *
  * Execution shape vs the reference: each per-tree merge circuit
  * becomes partial/final aggregation (the recursion framework's
  * child-proof hand-off IS the shuffle); the serialized-proof stage
  * boundaries (S5) become DataFrame hand-offs inside one job, so
  * Catalyst fuses stages and pushes filters all the way to the scan.
  *
  * Scale: every groupBy below keys on (block_number, contract) or
  * block_number — at 100 TB, `storage_entries` would be written
  * partitioned by block_number range, so these aggregations shuffle
  * only within partitions already pruned by the query's block-range
  * predicate (P6 becomes a partition filter).
  */
object ZkPipeline {

  // ------------------------------------------------------------ §3.1 stages 1-5
  /** storage DB (per block × contract): COUNT (A1) + additive set
    * digest (A2) + order-fixed Merkle root (A3). One shuffle, three
    * aggregates, map-side partials for all of them.
    *
    * The leaf hash (A3 input) and leaf digest (A2 input) share their
    * Poseidon absorb over the same key‖value preimage, so both are
    * sliced from ONE fused [[mappingLeafCommit]] column computed in a
    * Project below the aggregate — one sponge + one curve map per
    * entry instead of two sponges (bit-identical halves; the r10 shape
    * paid the 2-permutation absorb twice per entry). */
  def storageDb(entries: DataFrame): DataFrame =
    entries
      .withColumn("__leaf_commit", mappingLeafCommit(col("mapping_key"), col("value")))
      .groupBy("block_number", "contract", "mapping_slot", "length_slot")
      .agg(
        count(lit(1)).as("n"),
        Aggregators.digestAgg(substring(col("__leaf_commit"), 33, 81)).as("digest"),
        Aggregators.merkleRoot(col("mapping_key"), substring(col("__leaf_commit"), 1, 32)).as("storage_root"))

  /** S2 ingest-time proof validation (eth.rs:310-333): walk each
    * EIP-1186 proof, check keccak linkage + path, and compare the
    * extracted value against the claimed entry value. Embarrassingly
    * parallel — one UDF call per row, no shuffle at all. */
  def verifyStorageProofs(proofs: DataFrame): DataFrame =
    proofs
      .withColumn("extracted_value", mptVerify(col("nodes"), col("mpt_key"), col("mpt_root")))
      .withColumn("proof_ok", col("extracted_value").isNotNull && col("extracted_value") === col("value"))

  /** LengthExtract (§3.1 stage 2, length_extract.rs:100-192): walk the
    * simple-slot proof for the mapping's length variable and decode
    * the u64 count from the proven 32-byte value. */
  def lengthExtract(lengthProofs: DataFrame): DataFrame =
    lengthProofs
      .withColumn("extracted", mptVerify(col("nodes"), col("mpt_key"), col("mpt_root")))
      .withColumn("declared_length", bytesToLong(expr("substring(extracted, 25, 8)")))
      .select("block_number", "contract", "declared_length", "mpt_root")

  /** J1 LengthMatch (length_match.rs:103-163): entry count must equal
    * the declared mapping length; `skip` bypasses (MAGIC_SLOT
    * sentinel). Returns rows with a `length_ok` verdict. */
  def lengthMatch(storageDb: DataFrame, lengths: DataFrame, skip: Boolean = false): DataFrame =
    storageDb
      .join(lengths, Seq("block_number", "contract"), "left")
      .withColumn("length_ok", lit(skip) || col("declared_length").isNull || col("n") === col("declared_length"))

  /** J2 DigestEqual (digest_equal.rs:142-170): two independently built
    * digests over the same entry set must agree — the set-equality
    * reconciliation between the MPT-extracted and LPN-stored sides. */
  def digestEqual(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("block_number"), col("contract"), col("digest").as("digest_a"))
      .join(b.select(col("block_number"), col("contract"), col("digest").as("digest_b")),
        Seq("block_number", "contract"))
      .withColumn("digest_ok", col("digest_a") === col("digest_b"))

  // ------------------------------------------------------------ §3.1 stage 7
  /** state DB (per block): one leaf per contract, root over leaves
    * ordered by contract address. */
  def stateDb(storageDb: DataFrame): DataFrame =
    storageDb
      .groupBy("block_number")
      .agg(
        count(lit(1)).as("n_contracts"),
        Aggregators.merkleRoot(
          col("contract"),
          stateLeafHash(col("contract"), col("mapping_slot"), col("length_slot"), col("storage_root"))).as("state_root"))

  // ------------------------------------------------------------ §3.1 stage 8
  /** block DB rows: state root bound to the header chain (J3) with the
    * append-only sequencing constraint (W3/St2). The window is a
    * single total order over block numbers — fine, because block-DB
    * maintenance is inherently sequential (one row per block, tiny);
    * the heavy lifting stayed in the per-block aggregations above. */
  def blockDb(stateDb: DataFrame, headers: DataFrame): DataFrame = {
    val w = Window.orderBy("block_number")
    stateDb
      .join(headers, Seq("block_number"))
      .withColumn("chain_ok",
        headerParentHash(col("header_rlp")) === coalesce(lag("block_hash", 1).over(w), col("parent_hash")))
      .withColumn("seq_ok",
        coalesce(col("block_number") === lag("block_number", 1).over(w) + 1, lit(true)))
      .withColumn("leaf_hash", blockLeafHash(col("block_number"), col("block_hash"), col("state_root")))
      .select("block_number", "block_hash", "state_root", "leaf_hash", "chain_ok", "seq_ok")
  }

  /** J3 BlockLinking (state/block_linking/mod.rs:62-106): the 3-way
    * binding storage DB → account → header. Per (block, contract):
    * the account proof must verify against the header's embedded
    * Ethereum state root, and the storage root inside the proven
    * account leaf must equal the storage trie root the entries were
    * extracted from. Equi-joins on (block_number[, contract]) — at
    * scale the headers side is tiny and broadcasts. */
  def blockLinking(accountProofs: DataFrame, headers: DataFrame, storageMptRoots: DataFrame): DataFrame =
    accountProofs
      .join(broadcast(headers.select(col("block_number"), col("header_rlp"))), Seq("block_number"))
      .withColumn("header_root_ok", headerStateRoot(col("header_rlp")) === col("eth_state_root"))
      .withColumn("acct_raw", mptVerifyRaw(col("nodes"), col("account_mpt_key"), col("eth_state_root")))
      .withColumn("acct_storage_root", accountStorageRoot(col("acct_raw")))
      .join(storageMptRoots, Seq("block_number", "contract"))
      .withColumn("storage_root_ok",
        col("acct_storage_root").isNotNull && col("acct_storage_root") === col("mpt_root"))
      .select("block_number", "contract", "header_root_ok", "storage_root_ok")

  /** block-DB head: final root over all leaves in block order + the
    * first/last block bounds the revelation joins against (J4). */
  def blockDbHead(blockDb: DataFrame): DataFrame =
    blockDb.agg(
      min("block_number").as("first_block"),
      max("block_number").as("last_block"),
      count(lit(1)).as("n_blocks"),
      Aggregators.merkleRoot(longToBytes32(col("block_number")), col("leaf_hash")).as("root"),
      min(col("chain_ok").cast("int")).as("all_chain_ok"),
      min(col("seq_ok").cast("int")).as("all_seq_ok"))

  // ------------------------------------------------------------ §3.2 Query2
  /** Query2 (NFT ownership): sorted distinct u32 ids owned by `owner`
    * in `contract`/`slot` consistently over [minB, maxB], LIMIT L.
    *
    * Returns (ids DataFrame, checks DataFrame). The consistency rule
    * ("every block in range") is the A5 contiguity constraint: an id
    * qualifies only if it appears with the owner in ALL blocks of the
    * range. Checks carry the per-range digest cross-check (revelation
    * re-derives Σ key-digests from the witnessed ids — A2 on key-only
    * digests, query2/storage/leaf.rs:46-49).
    */
  def query2(entries: DataFrame, contract: Array[Byte], slot: Int, owner: Array[Byte],
      minB: Long, maxB: Long, limit: Int = 5): (DataFrame, DataFrame) = {
    val nBlocks = maxB - minB + 1
    val owned = entries
      .filter(col("contract") === lit(contract) && col("mapping_slot") === slot &&
        col("block_number").between(minB, maxB) &&
        col("value") === lit(Bytes.leftPad32(owner)))
    // id qualifies iff present in every block of the range (consistent ownership)
    val perKey = owned
      .groupBy("mapping_key")
      .agg(countDistinct(col("block_number")).as("n_blocks"))
      .filter(col("n_blocks") === nBlocks)
      .withColumn("key_digest", keyOnlyDigest(col("mapping_key")))
    val ids = perKey
      .select(bytesToLong(expr("substring(mapping_key, 29, 4)")).as("nft_id"))
      .orderBy("nft_id")
      .limit(limit)
    val checks = perKey.agg(
      count(lit(1)).as("n_qualified"),
      Aggregators.digestAgg(col("key_digest")).as("range_digest"))
    (ids, checks)
  }

  /** BATCHED Query2 serving: answer a TABLE of revelation requests
    * `(qid, owner_pad: binary(32), min_b, max_b)` in ONE pass over the
    * entries fact — the reference proves one `(owner, range)` query
    * per invocation (api.rs:325-341); a deployment answers many, and
    * N per-query invocations are N scans of a 100-TB fact for work
    * that shares everything but the predicate. The request table
    * broadcasts (requests are human-issued — always the small side),
    * the fact is scanned once, and each query's consistency rule /
    * top-L / qualified-count evaluates per `qid` group. Emits one row
    * per request — queries with no qualifying id included (zero
    * count, zero-padded id vector), like the per-query plan's empty
    * revelation — with the same fields the per-query loop derives:
    * `num_entries`, the L zero-padded sorted ids, and the A2
    * key-only range digest (ZkPipelineSpec pins batch ≡ per-query
    * [[query2]] loop field-for-field; the registry twin
    * `zk_query2_batch` oracles the relational spine per request). */
  def query2Batch(entries: DataFrame, queries: DataFrame, contract: Array[Byte],
                  slot: Int, limit: Int = 5): DataFrame = {
    val q = queries.select(col("qid"), col("owner_pad"), col("min_b"), col("max_b"))
    val scoped = entries
      .filter(col("contract") === lit(contract) && col("mapping_slot") === slot)
    val owned = scoped.join(broadcast(q),
      scoped("value") === q("owner_pad") &&
        scoped("block_number").between(q("min_b"), q("max_b")))
    val perKey = owned
      .groupBy(col("qid"), col("min_b"), col("max_b"), col("mapping_key"))
      .agg(countDistinct(col("block_number")).as("nb"))
      .filter(col("nb") === col("max_b") - col("min_b") + 1)
      .withColumn("key_digest", keyOnlyDigest(col("mapping_key")))
      .withColumn("nft_id", bytesToLong(expr("substring(mapping_key, 29, 4)")))
    val w = Window.partitionBy("qid").orderBy(col("nft_id").asc)
    val perQid = perKey
      .withColumn("rk", row_number().over(w))
      .groupBy("qid")
      .agg(
        count(lit(1)).as("num_entries"),
        // collect_list skips the over-limit NULLs: exactly the top-L
        sort_array(collect_list(when(col("rk") <= limit, col("nft_id")))).as("ids_raw"),
        Aggregators.digestAgg(col("key_digest")).as("range_digest"))
    q.select("qid").join(perQid, Seq("qid"), "left")
      .withColumn("ids0", coalesce(col("ids_raw"), expr("array_repeat(0L, 0)")))
      .select(
        col("qid"),
        coalesce(col("num_entries"), lit(0L)).as("num_entries"),
        expr(s"concat(ids0, array_repeat(0L, $limit - size(ids0)))").as("nft_ids"),
        // an empty revelation's digest is the aggregator's neutral —
        // exactly what the per-query loop's digestAgg over zero rows
        // emits
        coalesce(col("range_digest"), lit(Commitments.DigestIdentity)).as("range_digest"))
      .orderBy("qid")
  }

  /** BATCHED ERC20 serving — the §3.3 twin of [[query2Batch]]: answer
    * a TABLE of reward requests `(qid, user_pad: binary(32), min_b,
    * max_b)` in ONE pass over the entries fact. The reference proves
    * one `(user, range)` query per invocation (api.rs:325-341); a
    * deployment answers many, and N per-query invocations are N scans
    * of a 100-TB fact for work that shares everything but the
    * predicate. The request table broadcasts (requests are
    * human-issued — always the small side); each request's clamp /
    * per-block reward / gap-free U256 sum evaluates per `qid` group.
    *
    * The P7 clamp needs no bounds side-scan here: every scoped row is
    * inside the DB bounds by construction, so filtering
    * `block_number` to the RAW request range selects exactly the rows
    * the clamped range would, and the reported `range_min`/`range_max`
    * (min/max of surviving blocks) come out already clamped. That
    * keeps the whole batch a literal single scan of the fact
    * (ZkPipelineSpec pins the plan's leaf count, like query2Batch's).
    *
    * Emits one row per request, empties included, field-compatible
    * with [[queryErc20]]'s single row: a request whose range touches
    * no block gets `n_blocks = 0`, null range bounds, null `gap_free`
    * and a zero U256 `result` — exactly what the per-query plan
    * returns on an empty range. Absent-user blocks still count with
    * balance 0 (P4), same as the per-query path. */
  def erc20Batch(entries: DataFrame, queries: DataFrame, contract: Array[Byte], slot: Int,
                 rate: BigInteger, totalSupply: BigInteger): DataFrame = {
    val q = queries.select(col("qid"), col("user_pad"), col("min_b"), col("max_b"))
    val scoped = entries
      .filter(col("contract") === lit(contract) && col("mapping_slot") === slot)
    val inRange = scoped.join(broadcast(q),
      scoped("block_number").between(q("min_b"), q("max_b")))
    // P4 per (request, block): the user's balance or 0 when absent —
    // the block row-group exists whenever ANY key was observed there
    val perBlock = inRange
      .groupBy(col("qid"), col("block_number"))
      .agg(max(when(col("mapping_key") === col("user_pad"), col("value"))).as("balance"))
      .withColumn("balance", coalesce(col("balance"), lit(U256.toBytes32(BigInteger.ZERO))))
      .withColumn("reward",
        u256MulDiv(lit(U256.toBytes32(rate)), col("balance"), lit(U256.toBytes32(totalSupply))))
    val perQid = perBlock.groupBy("qid").agg(
      count(lit(1)).as("n_blocks"),
      min("block_number").as("range_min"),
      max("block_number").as("range_max"),
      Aggregators.u256Sum(col("reward")).as("result"))
      .withColumn("gap_free", col("n_blocks") === col("range_max") - col("range_min") + 1)
    q.select("qid").join(perQid, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        col("range_min"), col("range_max"), col("gap_free"),
        coalesce(col("result"), lit(U256.toBytes32(BigInteger.ZERO))).as("result"))
      .orderBy("qid")
  }

  /** §3.2 step 4 — the fixed-width revelation record: block range,
    * the L result ids (zero-padded like the reference's fixed result
    * array), entry count, re-derived key digest, the proving block's
    * header hash, and the block-DB root the result is bound to (J4).
    * Every input is a 1-row frame → broadcast cross joins, no
    * shuffles. */
  def query2Revelation(entries: DataFrame, headers: DataFrame, contract: Array[Byte], slot: Int,
      owner: Array[Byte], minB: Long, maxB: Long, limit: Int = 5): DataFrame = {
    val (ids, checks) = query2(entries, contract, slot, owner, minB, maxB, limit)
    val idsArr = ids
      .agg(sort_array(collect_list(col("nft_id"))).as("ids_raw"))
      .select(expr(s"concat(ids_raw, array_repeat(0L, $limit - size(ids_raw)))").as("nft_ids"))
    val head = blockDbHead(blockDb(stateDb(storageDb(entries)), headers))
      .select(col("first_block"), col("last_block"), col("root"))
    val provingHash = headers
      .filter(col("block_number").between(minB, maxB))
      .orderBy(col("block_number").desc).limit(1)
      .select(col("block_hash").as("proving_block_hash"))
    idsArr
      .crossJoin(broadcast(checks))
      .crossJoin(broadcast(head))
      .crossJoin(broadcast(provingHash))
      .select(
        lit(67).as("query_id"), // NFT query identifier (tests/common/mod.rs:15)
        greatest(lit(minB), col("first_block")).as("min_block"),
        least(lit(maxB), col("last_block")).as("max_block"),
        col("n_qualified").as("num_entries"),
        col("nft_ids"),
        col("range_digest"),
        col("proving_block_hash"),
        col("root").as("block_db_root"))
  }

  /** §3.3 step 4 — the ERC20 revelation record (layout padded to the
    * Query2 width in the reference, revelation/public_inputs.rs:28-60):
    * clamped range, the single U256 result, and the block-DB binding. */
  def queryErc20Revelation(entries: DataFrame, headers: DataFrame, contract: Array[Byte], slot: Int,
      user: Array[Byte], rate: java.math.BigInteger, totalSupply: java.math.BigInteger,
      minB: Long, maxB: Long): DataFrame = {
    val perBlock = erc20PerBlock(entries, contract, slot, user, rate, totalSupply, minB, maxB)
    val result = erc20Result(perBlock)
    // the per-IVC-step contributions, revealed alongside the sum so
    // the attestation can re-derive the result independently (the
    // analog of query2's id-digest re-derivation). Payload is
    // O(rangeWidth) — the same width the reference's proof tree has
    // one public-input set per block for.
    val steps = perBlock.agg(
      sort_array(collect_list(struct(col("block_number"), col("reward")))).as("br"))
      .select(
        expr("transform(br, x -> x.block_number)").as("block_numbers"),
        expr("transform(br, x -> x.reward)").as("block_rewards"))
    val head = blockDbHead(blockDb(stateDb(storageDb(entries)), headers))
      .select(col("root"))
    val provingHash = headers
      .filter(col("block_number").between(minB, maxB))
      .orderBy(col("block_number").desc).limit(1)
      .select(col("block_hash").as("proving_block_hash"))
    result
      .crossJoin(broadcast(steps))
      .crossJoin(broadcast(head))
      .crossJoin(broadcast(provingHash))
      .select(
        lit(88).as("query_id"), // ERC20 query identifier (tests/common/mod.rs:16)
        col("range_min").as("min_block"),
        col("range_max").as("max_block"),
        col("n_blocks"),
        col("gap_free"),
        col("result"),
        col("block_numbers"),
        col("block_rewards"),
        col("proving_block_hash"),
        col("root").as("block_db_root"))
  }

  /** Canonical serialization of the ERC20 result manifest — the twin
    * of [[manifestPreimage]] for the reward query (the reference pads
    * the ERC20 revelation to the Query2 public-input width and places
    * the single U256 result in the result slots,
    * query_erc20/revelation/public_inputs.rs:17-86; here the result
    * hex occupies the same delimiter slot the id list does in the
    * Query2 layout). */
  def erc20ManifestPreimage(queryId: Int, minB: Long, maxB: Long, nBlocks: Long,
      result: Array[Byte], provingHash: Array[Byte], root: Array[Byte]): Array[Byte] =
    (s"graft-manifest|v1|$queryId|$minB|$maxB|$nBlocks|${Bytes.toHex(result)}|" +
      s"${Bytes.toHex(provingHash)}|${Bytes.toHex(root)}")
      .getBytes("UTF-8")

  /** §3.3 step 5 — the ERC20 result-attestation record (S6 analog,
    * mirroring [[attestQuery2]]):
    *
    *  - `result_rederived`: Σ of the revealed per-block rewards,
    *    folded by a pure sequential kernel — an INDEPENDENT path from
    *    the distributed U256 aggregator that produced `result` (the
    *    circuit's revelation constraint: the exposed sum must equal
    *    the proven per-step contributions,
    *    query_erc20/revelation/public_inputs.rs:17-86).
    *  - `coverage_ok`: contiguity re-derived from the revealed block
    *    numbers themselves (strict +1 chain anchored at
    *    min_block/max_block), not trusted from the plan's `gap_free`.
    *  - `result_hash`: keccak over [[erc20ManifestPreimage]] — tamper
    *    with any sealed field and the hash moves (negative-tested).
    *  - `verified`: the one-bit downstream verdict. */
  def attestErc20(revelation: DataFrame): DataFrame = {
    val resum = udf((rewards: Seq[Array[Byte]]) => {
      val s = rewards.foldLeft(BigInteger.ZERO)((a, r) => a.add(new BigInteger(1, r)))
      require(s.bitLength() <= 256, "u256 overflow in manifest re-derivation")
      U256.toBytes32(s)
    })
    val chained = udf((bs: Seq[Long]) =>
      bs.nonEmpty && bs.iterator.zip(bs.iterator.drop(1)).forall { case (a, b) => b == a + 1 })
    val seal = udf((qid: Int, minB: Long, maxB: Long, n: Long, res: Array[Byte],
        ph: Array[Byte], rt: Array[Byte]) =>
      Keccak.keccak256(erc20ManifestPreimage(qid, minB, maxB, n, res, ph, rt)))
    revelation
      .withColumn("result_rederived", resum(col("block_rewards")))
      .withColumn("result_ok",
        col("result_rederived") === col("result") &&
          size(col("block_rewards")) === col("n_blocks"))
      .withColumn("coverage_ok",
        chained(col("block_numbers")) &&
          element_at(col("block_numbers"), 1) === col("min_block") &&
          element_at(col("block_numbers"), -1) === col("max_block") &&
          col("n_blocks") === col("max_block") - col("min_block") + 1)
      .withColumn("result_hash", seal(
        col("query_id"), col("min_block"), col("max_block"), col("n_blocks"),
        col("result"), col("proving_block_hash"), col("block_db_root")))
      .withColumn("verified",
        col("result_ok") && col("coverage_ok") && col("min_block") <= col("max_block"))
  }

  /** Canonical serialization of the Query2 result manifest — the
    * public-inputs analog of the reference's final attestation wrap
    * (groth16-framework/src/lib.rs:1-100 packages exactly these
    * fields as the on-chain-verified public inputs;
    * groth16-framework/tests/queries.rs:30-110 checks them field by
    * field). A versioned, delimiter-separated byte layout — text, not
    * bespoke packing, so the fixture golden can recompute it from the
    * pure-kernel components alone. */
  def manifestPreimage(queryId: Int, minB: Long, maxB: Long, numEntries: Long,
      ids: Seq[Long], digest: Array[Byte], provingHash: Array[Byte],
      root: Array[Byte]): Array[Byte] =
    (s"graft-manifest|v1|$queryId|$minB|$maxB|$numEntries|${ids.mkString(",")}|" +
      s"${Bytes.toHex(digest)}|${Bytes.toHex(provingHash)}|${Bytes.toHex(root)}")
      .getBytes("UTF-8")

  /** §3.2 step 5 — the result-attestation record (S6 analog): binds
    * the revelation to its commitments and seals it under a result
    * hash.
    *
    *  - `digest_rederived`: Σ key-only digests recomputed FROM THE
    *    REVEALED IDS themselves (query2/revelation/circuit.rs:120-150
    *    — the circuit re-derives the aggregate digest from the L
    *    public result slots and constrains it equal to the proven
    *    one). An INDEPENDENT path from the distributed udaf that
    *    produced `range_digest`: map over ≤ L ids vs curve-sum over
    *    the whole entries relation.
    *  - `complete`: re-derivation can only cover what was revealed,
    *    so the check binds iff num_entries ≤ L (the reference aborts
    *    revelation on overflow for the same reason).
    *  - id domain: the reference's result layout fixes nft ids as
    *    NONZERO u32s (`query2/storage/leaf.rs` packs the id in the
    *    key's last 4 bytes; 0 is the fixed-width pad value in the
    *    result array, so a revealed 0 is indistinguishable from
    *    padding by construction). The `filter(_ != 0L)` and the
    *    4-byte key reconstruction below implement exactly that
    *    layout; ids outside it are out of the query's spec.
    *  - `result_hash`: keccak over [[manifestPreimage]] — tamper with
    *    any revealed field and the hash moves (negative-tested).
    *  - `verified`: the one-bit verdict a downstream consumer gates
    *    on. */
  def attestQuery2(revelation: DataFrame, limit: Int = 5): DataFrame = {
    val rederive = udf((ids: Seq[Long]) =>
      ids.filter(_ != 0L)
        .map(id => Commitments.keyOnlyDigest(Bytes.leftPad32(Bytes.beBytes(id, 4))))
        .foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine))
    val seal = udf((qid: Int, minB: Long, maxB: Long, n: Long, ids: Seq[Long],
        dg: Array[Byte], ph: Array[Byte], rt: Array[Byte]) =>
      Keccak.keccak256(manifestPreimage(qid, minB, maxB, n, ids, dg, ph, rt)))
    revelation
      .withColumn("digest_rederived", rederive(col("nft_ids")))
      .withColumn("complete", col("num_entries") <= limit)
      .withColumn("digest_ok",
        col("complete") && col("digest_rederived") === col("range_digest"))
      .withColumn("result_hash", seal(
        col("query_id"), col("min_block"), col("max_block"), col("num_entries"),
        col("nft_ids"), col("range_digest"), col("proving_block_hash"),
        col("block_db_root")))
      .withColumn("verified", col("digest_ok") && col("min_block") <= col("max_block"))
  }

  // ------------------------------------------------------------ §3.3 QueryERC20
  /** QueryERC20: Σ_b rate·balance(user, b)/total_supply over the query
    * range clamped to the DB bounds (P7), U256 arithmetic with
    * overflow/div-zero abort (F7), absent-user blocks contribute 0 but
    * still count (P4 non-membership semantics), and the range must be
    * gap-free (A6 contiguity). One row out: the U256 sum + verdicts.
    */
  def queryErc20(entries: DataFrame, contract: Array[Byte], slot: Int, user: Array[Byte],
      rate: BigInteger, totalSupply: BigInteger, minB: Long, maxB: Long): DataFrame =
    erc20Result(erc20PerBlock(entries, contract, slot, user, rate, totalSupply, minB, maxB))

  /** the per-block reward spine of QueryERC20 — clamp (P7), per-block
    * user balance with absent⇒0 (P4), codegen'd U256 reward (F7). One
    * row per in-range block: (block_number, reward). These are the
    * per-IVC-step contributions the proof tree exposes at each node
    * (query_erc20/block/full_node.rs) before the root sums them. */
  def erc20PerBlock(entries: DataFrame, contract: Array[Byte], slot: Int, user: Array[Byte],
      rate: BigInteger, totalSupply: BigInteger, minB: Long, maxB: Long): DataFrame = {
    // P7 (clamp the query range to what the DB holds) needs no bounds
    // side-scan: every scoped row lies inside the DB bounds, so the raw
    // range selects exactly the clamped range's rows — one scan of the
    // fact, as in [[erc20Batch]]
    val blocks = entries
      .filter(col("contract") === lit(contract) && col("mapping_slot") === slot &&
        col("block_number").between(minB, maxB))
    // P4: per block, the user's balance or 0 when absent
    blocks
      .groupBy("block_number")
      .agg(max(when(col("mapping_key") === lit(Bytes.leftPad32(user)), col("value"))).as("balance"))
      .withColumn("balance", coalesce(col("balance"), lit(U256.toBytes32(BigInteger.ZERO))))
      .withColumn("reward",
        u256MulDiv(lit(U256.toBytes32(rate)), col("balance"), lit(U256.toBytes32(totalSupply))))
  }

  /** fold of [[erc20PerBlock]] to the single result row (A6 U256 sum
    * with overflow abort + contiguity verdict). */
  def erc20Result(perBlock: DataFrame): DataFrame =
    perBlock.agg(
      count(lit(1)).as("n_blocks"),
      min("block_number").as("range_min"),
      max("block_number").as("range_max"),
      Aggregators.u256Sum(col("reward")).as("result"))
      .withColumn("gap_free", col("n_blocks") === col("range_max") - col("range_min") + 1)
}
