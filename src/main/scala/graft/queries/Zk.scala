package graft.queries

import java.math.BigInteger

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.pipeline.{Fixtures, FixtureStore, ZkPipeline}

/** The reference's own query surface (SURVEY §3), run over the
  * deterministic reference-shaped fixtures (FIXTURES.md §A) — these
  * exercise the commitment aggregators (A2/A3/A4), the constraint
  * joins (J1/J2/J3-style binding, W3 sequencing) and the two fixed
  * query plans (Query2 / QueryERC20).
  *
  * Oracle strategy: the crypto columns (keccak/Poseidon/EcGFp5/U256
  * commitments) are not SQL-expressible — those stay in rows-only
  * queries whose bit-level gate is `ZkPipelineSpec`'s pure-kernel
  * golden recomputation (the reference's own native-vs-circuit
  * strategy). But the RELATIONAL SPINE of both reference query plans
  * (filter → per-key block-count → having → sort → limit;
  * clamp → per-block max → gap-free sum) IS plain SQL, so those
  * queries carry full DuckDB oracles over the pure-Scala ground-truth
  * parquet [[FixtureStore]] materializes — the driver independently
  * recomputes the spine from input data neither engine derived from
  * the other.
  */
object Zk {

  private val cfg = FixtureStore.cfg

  // ground-truth relations + literals for the oracle SQL
  private def E = FixtureStore.entriesPq
  private def H = FixtureStore.headersPq
  private val b0 = cfg.firstBlock
  private val b1 = cfg.firstBlock + cfg.nBlocks - 1

  val all: Seq[QueryDef] = Seq(

    // ERC20 revelation record (§3.3 step 4): clamped range + single
    // U256 result bound to the block DB. Fully oracled: DuckDB
    // recomputes the relational spine (clamp → per-block max →
    // floor-div reward → gap-free sum) from the ground-truth entries,
    // and the two commitment bindings (proving header keccak, block-DB
    // Poseidon root) ride as sequential pure-kernel golden literals.
    QueryDef(
      "zk_query_erc20_revelation",
      (s, _) => {
        import graft.functions.GraftFunctions.u256ToDecimal
        FixtureStore.ensure(s)
        ZkPipeline.queryErc20Revelation(
          Fixtures.entries(s, cfg), Fixtures.headers(s, cfg),
          Fixtures.contractAddr(1), cfg.erc20Slot, Fixtures.userAddr(2),
          BigInteger.valueOf(7L), BigInteger.valueOf(1000L),
          cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50)
          .select(col("query_id"), col("min_block"), col("max_block"), col("n_blocks"),
            col("gap_free"), u256ToDecimal(col("result")).cast("double").as("result"),
            hex(col("proving_block_hash")).as("proving_block_hash"),
            hex(col("block_db_root")).as("block_db_root"))
      },
      Some(s"""WITH scoped AS (
              |  SELECT block_number, mapping_key, balance FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(1)}'
              |    AND mapping_slot = ${cfg.erc20Slot}),
              |bounds AS (SELECT min(block_number) AS db_min, max(block_number) AS db_max FROM scoped),
              |blocks AS (
              |  SELECT s.* FROM scoped s CROSS JOIN bounds b
              |  WHERE s.block_number >= greatest(${cfg.firstBlock - 50}, b.db_min)
              |    AND s.block_number <= least(${cfg.firstBlock + cfg.nBlocks + 50}, b.db_max)),
              |per_block AS (
              |  SELECT block_number,
              |    COALESCE(MAX(CASE WHEN mapping_key = '${FixtureStore.userPad32Hex(2)}'
              |                      THEN balance END), 0) AS bal
              |  FROM blocks GROUP BY block_number)
              |SELECT CAST(88 AS INTEGER) AS query_id,
              |  min(block_number) AS min_block, max(block_number) AS max_block,
              |  count(*) AS n_blocks,
              |  (count(*) = max(block_number) - min(block_number) + 1) AS gap_free,
              |  CAST(SUM((7 * bal) // 1000) AS DOUBLE) AS result,
              |  '${FixtureStore.goldenProvingBlockHashHex(cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50)}' AS proving_block_hash,
              |  '${FixtureStore.goldenBlockDbRootHex}' AS block_db_root
              |FROM per_block""".stripMargin),
    ),

    // storage DB build (§3.1 stages 1-5): per block×contract count,
    // additive digest, order-fixed merkle root. Oracled spine: per
    // block, the group/entry counts AND the distinct-digest /
    // distinct-root counts — the oracle predicts both distincts equal
    // the contract count (every group's content differs), so a
    // degenerate commitment (constant digest, content-independent
    // root) fails the hash, while the exact digest bytes stay pinned
    // by the golden specs.
    QueryDef(
      "zk_storage_db",
      (s, _) => {
        FixtureStore.ensure(s)
        ZkPipeline.storageDb(Fixtures.entries(s, cfg))
          .groupBy("block_number")
          .agg(count(lit(1)).as("n_contracts"), sum("n").as("n_entries"),
            countDistinct(hex(col("digest"))).as("n_distinct_digests"),
            countDistinct(hex(col("storage_root"))).as("n_distinct_roots"))
          .orderBy("block_number")
      },
      Some(s"""SELECT block_number, count(DISTINCT contract) AS n_contracts,
              |  count(*) AS n_entries,
              |  count(DISTINCT contract) AS n_distinct_digests,
              |  count(DISTINCT contract) AS n_distinct_roots
              |FROM $E GROUP BY block_number ORDER BY block_number""".stripMargin),
    ),

    // storage DB build at scale: 1M entries (1000 blocks × 1000 keys)
    // generated on the executors, full commitment aggregation (count +
    // digest + merkle root per block) — the ingest-throughput number.
    QueryDef(
      "zk_storage_db_scale",
      // the digest column MUST be consumed here, or Catalyst prunes
      // the per-entry EcGFp5 map_to_curve out of the benchmark
      (s, _) => ZkPipeline.storageDb(Fixtures.entriesScaled(s, nBlocks = 1000, keysPerBlock = 1000))
        .agg(count(lit(1)).as("n_groups"), sum("n").as("n_entries"),
          countDistinct(col("storage_root")).as("n_distinct_roots"),
          countDistinct(col("digest")).as("n_distinct_digests")),
      // fixture arithmetic + CONTENT DETERMINISM: every block carries
      // the identical (key, value) set, so all 1000 groups must land
      // on ONE digest and ONE root — any order/partition sensitivity
      // in the EcGFp5 sum or the Merkle fold fails this hash
      Some("""WITH ids AS (SELECT unnest(range(1000000)) AS id)
             |SELECT count(DISTINCT id // 1000) AS n_groups, count(*) AS n_entries,
             |  CAST(1 AS BIGINT) AS n_distinct_roots, CAST(1 AS BIGINT) AS n_distinct_digests
             |FROM ids""".stripMargin),
      headline = true,
    ),

    // the commitment pipeline's DECADE rung: 10M entries (10000 blocks
    // × 1000 keys) through the full per-entry Poseidon leaf hash +
    // EcGFp5 map_to_curve and the per-group digest/Merkle aggregation.
    // Same content-determinism contract as the 1M row, 10× the groups:
    // the digest sum is order/partition-free and the Merkle fold is
    // order-FIXED, so 10000 identical-content groups must still land
    // on exactly one distinct digest and one distinct root. Everything
    // is executor-born (spark.range) and map-side combined — the
    // shuffle carries one 100-ish-byte row per (block, contract)
    // group, never per entry, which is why the rung scales by CPU
    // only: per-entry wall is the crypto kernel, not data motion.
    QueryDef(
      "zk_storage_db_scale_10m",
      (s, _) => ZkPipeline.storageDb(Fixtures.entriesScaled(s, nBlocks = 10000, keysPerBlock = 1000))
        .agg(count(lit(1)).as("n_groups"), sum("n").as("n_entries"),
          countDistinct(col("storage_root")).as("n_distinct_roots"),
          countDistinct(col("digest")).as("n_distinct_digests")),
      Some("""WITH ids AS (SELECT unnest(range(10000000)) AS id)
             |SELECT count(DISTINCT id // 1000) AS n_groups, count(*) AS n_entries,
             |  CAST(1 AS BIGINT) AS n_distinct_roots, CAST(1 AS BIGINT) AS n_distinct_digests
             |FROM ids""".stripMargin),
      headline = true,
    ),

    // Query2 at scale: the NFT-enumeration plan over the same 1M-entry
    // synthetic storage table — filter → distinct → sort → limit with
    // the consistency checks; shows the fixed query shape survives a
    // 1000× fixture scale-up (SURVEY §7 deferred item).
    QueryDef(
      "zk_query2_scale",
      (s, _) => {
        val entries = Fixtures.entriesScaled(s, nBlocks = 1000, keysPerBlock = 1000)
        val contract = Fixtures.contractAddr(0)
        // scaled fixture assigns owners 1..20 per key; query owner 8
        val owner = graft.core.Bytes.beBytes(8L, 8)
        val (ids, checks) = ZkPipeline.query2(
          entries, contract, cfg.nftSlot, owner, minB = 100L, maxB = 1099L, limit = 5)
        ids.agg(count(lit(1)).as("n_ids"), min("nft_id").as("min_id"), max("nft_id").as("max_id"))
          .crossJoin(checks.select(col("n_qualified")))
      },
      // ownership is the portable key function [[Fixtures.scaledOwnerSql]],
      // so DuckDB re-derives the whole qualification spine over the
      // regenerated 1000-key universe (every key appears in every
      // block, so owner = 8 qualifies across the full range); the
      // EcGFp5 digest lives in zk_query2_scale_digest (rows-only)
      Some(s"""WITH ks AS (SELECT unnest(range(1000)) AS k),
              |own AS (SELECT k + 1 AS nft_id, ${Fixtures.scaledOwnerSql("k")} AS owner FROM ks),
              |q AS (SELECT nft_id FROM own WHERE owner = 8),
              |top AS (SELECT nft_id FROM q ORDER BY nft_id LIMIT 5)
              |SELECT (SELECT count(*) FROM top) AS n_ids,
              |  (SELECT min(nft_id) FROM top) AS min_id,
              |  (SELECT max(nft_id) FROM top) AS max_id,
              |  (SELECT count(*) FROM q) AS n_qualified""".stripMargin),
      headline = true,
    ),

    // the scale run's re-derived key digest. Oracled like
    // zk_query2_digest: DuckDB recomputes the qualified-key count from
    // the portable owner formula, and the digest literal is the
    // sequential pure-kernel fold over the same qualified keys
    // ([[FixtureStore.goldenScaleDigestHex]], via the Scala twin of
    // scaledOwnerSql) — a 1M-row distributed curve aggregation checked
    // byte-for-byte by the driver gate.
    QueryDef(
      "zk_query2_scale_digest",
      (s, _) => {
        val entries = Fixtures.entriesScaled(s, nBlocks = 1000, keysPerBlock = 1000)
        val (_, checks) = ZkPipeline.query2(
          entries, Fixtures.contractAddr(0), cfg.nftSlot,
          graft.core.Bytes.beBytes(8L, 8), minB = 100L, maxB = 1099L, limit = 5)
        checks.select(col("n_qualified"), hex(col("range_digest")).as("range_digest"))
      },
      Some(s"""WITH ks AS (SELECT unnest(range(1000)) AS k)
              |SELECT count(*) AS n_qualified,
              |  '${FixtureStore.goldenScaleDigestHex}' AS range_digest
              |FROM ks WHERE ${Fixtures.scaledOwnerSql("k")} = 8""".stripMargin),
    ),

    // ERC20 at scale: the reward-share plan (per-row codegen'd U256
    // rate*balance/total_supply, clamped gap-free range sum) over the
    // 1M-entry table — the U256MulDivExpr hot path at volume.
    QueryDef(
      "zk_erc20_scale",
      (s, _) => {
        import graft.functions.GraftFunctions.u256ToDecimal
        val entries = Fixtures.entriesScaled(s, nBlocks = 1000, keysPerBlock = 1000)
        ZkPipeline.queryErc20(
          entries, Fixtures.contractAddr(0), slot = 3,
          user = graft.core.Bytes.beBytes(42L, 8),
          // rate 700: balances are 1..20, so the per-block floor-div
          // reward is nonzero — a 0-sum would no longer pass silently
          rate = BigInteger.valueOf(700L), totalSupply = BigInteger.valueOf(1000L),
          minB = 100L, maxB = 1099L)
          .select(col("n_blocks"), col("range_min"), col("range_max"), col("gap_free"),
            u256ToDecimal(col("result")).cast("double").as("result"))
      },
      // user key 42 ⇒ key index 41; its balance is the portable owner
      // value, constant across blocks — the oracle replays the clamped
      // gap-free floor-div sum over the regenerated range
      Some(s"""WITH b AS (SELECT unnest(range(100, 1100)) AS block_number),
              |u AS (SELECT ${Fixtures.scaledOwnerSql("41")} AS bal)
              |SELECT count(*) AS n_blocks,
              |  min(block_number) AS range_min, max(block_number) AS range_max,
              |  (count(*) = max(block_number) - min(block_number) + 1) AS gap_free,
              |  CAST(sum((700 * (SELECT bal FROM u)) // 1000) AS DOUBLE) AS result
              |FROM b""".stripMargin),
      headline = true,
    ),

    // state DB at scale: 1000 blocks × 100 contracts × 10 keys = 1M
    // entries → 100k storage-DB groups → 100k codegen'd state leaves
    // folded into 1000 per-block roots — stage 7's shuffle + Merkle
    // aggregation at volume.
    QueryDef(
      "zk_state_db_scale",
      (s, _) => ZkPipeline.stateDb(ZkPipeline.storageDb(
        Fixtures.entriesScaled(s, nBlocks = 1000, keysPerBlock = 10, nContracts = 100)))
        .agg(count(lit(1)).as("n_blocks"), sum("n_contracts").as("n_leaves"),
          countDistinct(hex(col("state_root"))).as("n_distinct_roots")),
      // same determinism assertion one level up: 1000 blocks of
      // identical 100-contract content must fold to ONE state root
      // (this check caught a real fixture bug: double division made
      // "the same key" hash block-dependently — 21 roots, not 1)
      Some("""WITH ids AS (SELECT unnest(range(1000000)) AS id)
             |SELECT count(DISTINCT id // 1000) AS n_blocks,
             |  count(DISTINCT id // 10) AS n_leaves,
             |  CAST(1 AS BIGINT) AS n_distinct_roots
             |FROM ids""".stripMargin),
      headline = true,
    ),

    // state DB build (§3.1 stage 7). Oracled spine: per-block contract
    // counts plus the global distinct-state-root count — the oracle
    // predicts one unique root per block (roots are content-bound), so
    // a content-independent root fails the hash; exact root bytes stay
    // pinned by the golden specs.
    QueryDef(
      "zk_state_db",
      (s, _) => {
        FixtureStore.ensure(s)
        val sdb = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(s, cfg)))
        val g = sdb.agg(countDistinct(hex(col("state_root"))).as("n_distinct_roots"))
        sdb.select("block_number", "n_contracts")
          .crossJoin(broadcast(g))
          .orderBy("block_number")
      },
      Some(s"""WITH blocks AS (
              |  SELECT block_number, count(DISTINCT contract) AS n_contracts
              |  FROM $E GROUP BY block_number),
              |g AS (SELECT count(*) AS n_distinct_roots FROM blocks)
              |SELECT b.block_number, b.n_contracts, g.n_distinct_roots
              |FROM blocks b, g ORDER BY b.block_number""".stripMargin),
    ),

    // block DB rows (§3.1 stage 8): header binding + chain + sequencing
    // verdicts per block. Oracled: the chain/sequencing verdicts are
    // lag-window logic over the ground-truth headers — and chain_ok is
    // a genuine cross-check (Spark extracts the parent hash from the
    // RLP header bytes; the oracle uses the independently stored
    // parent_hash column).
    QueryDef(
      "zk_block_db",
      (s, _) => {
        FixtureStore.ensure(s)
        val sdb = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(s, cfg)))
        ZkPipeline.blockDb(sdb, Fixtures.headers(s, cfg))
          .select(col("block_number"), hex(col("block_hash")).as("block_hash"),
            col("chain_ok"), col("seq_ok"))
          .orderBy("block_number")
      },
      Some(s"""SELECT block_number, block_hash,
              |  COALESCE(parent_hash = lag(block_hash) OVER (ORDER BY block_number), TRUE) AS chain_ok,
              |  COALESCE(block_number = lag(block_number) OVER (ORDER BY block_number) + 1, TRUE) AS seq_ok
              |FROM $H ORDER BY block_number""".stripMargin),
    ),

    // the commitment columns zk_block_db no longer carries. Oracled:
    // per-block Poseidon state roots + block leaf hashes are
    // deterministic fixture functions, so the oracle carries the
    // sequential pure-kernel goldens ([[FixtureStore.goldenCommitRows]])
    // as a VALUES relation — the driver gate hash-checks every
    // distributed commitment byte against the independent fold.
    QueryDef(
      "zk_block_db_commit",
      (s, _) => {
        FixtureStore.ensure(s)
        val sdb = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(s, cfg)))
        ZkPipeline.blockDb(sdb, Fixtures.headers(s, cfg))
          .select(col("block_number"), hex(col("state_root")).as("state_root"),
            hex(col("leaf_hash")).as("leaf_hash"))
          .orderBy("block_number")
      },
      Some {
        val rows = FixtureStore.goldenCommitRows
          .map { case (b, sr, lh) => s"($b, '$sr', '$lh')" }.mkString(",\n  ")
        s"""SELECT CAST(block_number AS BIGINT) AS block_number, state_root, leaf_hash
           |FROM (VALUES
           |  $rows) AS t(block_number, state_root, leaf_hash)
           |ORDER BY block_number""".stripMargin
      },
    ),

    // §3.1 stages 2-3: LengthExtract (simple-slot proof walk) feeding
    // J1 LengthMatch — count of mapping entries vs the proven length.
    // Oracled: n and declared_length must both equal the ground-truth
    // group count — a real cross-check, because Spark derives
    // declared_length from walking the simple-slot MPT proof while the
    // oracle recounts the raw entries.
    QueryDef(
      "zk_length_match",
      (s, _) => {
        FixtureStore.ensure(s)
        val sdb = ZkPipeline.storageDb(Fixtures.entries(s, cfg))
        val lengths = ZkPipeline.lengthExtract(Fixtures.lengthProofs(s, cfg)).drop("mpt_root")
        ZkPipeline.lengthMatch(sdb, lengths)
          .select(col("block_number"), hex(col("contract")).as("contract"),
            col("n"), col("declared_length"), col("length_ok"))
          .orderBy("block_number", "contract")
      },
      Some(s"""SELECT block_number, contract, count(*) AS n,
              |  count(*) AS declared_length, TRUE AS length_ok
              |FROM $E GROUP BY block_number, contract
              |ORDER BY block_number, contract""".stripMargin),
    ),

    // J3 BlockLinking (§3.1 stage 6): account proof verified against
    // the header's state root; storage root bound to the account leaf.
    // Oracled on the join's relational shape: exactly one verdict row
    // per ground-truth (block, contract) pair, all verdicts true (the
    // crypto inside each verdict — account-proof walk vs the header's
    // embedded state root — is golden-checked in ZkPipelineSpec).
    QueryDef(
      "zk_block_linking",
      (s, _) => {
        FixtureStore.ensure(s)
        val sroots = Fixtures.storageProofs(s, cfg)
          .select("block_number", "contract", "mpt_root").distinct()
        ZkPipeline.blockLinking(Fixtures.accountProofs(s, cfg), Fixtures.headers(s, cfg), sroots)
          .select(col("block_number"), hex(col("contract")).as("contract"),
            col("header_root_ok"), col("storage_root_ok"))
          .orderBy("block_number", "contract")
      },
      Some(s"""SELECT DISTINCT block_number, contract,
              |  TRUE AS header_root_ok, TRUE AS storage_root_ok
              |FROM $E ORDER BY block_number, contract""".stripMargin),
    ),

    // S1/S2 (ingest): EIP-1186-shaped proof scan + full MPT re-verify
    // per entry (keccak linkage, nibble path, value extraction).
    // Oracled: one proof per ground-truth entry, every MPT walk valid.
    QueryDef(
      "zk_mpt_explode",
      // §2.9 generator explode_mpt_proof: one row per trie node of
      // every fixture proof — level, kind (branch / extension / leaf
      // from RLP arity + hex-prefix terminator), size, keccak
      // identity, and the level-0 root binding. The per-node stream is
      // the operator; the registry row aggregates its STRUCTURAL
      // INVARIANTS per proof, keyed by the fixture-relation key the
      // oracle knows (mapping_key): level-0 node is the committed
      // root, levels are contiguous 0..depth, every node's RLP arity
      // is branch(17) or leaf/extension(2), exactly one terminal leaf
      // sits at max depth, and the walk is multi-node. A malformed
      // explode (wrong arity typing, missed level, dangling leaf)
      // flips a verdict and fails the driver hash.
      (s, _) => {
        FixtureStore.ensure(s)
        import graft.functions.GraftFunctions
        Fixtures.storageProofs(s, cfg)
          .select(col("block_number"), hex(col("mapping_key")).as("mapping_key"), col("mpt_root"),
            explode(GraftFunctions.explodeMptProof(col("nodes"))).as("nd"))
          .groupBy("block_number", "mapping_key")
          .agg(
            expr("bool_and(nd.level != 0 OR nd.node_hash = mpt_root)").as("root_ok"),
            (min(col("nd.level")) === 0 &&
              max(col("nd.level")) === count(lit(1)) - 1 &&
              countDistinct(col("nd.level")) === count(lit(1))).as("levels_ok"),
            expr("bool_and(nd.n_items = 17 OR nd.n_items = 2)").as("kinds_ok"),
            (sum(when(col("nd.node_type") === "leaf", 1L).otherwise(0L)) === 1 &&
              max(when(col("nd.node_type") === "leaf", col("nd.level"))) === max(col("nd.level"))).as("leaf_ok"),
            (count(lit(1)) >= 2).as("multi_node"))
          .orderBy("block_number", "mapping_key")
      },
      Some(s"""SELECT block_number, mapping_key, TRUE AS root_ok, TRUE AS levels_ok,
              |  TRUE AS kinds_ok, TRUE AS leaf_ok, TRUE AS multi_node
              |FROM $E ORDER BY block_number, mapping_key""".stripMargin),
    ),

    QueryDef(
      "zk_mpt_verify",
      (s, _) => {
        FixtureStore.ensure(s)
        ZkPipeline.verifyStorageProofs(Fixtures.storageProofs(s, cfg))
          .groupBy("block_number", "contract")
          .agg(count(lit(1)).as("n_proofs"),
            sum(when(col("proof_ok"), 1L).otherwise(0L)).as("n_valid"))
          .select(col("block_number"), hex(col("contract")).as("contract"), col("n_proofs"), col("n_valid"))
          .orderBy("block_number", "contract")
      },
      Some(s"""SELECT block_number, contract, count(*) AS n_proofs,
              |  CAST(count(*) AS BIGINT) AS n_valid
              |FROM $E GROUP BY block_number, contract
              |ORDER BY block_number, contract""".stripMargin),
    ),

    // block-DB head (J4's join target): bounds + global chain/
    // sequencing verdicts in one row. Oracled against the ground-truth
    // headers; the Merkle root moved to zk_block_db_root (rows-only).
    QueryDef(
      "zk_block_db_head",
      (s, _) => {
        FixtureStore.ensure(s)
        val sdb = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(s, cfg)))
        ZkPipeline.blockDb(sdb, Fixtures.headers(s, cfg))
          .agg(min("block_number").as("first_block"), max("block_number").as("last_block"),
            count(lit(1)).as("n_blocks"),
            expr("bool_and(chain_ok)").as("all_chain_ok"),
            expr("bool_and(seq_ok)").as("all_seq_ok"))
      },
      Some(s"""WITH bd AS (
              |  SELECT block_number,
              |    COALESCE(parent_hash = lag(block_hash) OVER (ORDER BY block_number), TRUE) AS chain_ok,
              |    COALESCE(block_number = lag(block_number) OVER (ORDER BY block_number) + 1, TRUE) AS seq_ok
              |  FROM $H)
              |SELECT min(block_number) AS first_block, max(block_number) AS last_block,
              |  count(*) AS n_blocks, bool_and(chain_ok) AS all_chain_ok,
              |  bool_and(seq_ok) AS all_seq_ok
              |FROM bd""".stripMargin),
    ),

    // the block-DB commitment root (J4's other half). Oracled: the
    // order-fixed Merkle fold is a deterministic fixture function —
    // the oracle pairs the recomputed block count with the sequential
    // pure-kernel golden root literal, so the distributed fold's exact
    // bytes pass through the driver gate.
    QueryDef(
      "zk_block_db_root",
      (s, _) => {
        FixtureStore.ensure(s)
        val sdb = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(s, cfg)))
        ZkPipeline.blockDbHead(ZkPipeline.blockDb(sdb, Fixtures.headers(s, cfg)))
          .select(col("n_blocks"), hex(col("root")).as("root"))
      },
      Some(s"""SELECT count(*) AS n_blocks,
              |  '${FixtureStore.goldenBlockDbRootHex}' AS root
              |FROM $H""".stripMargin),
    ),

    // Query2 revelation checks (§3.2 step 4): the qualified-key count.
    // Oracled: DuckDB independently recomputes the filter → per-key
    // block-count → having spine over the ground-truth entries.
    QueryDef(
      "zk_query2_checks",
      (s, _) => {
        FixtureStore.ensure(s)
        val (_, checks) = ZkPipeline.query2(
          Fixtures.entries(s, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
          Fixtures.userAddr(0), cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
        checks.select(col("n_qualified"))
      },
      Some(s"""SELECT count(*) AS n_qualified FROM (
              |  SELECT nft_id FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(0)}'
              |    AND mapping_slot = ${cfg.nftSlot}
              |    AND block_number BETWEEN $b0 AND $b1
              |    AND value = '${FixtureStore.userPad32Hex(0)}'
              |  GROUP BY nft_id
              |  HAVING count(DISTINCT block_number) = ${cfg.nBlocks})""".stripMargin),
    ),

    // the re-derived key digest the revelation pins to the aggregate.
    // Oracled: the digest is a deterministic function of the fixture,
    // so the oracle carries the SEQUENTIAL pure-kernel fold
    // ([[FixtureStore.goldenQuery2DigestHex]]) as a literal next to
    // the independently recomputed count spine — the driver gate now
    // hash-checks the distributed EcGFp5 udaf's bytes, not just the
    // local spec.
    QueryDef(
      "zk_query2_digest",
      (s, _) => {
        FixtureStore.ensure(s)
        val (_, checks) = ZkPipeline.query2(
          Fixtures.entries(s, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
          Fixtures.userAddr(0), cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
        checks.select(col("n_qualified"), hex(col("range_digest")).as("range_digest"))
      },
      Some(s"""SELECT count(*) AS n_qualified,
              |  '${FixtureStore.goldenQuery2DigestHex}' AS range_digest
              |FROM (
              |  SELECT nft_id FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(0)}'
              |    AND mapping_slot = ${cfg.nftSlot}
              |    AND block_number BETWEEN $b0 AND $b1
              |    AND value = '${FixtureStore.userPad32Hex(0)}'
              |  GROUP BY nft_id
              |  HAVING count(DISTINCT block_number) = ${cfg.nBlocks})""".stripMargin),
    ),

    // Query2 (§3.2): user 0's sorted distinct NFT ids over the full
    // block range, LIMIT 5 — the reference e2e expects ids 1..5.
    // Oracled end-to-end: filter → all-blocks qualification → sort →
    // limit, independently recomputed by DuckDB from ground truth.
    QueryDef(
      "zk_query2",
      (s, _) => {
        FixtureStore.ensure(s)
        val (ids, _) = ZkPipeline.query2(
          Fixtures.entries(s, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
          Fixtures.userAddr(0), cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
        ids
      },
      Some(s"""SELECT nft_id FROM $E
              |WHERE contract = '${FixtureStore.contractHex(0)}'
              |  AND mapping_slot = ${cfg.nftSlot}
              |  AND block_number BETWEEN $b0 AND $b1
              |  AND value = '${FixtureStore.userPad32Hex(0)}'
              |GROUP BY nft_id
              |HAVING count(DISTINCT block_number) = ${cfg.nBlocks}
              |ORDER BY nft_id LIMIT 5""".stripMargin),
      headline = true,
    ),

    // Query2 revelation record (§3.2 step 4): the complete fixed-width
    // result vector (range, L zero-padded ids, digest, proving header
    // hash, block-DB root). Fully oracled: DuckDB recomputes the
    // relational spine (clamped range, qualified count, the sorted/
    // padded id vector) from ground truth; the three commitment
    // columns ride as sequential pure-kernel golden literals.
    QueryDef(
      "zk_query2_revelation",
      (s, _) => {
        FixtureStore.ensure(s)
        ZkPipeline.query2Revelation(
          Fixtures.entries(s, cfg), Fixtures.headers(s, cfg),
          Fixtures.contractAddr(0), cfg.nftSlot, Fixtures.userAddr(0),
          cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
          .select(col("query_id"), col("min_block"), col("max_block"), col("num_entries"),
            // fixed-width id vector flattened to a scalar: the driver's
            // rows-only check hashes values and cannot sort array cells
            concat_ws("/", col("nft_ids")).as("nft_ids"),
            hex(col("range_digest")).as("range_digest"),
            hex(col("proving_block_hash")).as("proving_block_hash"),
            hex(col("block_db_root")).as("block_db_root"))
      },
      Some(s"""WITH q AS (
              |  SELECT nft_id FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(0)}'
              |    AND mapping_slot = ${cfg.nftSlot}
              |    AND block_number BETWEEN $b0 AND $b1
              |    AND value = '${FixtureStore.userPad32Hex(0)}'
              |  GROUP BY nft_id
              |  HAVING count(DISTINCT block_number) = ${cfg.nBlocks}),
              |top AS (SELECT nft_id FROM q ORDER BY nft_id LIMIT 5)
              |SELECT CAST(67 AS INTEGER) AS query_id,
              |  greatest($b0, (SELECT min(block_number) FROM $H)) AS min_block,
              |  least($b1, (SELECT max(block_number) FROM $H)) AS max_block,
              |  (SELECT count(*) FROM q) AS num_entries,
              |  CASE WHEN (SELECT count(*) FROM top) = 0 THEN '0/0/0/0/0'
              |       ELSE (SELECT string_agg(CAST(nft_id AS VARCHAR), '/' ORDER BY nft_id)
              |               || repeat('/0', 5 - (SELECT count(*) FROM top)) FROM top)
              |  END AS nft_ids,
              |  '${FixtureStore.goldenQuery2DigestHex}' AS range_digest,
              |  '${FixtureStore.goldenProvingBlockHashHex(b0, b1)}' AS proving_block_hash,
              |  '${FixtureStore.goldenBlockDbRootHex}' AS block_db_root""".stripMargin),
    ),

    // BATCHED revelation serving: six Query2 requests (different
    // owners, different/partial ranges, one with no qualifying id)
    // answered in ONE scan of the entries fact — the reference proves
    // one (owner, range) per invocation (api.rs:325-341); a deployment
    // answers many, and the broadcast-request/one-scan shape is the
    // ss7 batching discipline applied to the zk surface. The oracle
    // replays every request's consistency rule / top-5 / qualified
    // count from ground truth; ZkPipelineSpec additionally pins
    // batch ≡ the per-query query2 loop INCLUDING the A2 digest, and
    // PLANS_r8 carries the single-scan plan.
    QueryDef(
      "zk_query2_batch",
      (s, _) => {
        FixtureStore.ensure(s)
        val sess = s
        import sess.implicits._
        val reqs = Seq((0L, 0, b0, b1), (1L, 6, b0, b1), (2L, 7, b0 + 2, b1),
          (3L, 8, b0, b1 - 3), (4L, 1, b0, b1), (5L, 0, b0 + 5, b1))
        val qdf = reqs.map { case (qid, u, lo, hi) =>
          (qid, graft.core.Bytes.leftPad32(Fixtures.userAddr(u)), lo, hi)
        }.toDF("qid", "owner_pad", "min_b", "max_b")
        ZkPipeline.query2Batch(Fixtures.entries(s, cfg), qdf,
            Fixtures.contractAddr(0), cfg.nftSlot)
          .select(col("qid"), col("num_entries"),
            concat_ws("/", col("nft_ids")).as("nft_ids"))
      },
      Some(s"""WITH qs AS (SELECT * FROM (VALUES
              |  (0, '${FixtureStore.userPad32Hex(0)}', $b0, $b1),
              |  (1, '${FixtureStore.userPad32Hex(6)}', $b0, $b1),
              |  (2, '${FixtureStore.userPad32Hex(7)}', ${b0 + 2}, $b1),
              |  (3, '${FixtureStore.userPad32Hex(8)}', $b0, ${b1 - 3}),
              |  (4, '${FixtureStore.userPad32Hex(1)}', $b0, $b1),
              |  (5, '${FixtureStore.userPad32Hex(0)}', ${b0 + 5}, $b1)
              |  ) t(qid, owner, min_b, max_b)),
              |qual AS (
              |  SELECT qs.qid, qs.min_b, qs.max_b, e.nft_id
              |  FROM $E e JOIN qs ON e.value = qs.owner
              |   AND e.block_number BETWEEN qs.min_b AND qs.max_b
              |  WHERE e.contract = '${FixtureStore.contractHex(0)}'
              |    AND e.mapping_slot = ${cfg.nftSlot}
              |  GROUP BY qs.qid, qs.min_b, qs.max_b, e.nft_id
              |  HAVING count(DISTINCT e.block_number) = qs.max_b - qs.min_b + 1),
              |top AS (SELECT qid, nft_id,
              |        row_number() OVER (PARTITION BY qid ORDER BY nft_id) AS rk,
              |        count(*) OVER (PARTITION BY qid) AS nq FROM qual),
              |agg AS (SELECT qid, max(nq) AS num_entries,
              |        string_agg(CASE WHEN rk <= 5 THEN CAST(nft_id AS VARCHAR) END,
              |                   '/' ORDER BY nft_id) AS ids,
              |        count(CASE WHEN rk <= 5 THEN 1 END) AS k
              |        FROM top GROUP BY qid)
              |SELECT CAST(qs.qid AS BIGINT) AS qid,
              |  CAST(COALESCE(a.num_entries, 0) AS BIGINT) AS num_entries,
              |  CASE WHEN a.ids IS NULL THEN '0' || repeat('/0', 4)
              |       ELSE a.ids || repeat('/0', 5 - CAST(a.k AS INTEGER)) END AS nft_ids
              |FROM qs LEFT JOIN agg a USING (qid) ORDER BY qs.qid""".stripMargin),
      headline = true,
    ),

    // §3.2 step 5 — the result-attestation manifest (S6 analog of the
    // reference's Groth16 wrap): the revelation record re-verified and
    // sealed. digest_ok re-derives the aggregate EcGFp5 digest FROM
    // THE REVEALED IDS (an independent path from the distributed udaf
    // — the circuit's own revelation constraint), result_hash seals
    // every public field under keccak(manifestPreimage). Oracled:
    // DuckDB recomputes the relational spine, expects every verdict
    // TRUE, and checks the seal against the pure-kernel golden
    // recomputation ([[FixtureStore.goldenManifestHashHex]]).
    // Tamper-negative: ZkPipelineSpec proves a flipped id breaks
    // `verified` and moves the hash.
    QueryDef(
      "zk_revelation_manifest",
      (s, _) => {
        FixtureStore.ensure(s)
        val rev = ZkPipeline.query2Revelation(
          Fixtures.entries(s, cfg), Fixtures.headers(s, cfg),
          Fixtures.contractAddr(0), cfg.nftSlot, Fixtures.userAddr(0),
          cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
        ZkPipeline.attestQuery2(rev)
          .select(col("query_id"), col("min_block"), col("max_block"),
            col("num_entries"), concat_ws("/", col("nft_ids")).as("nft_ids"),
            col("complete"), col("digest_ok"), col("verified"),
            hex(col("result_hash")).as("result_hash"))
      },
      Some(s"""WITH q AS (
              |  SELECT nft_id FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(0)}'
              |    AND mapping_slot = ${cfg.nftSlot}
              |    AND block_number BETWEEN $b0 AND $b1
              |    AND value = '${FixtureStore.userPad32Hex(0)}'
              |  GROUP BY nft_id
              |  HAVING count(DISTINCT block_number) = ${cfg.nBlocks}),
              |top AS (SELECT nft_id FROM q ORDER BY nft_id LIMIT 5)
              |SELECT CAST(67 AS INTEGER) AS query_id,
              |  greatest($b0, (SELECT min(block_number) FROM $H)) AS min_block,
              |  least($b1, (SELECT max(block_number) FROM $H)) AS max_block,
              |  (SELECT count(*) FROM q) AS num_entries,
              |  CASE WHEN (SELECT count(*) FROM top) = 0 THEN '0/0/0/0/0'
              |       ELSE (SELECT string_agg(CAST(nft_id AS VARCHAR), '/' ORDER BY nft_id)
              |               || repeat('/0', 5 - (SELECT count(*) FROM top)) FROM top)
              |  END AS nft_ids,
              |  TRUE AS complete, TRUE AS digest_ok, TRUE AS verified,
              |  '${FixtureStore.goldenManifestHashHex()}' AS result_hash""".stripMargin),
    ),

    // QueryERC20 (§3.3): time-weighted reward share with U256 math,
    // range clamped to DB bounds (the query overshoots on both ends on
    // purpose to exercise P7). Oracled: the fixture balances fit
    // BIGINT, so DuckDB recomputes clamp → per-block max → floor-div
    // reward → gap-free sum exactly (`//` is floor division; both
    // operands positive, so it matches U256's truncating divide). The
    // result is rendered as double on both sides (values ≪ 2^53).
    QueryDef(
      "zk_query_erc20",
      (s, _) => {
        import graft.functions.GraftFunctions.u256ToDecimal
        FixtureStore.ensure(s)
        ZkPipeline.queryErc20(
          Fixtures.entries(s, cfg), Fixtures.contractAddr(1), cfg.erc20Slot,
          Fixtures.userAddr(2), rate = BigInteger.valueOf(7L), totalSupply = BigInteger.valueOf(1000L),
          minB = cfg.firstBlock - 50, maxB = cfg.firstBlock + cfg.nBlocks + 50)
          .select(col("n_blocks"), col("range_min"), col("range_max"), col("gap_free"),
            u256ToDecimal(col("result")).cast("double").as("result"))
      },
      Some(s"""WITH scoped AS (
              |  SELECT block_number, mapping_key, balance FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(1)}'
              |    AND mapping_slot = ${cfg.erc20Slot}),
              |bounds AS (SELECT min(block_number) AS db_min, max(block_number) AS db_max FROM scoped),
              |blocks AS (
              |  SELECT s.* FROM scoped s CROSS JOIN bounds b
              |  WHERE s.block_number >= greatest(${cfg.firstBlock - 50}, b.db_min)
              |    AND s.block_number <= least(${cfg.firstBlock + cfg.nBlocks + 50}, b.db_max)),
              |per_block AS (
              |  SELECT block_number,
              |    COALESCE(MAX(CASE WHEN mapping_key = '${FixtureStore.userPad32Hex(2)}'
              |                      THEN balance END), 0) AS bal
              |  FROM blocks GROUP BY block_number)
              |SELECT count(*) AS n_blocks,
              |  min(block_number) AS range_min, max(block_number) AS range_max,
              |  (count(*) = max(block_number) - min(block_number) + 1) AS gap_free,
              |  CAST(SUM((7 * bal) // 1000) AS DOUBLE) AS result
              |FROM per_block""".stripMargin),
      headline = true,
    ),

    // BATCHED ERC20 serving (§3.3 twin of zk_query2_batch): six
    // reward requests — full / partial / over-wide (clamped) ranges,
    // a non-holder (absent ⇒ 0 per block, blocks still count — P4),
    // and an empty range — answered in ONE scan of the entries fact.
    // The reference proves one (user, range) per invocation
    // (api.rs:325-341); batching is the deployment shape for both
    // query families. ZkPipelineSpec pins batch ≡ the per-query
    // queryErc20 loop field-for-field (U256 result bytes included)
    // and the single-fact-scan plan; the oracle replays every
    // request's clamp → per-block max → floor-div reward → gap-free
    // sum from ground truth.
    QueryDef(
      "zk_erc20_batch",
      (s, _) => {
        import graft.functions.GraftFunctions.u256ToDecimal
        FixtureStore.ensure(s)
        val sess = s
        import sess.implicits._
        val reqs = Seq((0L, 2, b0, b1), (1L, 5, b0 + 3, b1), (2L, 0, b0, b1 - 4),
          (3L, 9, b0, b1), (4L, 2, b1 + 100, b1 + 200), (5L, 3, b0 - 50, b1 + 50))
        val qdf = reqs.map { case (qid, u, lo, hi) =>
          (qid, graft.core.Bytes.leftPad32(Fixtures.userAddr(u)), lo, hi)
        }.toDF("qid", "user_pad", "min_b", "max_b")
        ZkPipeline.erc20Batch(Fixtures.entries(s, cfg), qdf,
            Fixtures.contractAddr(1), cfg.erc20Slot,
            rate = BigInteger.valueOf(7L), totalSupply = BigInteger.valueOf(1000L))
          .select(col("qid"), col("n_blocks"), col("range_min"), col("range_max"),
            col("gap_free"), u256ToDecimal(col("result")).cast("double").as("result"))
      },
      Some(s"""WITH qs AS (SELECT * FROM (VALUES
              |  (0, '${FixtureStore.userPad32Hex(2)}', $b0, $b1),
              |  (1, '${FixtureStore.userPad32Hex(5)}', ${b0 + 3}, $b1),
              |  (2, '${FixtureStore.userPad32Hex(0)}', $b0, ${b1 - 4}),
              |  (3, '${FixtureStore.userPad32Hex(9)}', $b0, $b1),
              |  (4, '${FixtureStore.userPad32Hex(2)}', ${b1 + 100}, ${b1 + 200}),
              |  (5, '${FixtureStore.userPad32Hex(3)}', ${b0 - 50}, ${b1 + 50})
              |  ) t(qid, user_pad, min_b, max_b)),
              |scoped AS (
              |  SELECT block_number, mapping_key, balance FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(1)}'
              |    AND mapping_slot = ${cfg.erc20Slot}),
              |per_block AS (
              |  SELECT qs.qid, s.block_number,
              |    COALESCE(MAX(CASE WHEN s.mapping_key = qs.user_pad
              |                      THEN s.balance END), 0) AS bal
              |  FROM scoped s JOIN qs ON s.block_number BETWEEN qs.min_b AND qs.max_b
              |  GROUP BY qs.qid, s.block_number),
              |agg AS (
              |  SELECT qid, count(*) AS n_blocks,
              |    min(block_number) AS range_min, max(block_number) AS range_max,
              |    (count(*) = max(block_number) - min(block_number) + 1) AS gap_free,
              |    CAST(SUM((7 * bal) // 1000) AS DOUBLE) AS result
              |  FROM per_block GROUP BY qid)
              |SELECT CAST(qs.qid AS BIGINT) AS qid,
              |  CAST(COALESCE(a.n_blocks, 0) AS BIGINT) AS n_blocks,
              |  a.range_min, a.range_max, a.gap_free,
              |  COALESCE(a.result, 0.0) AS result
              |FROM qs LEFT JOIN agg a USING (qid) ORDER BY qs.qid""".stripMargin),
      headline = true,
    ),

    // ERC20 attestation manifest (§3.3 step 5 / S6 twin of
    // zk_revelation_manifest): the revelation sealed under keccak with
    // the result re-derived from the revealed per-block rewards and
    // contiguity re-derived from the revealed block numbers. Oracled:
    // DuckDB recomputes the relational spine, expects every verdict
    // TRUE, and checks the seal against the pure-kernel golden
    // ([[FixtureStore.goldenErc20ManifestHashHex]]). Tamper-negative:
    // ZkPipelineSpec proves a flipped result byte breaks `verified`
    // and moves the hash.
    QueryDef(
      "zk_erc20_manifest",
      (s, _) => {
        import graft.functions.GraftFunctions.u256ToDecimal
        FixtureStore.ensure(s)
        val rev = ZkPipeline.queryErc20Revelation(
          Fixtures.entries(s, cfg), Fixtures.headers(s, cfg),
          Fixtures.contractAddr(1), cfg.erc20Slot, Fixtures.userAddr(2),
          BigInteger.valueOf(7L), BigInteger.valueOf(1000L),
          cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50)
        ZkPipeline.attestErc20(rev)
          .select(col("query_id"), col("min_block"), col("max_block"),
            col("n_blocks"), col("gap_free"),
            u256ToDecimal(col("result")).cast("double").as("result"),
            col("result_ok"), col("coverage_ok"), col("verified"),
            hex(col("result_hash")).as("result_hash"))
      },
      Some(s"""WITH scoped AS (
              |  SELECT block_number, mapping_key, balance FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(1)}'
              |    AND mapping_slot = ${cfg.erc20Slot}),
              |bounds AS (SELECT min(block_number) AS db_min, max(block_number) AS db_max FROM scoped),
              |blocks AS (
              |  SELECT s.* FROM scoped s CROSS JOIN bounds b
              |  WHERE s.block_number >= greatest(${cfg.firstBlock - 50}, b.db_min)
              |    AND s.block_number <= least(${cfg.firstBlock + cfg.nBlocks + 50}, b.db_max)),
              |per_block AS (
              |  SELECT block_number,
              |    COALESCE(MAX(CASE WHEN mapping_key = '${FixtureStore.userPad32Hex(2)}'
              |                      THEN balance END), 0) AS bal
              |  FROM blocks GROUP BY block_number)
              |SELECT CAST(88 AS INTEGER) AS query_id,
              |  min(block_number) AS min_block, max(block_number) AS max_block,
              |  count(*) AS n_blocks,
              |  (count(*) = max(block_number) - min(block_number) + 1) AS gap_free,
              |  CAST(SUM((7 * bal) // 1000) AS DOUBLE) AS result,
              |  TRUE AS result_ok, TRUE AS coverage_ok, TRUE AS verified,
              |  '${FixtureStore.goldenErc20ManifestHashHex(cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50)}' AS result_hash
              |FROM per_block""".stripMargin),
    ),

    // S1 live-shaped ingest: EIP-1186 eth_getProof dump → explicit-
    // schema JSON read → normalize → per-row MPT re-verification —
    // the reference's query_mpt_proof + verify_storage_proof path
    // (eth.rs:242-333) end-to-end from an external source format.
    // The dump is generated once (deterministic fixture) into tmp.
    QueryDef(
      "zk_ingest_rpc",
      (s, _) => {
        import graft.sources.Eip1186Source
        FixtureStore.ensure(s)
        // cache key: the dump writer's format and a content fingerprint
        // of the fixture proofs, so neither a writer change nor a
        // fixture change can serve a stale dump; the dump is built once
        // under target/ (the directory existing means it is whole)
        val tag = {
          val h = graft.core.Keccak.keccak256(
            (Eip1186Source.FixtureDumpFormat +: Fixtures.storageProofsSeq(cfg)
              .map(p => graft.core.Bytes.toHex(p.mpt_root)).sorted).mkString("|").getBytes("UTF-8"))
          graft.core.Bytes.toHex(h.take(8))
        }
        val dir = new java.io.File(s"target/rpc_dump_$tag").getAbsolutePath
        graft.core.Fs.buildOnce(java.nio.file.Paths.get(dir))(tmp =>
          Eip1186Source.writeFixtureDump(s, tmp.toString, cfg))
        val rows = ZkPipeline.verifyStorageProofs(
          Eip1186Source.toProofRows(Eip1186Source.read(s, dir)))
        rows.agg(
          count(lit(1)).as("n_proofs"),
          sum(when(col("proof_ok"), 1L).otherwise(0L)).as("n_verified"),
          sum(when(col("key_ok"), 1L).otherwise(0L)).as("n_key_ok"),
          countDistinct(col("block_number")).as("n_blocks"))
      },
      Some(s"""SELECT count(*) AS n_proofs,
              |  CAST(count(*) AS BIGINT) AS n_verified,
              |  CAST(count(*) AS BIGINT) AS n_key_ok,
              |  count(DISTINCT block_number) AS n_blocks
              |FROM $E""".stripMargin),
    ),

    // S1 LIVE ingest (eth.rs:242-333 `query_mpt_proof`): proofs pulled
    // over real HTTP JSON-RPC from a loopback fixture provider —
    // socket → retry → from_json parse → normalize → per-row MPT
    // re-verify, end-to-end. Same oracle as the dump path: one valid
    // proof per ground-truth entry.
    QueryDef(
      "zk_ingest_rpc_live",
      (s, _) => {
        import graft.sources.{FixtureRpcServer, RpcProofSource}
        FixtureStore.ensure(s)
        val srv = new FixtureRpcServer(cfg)
        val endpoint = srv.start()
        try {
          val requests = Fixtures.entries(s, cfg)
            .select("block_number", "contract", "mapping_slot", "mapping_key")
          // materialize the fetch while the loopback provider is up;
          // the rest of the plan continues from the checkpoint
          val fetched = RpcProofSource.fetch(requests, endpoint)
            .localCheckpoint(true)
          ZkPipeline.verifyStorageProofs(RpcProofSource.proofRows(fetched)).agg(
            count(lit(1)).as("n_proofs"),
            sum(when(col("proof_ok"), 1L).otherwise(0L)).as("n_verified"),
            sum(when(col("key_ok"), 1L).otherwise(0L)).as("n_key_ok"),
            countDistinct(col("block_number")).as("n_blocks"))
        } finally srv.stop()
      },
      Some(s"""SELECT count(*) AS n_proofs,
              |  CAST(count(*) AS BIGINT) AS n_verified,
              |  CAST(count(*) AS BIGINT) AS n_key_ok,
              |  count(DISTINCT block_number) AS n_blocks
              |FROM $E""".stripMargin),
    ),

    // the streaming Query2 MV's batch bootstrap (St handoff): per-NFT
    // block-coverage bitmask over the ingested history — the exact
    // initial state `Query2Mv.updatesFrom` seeds the stream with.
    // Oracled: DuckDB recomputes every mask with the same bit_or over
    // ground truth, so the MV family's ground truth is driver-verified
    // end to end, not only spec'd.
    QueryDef(
      "zk_mv_snapshot",
      (s, _) => {
        import s.implicits._
        FixtureStore.ensure(s)
        graft.streaming.Query2Mv.snapshotState(
          Fixtures.entries(s, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
          Fixtures.userAddr(0), b0, b1)
          .flatMap { case (id, mask) =>
            mask.indices.collect { case i if mask(i) != 0L => (id, i, mask(i)) } }
          .toDF("nft_id", "stripe", "mask")
          .orderBy("nft_id", "stripe")
      },
      Some(s"""SELECT nft_id,
              |  CAST((block_number - $b0) // 64 AS INTEGER) AS stripe,
              |  CAST(bit_or(CAST(1 AS BIGINT) << CAST((block_number - $b0) % 64 AS INTEGER)) AS BIGINT) AS mask
              |FROM $E
              |WHERE contract = '${FixtureStore.contractHex(0)}'
              |  AND mapping_slot = ${cfg.nftSlot}
              |  AND block_number BETWEEN $b0 AND $b1
              |  AND value = '${FixtureStore.userPad32Hex(0)}'
              |GROUP BY nft_id, stripe ORDER BY nft_id, stripe""".stripMargin),
    ),

    // the same MV bootstrap over a 200-block range — 4 striped lanes
    // per id, past any single-Long mask. The corpus is the portable
    // scaled fixture (owner = [[Fixtures.scaledOwnerSql]], constant
    // per key across blocks), so DuckDB regenerates the whole universe
    // and recomputes every lane: ids owned by user 8 must show full
    // coverage (-1 lanes + an 8-bit tail), nobody else appears.
    QueryDef(
      "zk_mv_wide_range",
      (s, _) => {
        import s.implicits._
        val entries = Fixtures.entriesScaled(s, nBlocks = 200, keysPerBlock = 50)
        graft.streaming.Query2Mv.snapshotState(
          entries, Fixtures.contractAddr(0), cfg.nftSlot,
          graft.core.Bytes.beBytes(8L, 8), 100L, 299L)
          .flatMap { case (id, mask) =>
            mask.indices.collect { case i if mask(i) != 0L => (id, i, mask(i)) } }
          .toDF("nft_id", "stripe", "mask")
          .orderBy("nft_id", "stripe")
      },
      // DuckDB's signed << overflow-checks at bit 63, so the oracle
      // builds each lane as UBIGINT and wraps to the two's-complement
      // BIGINT Spark's Long mask carries
      Some(s"""WITH ks AS (SELECT unnest(range(50)) AS k),
              |own AS (SELECT k + 1 AS nft_id FROM ks WHERE ${Fixtures.scaledOwnerSql("k")} = 8),
              |b AS (SELECT unnest(range(200)) AS off),
              |m AS (SELECT nft_id, CAST(off // 64 AS INTEGER) AS stripe,
              |  bit_or(CAST(1 AS UBIGINT) << CAST(off % 64 AS INTEGER)) AS u
              |  FROM own CROSS JOIN b GROUP BY nft_id, stripe)
              |SELECT nft_id, stripe,
              |  CAST(CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
              |    THEN CAST(u AS HUGEINT) - 18446744073709551616
              |    ELSE CAST(u AS HUGEINT) END AS BIGINT) AS mask
              |FROM m ORDER BY nft_id, stripe""".stripMargin),
    ),

    // the streaming ERC20 MV's batch bootstrap: (seen, user_seen)
    // coverage masks + the running U256 reward sum the stream
    // continues from. Oracled: DuckDB rebuilds both masks and the
    // floor-div reward sum from ground-truth balances.
    QueryDef(
      "zk_mv_erc20_snapshot",
      (s, _) => {
        import s.implicits._
        import graft.functions.GraftFunctions.u256ToDecimal
        FixtureStore.ensure(s)
        graft.streaming.Erc20Mv.snapshotState(
          Fixtures.entries(s, cfg), Fixtures.contractAddr(1), cfg.erc20Slot,
          Fixtures.userAddr(2), BigInteger.valueOf(7L), BigInteger.valueOf(1000L),
          b0, b1)
          .flatMap { case (k, st) =>
            st.seen.indices.collect {
              case i if st.seen(i) != 0L || st.userSeen(i) != 0L =>
                (k, i, st.seen(i), st.userSeen(i), st.sum) } }
          .toDF("k", "stripe", "seen", "user_seen", "sum_bytes")
          .select(col("k"), col("stripe"), col("seen"), col("user_seen"),
            u256ToDecimal(col("sum_bytes")).cast("double").as("sum_reward"))
          .orderBy("stripe")
      },
      Some(s"""WITH scoped AS (
              |  SELECT block_number, mapping_key, balance FROM $E
              |  WHERE contract = '${FixtureStore.contractHex(1)}'
              |    AND mapping_slot = ${cfg.erc20Slot}
              |    AND block_number BETWEEN $b0 AND $b1)
              |SELECT 0 AS k,
              |  CAST((block_number - $b0) // 64 AS INTEGER) AS stripe,
              |  CAST(bit_or(CAST(1 AS BIGINT) << CAST((block_number - $b0) % 64 AS INTEGER)) AS BIGINT) AS seen,
              |  CAST(COALESCE(bit_or(CASE WHEN mapping_key = '${FixtureStore.userPad32Hex(2)}'
              |    THEN CAST(1 AS BIGINT) << CAST((block_number - $b0) % 64 AS INTEGER) END), 0) AS BIGINT) AS user_seen,
              |  CAST((SELECT COALESCE(SUM(CASE WHEN mapping_key = '${FixtureStore.userPad32Hex(2)}'
              |    THEN (7 * balance) // 1000 END), 0) FROM scoped) AS DOUBLE) AS sum_reward
              |FROM scoped GROUP BY stripe ORDER BY stripe""".stripMargin),
    ),
  )
}
