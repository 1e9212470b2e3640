package graft.pipeline

import java.math.BigInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Bytes, Commitments, U256}

/** Golden cross-check of the Spark pipeline against driver-side
  * pure-kernel recomputation (the reference's native-vs-circuit test
  * strategy, SURVEY §5): every commitment the distributed plan
  * produces must byte-match the sequential fold. */
class ZkPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val cfg = Fixtures.Cfg()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("zk-pipeline-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("storage DB: distributed count/digest/root match sequential goldens") {
    val got = ZkPipeline.storageDb(Fixtures.entries(spark, cfg))
      .collect()
      .map(r => (r.getAs[Long]("block_number"), Bytes.toHex(r.getAs[Array[Byte]]("contract"))) ->
        ((r.getAs[Long]("n"), r.getAs[Array[Byte]]("digest"), r.getAs[Array[Byte]]("storage_root"))))
      .toMap
    val want = Fixtures.goldenStorageDb(cfg)
    assert(got.keySet == want.keySet)
    want.foreach { case (k, (n, digest, root)) =>
      val (gn, gd, gr) = got(k)
      assert(gn == n, s"count at $k")
      assert(Bytes.toHex(gd) == Bytes.toHex(digest), s"digest at $k")
      assert(Bytes.toHex(gr) == Bytes.toHex(root), s"root at $k")
    }
  }

  test("odd-shaped fixtures (11 ids, 7 holders, odd merkle levels) still match goldens") {
    val odd = Fixtures.Cfg(nBlocks = 3, nNftIds = 11, nHolders = 7)
    val got = ZkPipeline.storageDb(Fixtures.entries(spark, odd))
      .collect()
      .map(r => (r.getAs[Long]("block_number"), Bytes.toHex(r.getAs[Array[Byte]]("contract"))) ->
        Bytes.toHex(r.getAs[Array[Byte]]("storage_root"))).toMap
    val want = Fixtures.goldenStorageDb(odd).map { case (k, (_, _, root)) => k -> Bytes.toHex(root) }
    assert(got == want)
    val stateGot = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(spark, odd)))
      .collect().map(r => r.getAs[Long]("block_number") -> Bytes.toHex(r.getAs[Array[Byte]]("state_root"))).toMap
    assert(stateGot == Fixtures.goldenStateDb(odd).map { case (k, v) => k -> Bytes.toHex(v) })
  }

  test("digest is merge-order independent (A2 commutativity under repartition)") {
    val base = ZkPipeline.storageDb(Fixtures.entries(spark, cfg))
    val shuffled = ZkPipeline.storageDb(Fixtures.entries(spark, cfg).repartition(13, col("mapping_key")))
    val a = base.select("block_number", "contract", "digest").collect()
      .map(r => (r.getLong(0), Bytes.toHex(r.getAs[Array[Byte]](1))) -> Bytes.toHex(r.getAs[Array[Byte]](2))).toMap
    val b = shuffled.select("block_number", "contract", "digest").collect()
      .map(r => (r.getLong(0), Bytes.toHex(r.getAs[Array[Byte]](1))) -> Bytes.toHex(r.getAs[Array[Byte]](2))).toMap
    assert(a == b)
  }

  test("state DB roots match goldens") {
    val got = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(spark, cfg)))
      .collect().map(r => r.getAs[Long]("block_number") -> Bytes.toHex(r.getAs[Array[Byte]]("state_root"))).toMap
    val want = Fixtures.goldenStateDb(cfg).map { case (k, v) => k -> Bytes.toHex(v) }
    assert(got == want)
  }

  test("block DB: chain linkage, sequencing all hold; root matches golden") {
    val sdb = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(spark, cfg)))
    val bdb = ZkPipeline.blockDb(sdb, Fixtures.headers(spark, cfg))
    val rows = bdb.orderBy("block_number").collect()
    assert(rows.forall(_.getAs[Boolean]("chain_ok")), "parent-hash chain")
    assert(rows.forall(_.getAs[Boolean]("seq_ok")), "block sequencing")
    val (goldenLeaves, goldenRoot) = Fixtures.goldenBlockDb(cfg)
    assert(rows.map(r => Bytes.toHex(r.getAs[Array[Byte]]("leaf_hash"))).toSeq ==
      goldenLeaves.map(Bytes.toHex))
    val head = ZkPipeline.blockDbHead(bdb).collect()(0)
    assert(Bytes.toHex(head.getAs[Array[Byte]]("root")) == Bytes.toHex(goldenRoot))
    assert(head.getAs[Long]("first_block") == cfg.firstBlock)
  }

  test("block DB sequencing check catches a gap (St2 negative)") {
    val sdb = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(spark, cfg)))
    val gappy = Fixtures.headers(spark, cfg).filter(col("block_number") =!= (cfg.firstBlock + 3))
    val bdb = ZkPipeline.blockDb(sdb.filter(col("block_number") =!= (cfg.firstBlock + 3)), gappy)
    assert(bdb.filter(!col("seq_ok")).count() == 1)
  }

  test("J2 digest reconciliation catches a mutated entry (negative)") {
    val clean = ZkPipeline.storageDb(Fixtures.entries(spark, cfg))
    // flip one value byte on one block of contract 0
    val tampered = Fixtures.entries(spark, cfg)
      .withColumn("value",
        when(col("block_number") === cfg.firstBlock && col("mapping_key") === lit(Bytes.leftPad32(Bytes.beBytes(1L, 4))),
          lit(Bytes.leftPad32(Array[Byte](0x7f)))).otherwise(col("value")))
    val rec = ZkPipeline.digestEqual(clean, ZkPipeline.storageDb(tampered))
    assert(rec.filter(!col("digest_ok")).count() == 1)
    assert(rec.filter(col("digest_ok")).count() == rec.count() - 1)
  }

  test("S2: storage proofs verify; a tampered claimed value is flagged") {
    val proofs = Fixtures.storageProofs(spark, cfg)
    val ok = ZkPipeline.verifyStorageProofs(proofs)
    assert(ok.filter(!col("proof_ok")).count() == 0)
    assert(ok.count() == Fixtures.entriesSeq(cfg).size.toLong)
    // claim a different value than the trie proves -> flagged
    val tampered = proofs.withColumn("value",
      when(col("block_number") === cfg.firstBlock && col("mapping_key") === lit(Bytes.leftPad32(Bytes.beBytes(2L, 4))),
        lit(Bytes.leftPad32(Array[Byte](0x55)))).otherwise(col("value")))
    assert(ZkPipeline.verifyStorageProofs(tampered).filter(!col("proof_ok")).count() == 1)
  }

  test("J3 block linking: account proofs bind storage roots to headers; tampering is flagged") {
    val sroots = Fixtures.storageProofs(spark, cfg)
      .select("block_number", "contract", "mpt_root").distinct()
    val linked = ZkPipeline.blockLinking(
      Fixtures.accountProofs(spark, cfg), Fixtures.headers(spark, cfg), sroots)
    assert(linked.count() == cfg.nBlocks * 2L)
    assert(linked.filter(!col("header_root_ok") || !col("storage_root_ok")).count() == 0)
    // swap one block's claimed storage root -> storage_root_ok flips
    val tampered = sroots.withColumn("mpt_root",
      when(col("block_number") === cfg.firstBlock && col("contract") === lit(Fixtures.contractAddr(0)),
        lit(new Array[Byte](32))).otherwise(col("mpt_root")))
    val bad = ZkPipeline.blockLinking(
      Fixtures.accountProofs(spark, cfg), Fixtures.headers(spark, cfg), tampered)
    assert(bad.filter(!col("storage_root_ok")).count() == 1)
  }

  test("LengthExtract (proof-backed) feeds J1: counts match the proven slot value") {
    val sdb = ZkPipeline.storageDb(Fixtures.entries(spark, cfg))
    val lengths = ZkPipeline.lengthExtract(Fixtures.lengthProofs(spark, cfg))
    assert(lengths.filter(col("declared_length").isNull).count() == 0)
    val matched = ZkPipeline.lengthMatch(sdb, lengths.drop("mpt_root"))
    assert(matched.filter(!col("length_ok")).count() == 0)
    // a mismatching declared length is caught
    val off = ZkPipeline.lengthMatch(sdb,
      lengths.drop("mpt_root").withColumn("declared_length", col("declared_length") + 1))
    assert(off.filter(!col("length_ok")).count() == off.count())
  }

  test("J1 length match verdict") {
    val s2 = spark
    import s2.implicits._
    val sdb = ZkPipeline.storageDb(Fixtures.entries(spark, cfg))
    val lengths = Fixtures.entriesSeq(cfg).groupBy(e => (e.block_number, Bytes.toHex(e.contract)))
      .map { case ((b, c), es) => (b, c, es.size.toLong) }.toSeq
      .toDF("block_number", "contract_hex", "declared_length")
    val withBin = lengths.withColumn("contract", unhex(col("contract_hex"))).drop("contract_hex")
    val ok = ZkPipeline.lengthMatch(sdb, withBin)
    assert(ok.filter(!col("length_ok")).count() == 0)
    val bad = ZkPipeline.lengthMatch(sdb, withBin.withColumn("declared_length", col("declared_length") + 1))
    assert(bad.filter(!col("length_ok")).count() == bad.count())
  }

  test("Query2: user 0 owns exactly ids 1..5 across the range; digest cross-check") {
    val (ids, checks) = ZkPipeline.query2(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
      Fixtures.userAddr(0), cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
    assert(ids.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val chk = checks.collect()(0)
    assert(chk.getAs[Long]("n_qualified") == 5L)
    // revelation re-derivation: Σ key-only digests over the witnessed ids
    val expected = (1 to 5).map(id => Commitments.keyOnlyDigest(Bytes.leftPad32(Bytes.beBytes(id.toLong, 4))))
      .foldLeft(Commitments.DigestIdentity)(Commitments.digestCombine)
    assert(Bytes.toHex(chk.getAs[Array[Byte]]("range_digest")) == Bytes.toHex(expected))
  }

  test("query2Batch: one-scan batch equals the per-query loop field-for-field, digest included") {
    val s2 = spark
    import s2.implicits._
    val b0 = cfg.firstBlock
    val b1 = cfg.firstBlock + cfg.nBlocks - 1
    // owners with full, partial, and empty result sets; overlapping
    // and clamped ranges — the per-request variety a serving batch has
    val reqs = Seq((0L, 0, b0, b1), (1L, 6, b0, b1), (2L, 7, b0 + 2, b1),
      (3L, 8, b0, b1 - 3), (4L, 1, b0, b1), (5L, 0, b0 + 5, b1))
    val qdf = reqs.map { case (qid, u, lo, hi) =>
      (qid, Bytes.leftPad32(Fixtures.userAddr(u)), lo, hi)
    }.toDF("qid", "owner_pad", "min_b", "max_b")
    val entries = Fixtures.entries(spark, cfg)
    val batch = ZkPipeline.query2Batch(entries, qdf, Fixtures.contractAddr(0), cfg.nftSlot)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getAs[scala.collection.Seq[Long]]("nft_ids").toSeq,
          Bytes.toHex(r.getAs[Array[Byte]]("range_digest"))))).toMap
    assert(batch.keySet == reqs.map(_._1).toSet, "one output row per request, empties included")
    reqs.foreach { case (qid, u, lo, hi) =>
      val (ids, checks) = ZkPipeline.query2(entries, Fixtures.contractAddr(0),
        cfg.nftSlot, Fixtures.userAddr(u), lo, hi)
      val loopIds = ids.collect().map(_.getLong(0)).toSeq
      val padded = loopIds ++ Seq.fill(5 - loopIds.size)(0L)
      val chk = checks.collect()(0)
      val (bN, bIds, bDig) = batch(qid)
      assert(bN == chk.getAs[Long]("n_qualified"), s"qid=$qid count")
      assert(bIds == padded, s"qid=$qid ids")
      assert(bDig == Bytes.toHex(chk.getAs[Array[Byte]]("range_digest")), s"qid=$qid digest")
    }
    // the whole point of batching: ONE scan of the entries fact for
    // all six requests (the per-query loop above ran six)
    val plan = ZkPipeline.query2Batch(entries, qdf, Fixtures.contractAddr(0), cfg.nftSlot)
      .queryExecution.optimizedPlan
    // the fact relation is the only leaf carrying mapping_key; the
    // request table may appear twice (probe + the left-join spine)
    val entryScans = plan.collectLeaves()
      .count(_.output.exists(_.name == "mapping_key"))
    assert(entryScans == 1, s"batch plan must scan the fact once, saw $entryScans:\n$plan")
  }

  test("Query2 revelation record: padded ids, bounds, proving hash, block-DB root") {
    val rec = ZkPipeline.query2Revelation(
      Fixtures.entries(spark, cfg), Fixtures.headers(spark, cfg),
      Fixtures.contractAddr(0), cfg.nftSlot, Fixtures.userAddr(0),
      cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1).collect()(0)
    assert(rec.getAs[Int]("query_id") == 67)
    assert(rec.getAs[scala.collection.Seq[Long]]("nft_ids").toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rec.getAs[Long]("num_entries") == 5L)
    assert(rec.getAs[Long]("min_block") == cfg.firstBlock)
    assert(rec.getAs[Long]("max_block") == cfg.firstBlock + cfg.nBlocks - 1)
    val lastHeader = Fixtures.headersSeq(cfg).last
    assert(Bytes.toHex(rec.getAs[Array[Byte]]("proving_block_hash")) == Bytes.toHex(lastHeader.block_hash))
    val (_, goldenRoot) = Fixtures.goldenBlockDb(cfg)
    assert(Bytes.toHex(rec.getAs[Array[Byte]]("block_db_root")) == Bytes.toHex(goldenRoot))
    // a narrower owner pads with zeros
    val rec6 = ZkPipeline.query2Revelation(
      Fixtures.entries(spark, cfg), Fixtures.headers(spark, cfg),
      Fixtures.contractAddr(0), cfg.nftSlot, Fixtures.userAddr(6),
      cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1).collect()(0)
    assert(rec6.getAs[scala.collection.Seq[Long]]("nft_ids").toSeq == Seq(6L, 0L, 0L, 0L, 0L))
  }

  test("Query2 narrows correctly: sub-range and non-owner") {
    val (ids, _) = ZkPipeline.query2(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
      Fixtures.userAddr(6), cfg.firstBlock, cfg.firstBlock + 2)
    assert(ids.collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("QueryERC20: clamped range, non-membership zeros, U256 sum matches golden") {
    val rate = BigInteger.valueOf(7L)
    val supply = BigInteger.valueOf(1000L)
    val got = ZkPipeline.queryErc20(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(1), cfg.erc20Slot,
      Fixtures.userAddr(2), rate, supply,
      minB = cfg.firstBlock - 50, maxB = cfg.firstBlock + cfg.nBlocks + 50).collect()(0)
    assert(got.getAs[Boolean]("gap_free"))
    assert(got.getAs[Long]("range_min") == cfg.firstBlock) // P7 clamp low
    assert(got.getAs[Long]("range_max") == cfg.firstBlock + cfg.nBlocks - 1) // P7 clamp high
    val want = Fixtures.goldenErc20Sum(cfg, 2, rate, supply, cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50)
    assert(U256.fromBytes32(got.getAs[Array[Byte]]("result")) == want)
  }

  test("QueryERC20: the clamp scans the entries fact once") {
    // P7's clamp is implied by the raw range (every scoped row lies in
    // the DB bounds), so no bounds side-scan of the fact may remain. A
    // parquet fact, as at rest: its scan keeps the full schema in the
    // optimized plan, where a pruned in-memory relation would not
    val dir = java.nio.file.Files.createTempDirectory("erc20_scan").toString
    try {
      Fixtures.entries(spark, cfg).write.mode("overwrite").parquet(dir)
      val plan = ZkPipeline.queryErc20(
        spark.read.parquet(dir), Fixtures.contractAddr(1), cfg.erc20Slot,
        Fixtures.userAddr(2), BigInteger.valueOf(7L), BigInteger.valueOf(1000L),
        cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50).queryExecution.optimizedPlan
      val entryScans = plan.collectLeaves().count(_.output.exists(_.name == "mapping_key"))
      assert(entryScans == 1, s"queryErc20 must scan the fact once, saw $entryScans:\n$plan")
    } finally graft.core.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("ERC20 revelation record: clamped bounds, result, block-DB binding") {
    val rate = BigInteger.valueOf(7L); val supply = BigInteger.valueOf(1000L)
    val rec = ZkPipeline.queryErc20Revelation(
      Fixtures.entries(spark, cfg), Fixtures.headers(spark, cfg),
      Fixtures.contractAddr(1), cfg.erc20Slot, Fixtures.userAddr(2), rate, supply,
      cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50).collect()(0)
    assert(rec.getAs[Int]("query_id") == 88)
    assert(rec.getAs[Long]("min_block") == cfg.firstBlock)
    assert(rec.getAs[Long]("max_block") == cfg.firstBlock + cfg.nBlocks - 1)
    assert(rec.getAs[Boolean]("gap_free"))
    val want = Fixtures.goldenErc20Sum(cfg, 2, rate, supply, cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50)
    assert(U256.fromBytes32(rec.getAs[Array[Byte]]("result")) == want)
    val (_, goldenRoot) = Fixtures.goldenBlockDb(cfg)
    assert(Bytes.toHex(rec.getAs[Array[Byte]]("block_db_root")) == Bytes.toHex(goldenRoot))
  }

  test("QueryERC20: absent user sums to zero but blocks still count (P4)") {
    val got = ZkPipeline.queryErc20(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(1), cfg.erc20Slot,
      Fixtures.userAddr(99), BigInteger.valueOf(7L), BigInteger.valueOf(1000L),
      cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1).collect()(0)
    assert(U256.fromBytes32(got.getAs[Array[Byte]]("result")).signum == 0)
    assert(got.getAs[Long]("n_blocks") == cfg.nBlocks.toLong)
  }

  test("erc20Batch: one-scan batch equals the per-query queryErc20 loop field-for-field") {
    val s2 = spark
    import s2.implicits._
    val b0 = cfg.firstBlock
    val b1 = cfg.firstBlock + cfg.nBlocks - 1
    // holders with full / partial / over-wide (clamped) ranges, a
    // non-holder (absent ⇒ 0 per block, every block still counts —
    // P4), and an empty range (no blocks at all)
    val reqs = Seq((0L, 2, b0, b1), (1L, 5, b0 + 3, b1), (2L, 0, b0, b1 - 4),
      (3L, 9, b0, b1), (4L, 2, b1 + 100, b1 + 200), (5L, 3, b0 - 50, b1 + 50))
    val qdf = reqs.map { case (qid, u, lo, hi) =>
      (qid, Bytes.leftPad32(Fixtures.userAddr(u)), lo, hi)
    }.toDF("qid", "user_pad", "min_b", "max_b")
    val entries = Fixtures.entries(spark, cfg)
    val rate = BigInteger.valueOf(7L)
    val ts = BigInteger.valueOf(1000L)
    val batch = ZkPipeline
      .erc20Batch(entries, qdf, Fixtures.contractAddr(1), cfg.erc20Slot, rate, ts)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(batch.keySet == reqs.map(_._1).toSet, "one output row per request, empties included")
    reqs.foreach { case (qid, u, lo, hi) =>
      val one = ZkPipeline.queryErc20(entries, Fixtures.contractAddr(1), cfg.erc20Slot,
        Fixtures.userAddr(u), rate, ts, lo, hi).collect()(0)
      val b = batch(qid)
      assert(b.getAs[Long]("n_blocks") == one.getAs[Long]("n_blocks"), s"qid=$qid n_blocks")
      assert(b.getAs[Any]("range_min") == one.getAs[Any]("range_min"), s"qid=$qid range_min")
      assert(b.getAs[Any]("range_max") == one.getAs[Any]("range_max"), s"qid=$qid range_max")
      assert(b.getAs[Any]("gap_free") == one.getAs[Any]("gap_free"), s"qid=$qid gap_free")
      assert(Bytes.toHex(b.getAs[Array[Byte]]("result")) ==
        Bytes.toHex(one.getAs[Array[Byte]]("result")), s"qid=$qid result")
    }
    // the whole point of batching: ONE scan of the entries fact for
    // all six requests (the per-query loop above ran six)
    val plan = ZkPipeline
      .erc20Batch(entries, qdf, Fixtures.contractAddr(1), cfg.erc20Slot, rate, ts)
      .queryExecution.optimizedPlan
    val entryScans = plan.collectLeaves()
      .count(_.output.exists(_.name == "mapping_key"))
    assert(entryScans == 1, s"batch plan must scan the fact once, saw $entryScans:\n$plan")
  }

  test("manifest attestation: verified seal matches golden; a tampered id flips the verdict and moves the hash") {
    val rev = ZkPipeline.query2Revelation(
      Fixtures.entries(spark, cfg), Fixtures.headers(spark, cfg),
      Fixtures.contractAddr(0), cfg.nftSlot, Fixtures.userAddr(0),
      cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
    val good = ZkPipeline.attestQuery2(rev).collect()(0)
    assert(good.getAs[Boolean]("complete"))
    assert(good.getAs[Boolean]("digest_ok"))
    assert(good.getAs[Boolean]("verified"))
    val goodHash = Bytes.toHex(good.getAs[Array[Byte]]("result_hash")).toUpperCase
    assert(goodHash == FixtureStore.goldenManifestHashHex())

    // tamper: shift the first revealed id — the re-derived digest no
    // longer matches the proven aggregate, and the seal moves
    val tampered = rev.withColumn("nft_ids",
      expr("transform(nft_ids, (x, i) -> CASE WHEN i = 0 THEN x + 1 ELSE x END)"))
    val bad = ZkPipeline.attestQuery2(tampered).collect()(0)
    assert(!bad.getAs[Boolean]("digest_ok"))
    assert(!bad.getAs[Boolean]("verified"))
    assert(Bytes.toHex(bad.getAs[Array[Byte]]("result_hash")).toUpperCase != goodHash)

    // tamper: swap in a foreign block-DB root — the seal moves even
    // though the relational spine is untouched
    val badRoot = rev.withColumn("block_db_root",
      expr("CAST(concat(CAST('x' AS BINARY), substring(block_db_root, 2)) AS BINARY)"))
    val sealMoved = ZkPipeline.attestQuery2(badRoot).collect()(0)
    assert(Bytes.toHex(sealMoved.getAs[Array[Byte]]("result_hash")).toUpperCase != goodHash)
  }

  test("ERC20 manifest attestation: verified seal matches golden; a flipped result byte flips the verdict and moves the hash") {
    val (qMin, qMax) = (cfg.firstBlock - 50, cfg.firstBlock + cfg.nBlocks + 50)
    val rev = ZkPipeline.queryErc20Revelation(
      Fixtures.entries(spark, cfg), Fixtures.headers(spark, cfg),
      Fixtures.contractAddr(1), cfg.erc20Slot, Fixtures.userAddr(2),
      BigInteger.valueOf(7L), BigInteger.valueOf(1000L), qMin, qMax)
    val good = ZkPipeline.attestErc20(rev).collect()(0)
    assert(good.getAs[Boolean]("result_ok"))
    assert(good.getAs[Boolean]("coverage_ok"))
    assert(good.getAs[Boolean]("verified"))
    val goodHash = Bytes.toHex(good.getAs[Array[Byte]]("result_hash")).toUpperCase
    assert(goodHash == FixtureStore.goldenErc20ManifestHashHex(qMin, qMax))

    // tamper: flip the low byte of the revealed U256 result — the
    // per-block re-derivation no longer matches, and the seal moves
    val tampered = rev.withColumn("result",
      expr("CAST(concat(substring(result, 1, 31), CAST('z' AS BINARY)) AS BINARY)"))
    val bad = ZkPipeline.attestErc20(tampered).collect()(0)
    assert(!bad.getAs[Boolean]("result_ok"))
    assert(!bad.getAs[Boolean]("verified"))
    assert(Bytes.toHex(bad.getAs[Array[Byte]]("result_hash")).toUpperCase != goodHash)

    // tamper: drop one per-block contribution — the re-derived sum
    // and the revealed count both disagree
    val dropped = rev
      .withColumn("block_rewards", expr("slice(block_rewards, 1, size(block_rewards) - 1)"))
      .withColumn("block_numbers", expr("slice(block_numbers, 1, size(block_numbers) - 1)"))
    val short = ZkPipeline.attestErc20(dropped).collect()(0)
    assert(!short.getAs[Boolean]("result_ok"))
    assert(!short.getAs[Boolean]("coverage_ok"))
    assert(!short.getAs[Boolean]("verified"))

    // tamper: tear a hole in the revealed block chain — contiguity
    // re-derivation catches it even with counts intact
    val holed = rev.withColumn("block_numbers",
      expr("transform(block_numbers, (x, i) -> CASE WHEN i = 1 THEN x + 1000 ELSE x END)"))
    assert(!ZkPipeline.attestErc20(holed).collect()(0).getAs[Boolean]("coverage_ok"))
  }

  test("scaledOwner Scala twin equals the portable SQL form on every key index") {
    // the golden digest literals the zk oracle SQL carries re-derive
    // scaled-fixture ownership through the Scala twin — pin it to the
    // SQL expression the Spark plans (and DuckDB) evaluate
    val sql = spark.range(5000)
      .select(col("id"), expr(Fixtures.scaledOwnerSql("id")).as("o"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5000L).foreach { k =>
      assert(sql(k) == Fixtures.scaledOwner(k), s"k=$k")
    }
  }

  test("oracle golden literals match the distributed commitment bytes") {
    // the same cross-check the driver gate now performs, kept local so
    // a kernel/udaf regression is caught before the round artifact
    val (_, checks) = ZkPipeline.query2(
      Fixtures.entries(spark, cfg), Fixtures.contractAddr(0), cfg.nftSlot,
      Fixtures.userAddr(0), cfg.firstBlock, cfg.firstBlock + cfg.nBlocks - 1)
    val digest = Bytes.toHex(checks.collect()(0).getAs[Array[Byte]]("range_digest"))
    assert(digest.toUpperCase == FixtureStore.goldenQuery2DigestHex)

    val sdb = ZkPipeline.stateDb(ZkPipeline.storageDb(Fixtures.entries(spark, cfg)))
    val head = ZkPipeline.blockDbHead(ZkPipeline.blockDb(sdb, Fixtures.headers(spark, cfg)))
      .collect()(0)
    assert(Bytes.toHex(head.getAs[Array[Byte]]("root")).toUpperCase
      == FixtureStore.goldenBlockDbRootHex)
  }
}
