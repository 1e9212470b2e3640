package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.ZkPipeline
import graft.sources.Eip1186Source

/** `backfill`: one batch job per operation. A seeded EIP-1186 dump goes
  * in and the block-DB head comes out:
  * read -> toProofRows -> verifyStorageProofs -> storageDb (committed)
  * -> lengthExtract/lengthMatch -> stateDb -> blockDb (committed) ->
  * blockDbHead. Many contracts per block with small tries. */
object Backfill {

  final case class Size(blocks: Int, contracts: Int, keys: Int)

  val Full: Size = Size(blocks = 10, contracts = 24, keys = 20)
  val WarmUp: Size = Size(blocks = 3, contracts = 24, keys = 20)

  /** a dump on disk; the small side inputs are in-memory tables */
  final case class Input(dump: Path, lengthProofs: DataFrame, headers: DataFrame, contracts: DataFrame,
      entries: Long, groups: Long, blocks: Int, dumpBytes: Long, headRoot: Array[Byte], first: Long, last: Long)

  private val LengthProofSchema = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("contract", BinaryType, nullable = false),
    StructField("length_slot", IntegerType, nullable = false),
    StructField("mpt_key", BinaryType, nullable = false),
    StructField("nodes", ArrayType(BinaryType, containsNull = false), nullable = false),
    StructField("mpt_root", BinaryType, nullable = false)))

  private val ContractSchema = StructType(Seq(
    StructField("contract", BinaryType, nullable = false),
    StructField("length_slot", IntegerType, nullable = false)))

  /** dump (JSON lines), length proofs, headers and the contract list,
    * plus the expected block-DB head */
  def generate(run: Run, seed: Long, size: Size, dir: Path): Input = {
    val chain = new Gen.Chain(seed, Gen.Shape(size.contracts, size.keys, size.keys, size.keys))
    val blocks = (0 until size.blocks).map(_ => chain.next())
    val perBlock = Harness.parMap(blocks.size) { i =>
      val lines = new java.lang.StringBuilder
      val lengthRows = blocks(i).groupBy(_.c).toSeq.sortBy(_._1.idx).map { case (c, es) =>
        val (trie, locations) = Gen.trieFor(c, es)
        es.zip(locations).foreach { case (e, loc) =>
          lines.append("{\"block_number\":").append(e.block)
            .append(",\"mapping_slot\":").append(c.slot)
            .append(",\"mapping_key\":\"").append(Hex.x(e.key))
            .append("\",\"result\":{\"address\":\"").append(Hex.x(c.addr))
            .append("\",\"storageHash\":\"").append(Hex.x(trie.rootHash))
            .append("\",\"accountProof\":[],\"storageProof\":[{\"key\":\"").append(Hex.x(loc))
            .append("\",\"value\":\"").append(Hex.quantity(e.value)).append("\",\"proof\":[")
          val proof = trie.proof(graft.core.Keccak.keccak256(loc))
          proof.indices.foreach { k =>
            if (k > 0) lines.append(',')
            lines.append('"').append(Hex.x(proof(k))).append('"')
          }
          lines.append("]}]}}\n")
        }
        val lengthKey = graft.core.StorageKey.simpleSlotMptKey(c.lengthSlot)
        Row(blocks(i).head.block, c.addr, c.lengthSlot, lengthKey, trie.proof(lengthKey), trie.rootHash)
      }
      (lines.toString, lengthRows)
    }
    Files.createDirectories(dir)
    val nFiles = 8
    perBlock.map(_._1).zipWithIndex.groupBy(_._2 % nFiles).foreach { case (f, parts) =>
      Files.write(dir.resolve(f"part-$f%05d.json"), parts.map(_._1).mkString.getBytes(StandardCharsets.UTF_8))
    }
    Input(dir,
      run.df(perBlock.flatMap(_._2), LengthProofSchema),
      run.df(chain.headers.toSeq.map(Harness.headerRow), Harness.HeaderSchema),
      run.df(chain.contracts.map(c => Row(c.addr, c.lengthSlot)), ContractSchema),
      blocks.map(_.size.toLong).sum, blocks.map(_.map(_.c).distinct.size.toLong).sum,
      size.blocks, Harness.dirBytes(dir), chain.blockDbRoot(chain.lastBlock), chain.firstBlock, chain.lastBlock)
  }

  /** one backfill job; returns the bytes it committed. */
  def job(run: Run, in: Input, out: Path): Long = {
    val spark = run.spark
    val proofs = Trace.span("sources.dump_parse") { r =>
      r.in(in.dumpBytes)
      val p = Eip1186Source.toProofRows(Eip1186Source.read(spark, in.dump.toString))
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.out(p.count())
      p
    }
    val verified = Trace.span("pipeline.verify") { r =>
      r.in(in.entries)
      val v = ZkPipeline.verifyStorageProofs(proofs)
        .join(broadcast(in.contracts), Seq("contract"))
        .select("block_number", "contract", "mapping_slot", "length_slot", "mapping_key", "value",
          "proof_ok", "key_ok")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val g = v.agg(count(lit(1)), sum(when(col("proof_ok"), 0).otherwise(1)),
        sum(when(col("key_ok"), 0).otherwise(1))).head()
      run.check("verify: every proof present", g.getLong(0) == in.entries)
      run.check("verify: proof_ok", g.getLong(1) == 0L)
      run.check("verify: key_ok", g.getLong(2) == 0L)
      r.out(g.getLong(0))
      v
    }
    val storagePath = out.resolve("storage_db").toString
    Trace.span("pipeline.storage_db") { r =>
      r.in(in.entries)
      ZkPipeline.storageDb(verified.filter(col("proof_ok") && col("key_ok")))
        .write.parquet(storagePath)
      r.out(in.groups)
    }
    val matched = Trace.span("pipeline.length_match") { r =>
      r.in(in.groups)
      val lengths = ZkPipeline.lengthExtract(in.lengthProofs)
      val m = ZkPipeline.lengthMatch(spark.read.parquet(storagePath), lengths)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val g = m.agg(count(lit(1)), sum(when(col("length_ok"), 0).otherwise(1)),
        count(col("declared_length"))).head()
      run.check("length_match: every group", g.getLong(0) == in.groups)
      run.check("length_match: length_ok", g.getLong(1) == 0L)
      run.check("length_match: every length proven", g.getLong(2) == in.groups)
      r.out(g.getLong(0))
      m
    }
    val state = Trace.span("pipeline.state_db") { r =>
      r.in(in.groups)
      val s = ZkPipeline.stateDb(matched).persist(StorageLevel.MEMORY_AND_DISK)
      r.out(s.count())
      s
    }
    val blockPath = out.resolve("block_db").toString
    val head = Trace.span("pipeline.block_db") { r =>
      r.in(in.blocks)
      ZkPipeline.blockDb(state, in.headers)
        .write.parquet(blockPath)
      val h = ZkPipeline.blockDbHead(spark.read.parquet(blockPath)).head()
      r.out(h.getAs[Long]("n_blocks"))
      h
    }
    Seq(proofs, verified, matched, state).foreach(_.unpersist())
    run.check("head: block range",
      head.getAs[Long]("first_block") == in.first && head.getAs[Long]("last_block") == in.last &&
        head.getAs[Long]("n_blocks") == in.blocks)
    run.check("head: root", java.util.Arrays.equals(head.getAs[Array[Byte]]("root"), in.headRoot))
    run.check("head: chain_ok", head.getAs[Int]("all_chain_ok") == 1)
    run.check("head: seq_ok", head.getAs[Int]("all_seq_ok") == 1)
    Harness.dirBytes(out)
  }

  def apply(run: Run): Unit = {
    val data = run.work.resolve("data")
    val tg = System.nanoTime()
    val warm = generate(run, run.seed ^ 0x5eedL, WarmUp, data.resolve("warm"))
    val in = generate(run, run.seed, Full, data.resolve("full"))
    System.err.println(f"[perfbench] generated ${in.entries} proofs in ${(System.nanoTime() - tg) / 1e9}%.2f s")
    run.layer("sources.dump_bytes") = in.dumpBytes.toDouble

    val jobs = run.work.resolve("jobs")
    var n = 0
    def nextOut(): Path = { n += 1; jobs.resolve(s"job-$n") }

    // set-up: nothing is committed before the job, so set-up is the
    // warm-up: a job on a small dump three times (median), then two
    // full-size jobs
    run.setUp(3)(_ => job(run, warm, nextOut()))
    run.warmUp((0 until 2).foreach(_ => job(run, in, nextOut())))
    Harness.deleteTree(jobs)

    val deadline = run.deadlineFromNow()
    var written = Seq.empty[Double]
    var lastOut: Path = null
    while (System.nanoTime() < deadline) {
      val out = nextOut()
      val tracedOp = run.nextOpTraced()
      val (bytes, ms) = run.op("bench.backfill_job", tracedOp)(job(run, in, out))
      if (!tracedOp) run.rates += in.entries / (ms / 1000.0)
      written :+= bytes.toDouble
      if (lastOut != null) Harness.deleteTree(lastOut)
      lastOut = out
    }
    run.spaceAmp = Harness.dirBytes(lastOut).toDouble / (in.entries * Harness.EntryBytes)
    run.layer("sources.bytes_written_per_batch") = Harness.median(written)
  }
}
