package graft.streaming

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Fs

/** Streaming NEAR-duplicate ingest gate over committed signature
  * stores — the streaming cell of the dedup family matrix (exact
  * streaming = [[StreamingDedup]], chunk streaming =
  * [[StreamingChunkDedup]], incremental batch = dd10; this is the
  * near-dup twin an ingest pipeline runs ON the stream).
  *
  * Content-agnostic: callers supply per-doc `(doc_id, seq, h,
  * simhash)` where `seq` is the arrival total order (corpus docs
  * strictly before every stream doc), `h` a content hash and
  * `simhash` a 32-char '0'/'1' signature — or NULL for a doc that
  * has no signature (e.g. token-less text): such docs participate in
  * exact-dup only, exactly like the batch dedup family where the
  * signature derivation emits no row for them. Verdict per stream
  * doc: `exact_dup` if some EARLIER-seen doc (committed corpus, an
  * earlier micro-batch, or an earlier-`seq` batch-mate) carries the
  * same content hash; `near_dup` if some earlier-seen signature is
  * within Hamming distance 3 (4×8-bit pigeonhole blocking — ≤3 flips
  * leave at least one block intact, so the block equi-join misses
  * nothing); else `keep`. `match_id` is the smallest matching
  * earlier doc id. Because the semantics depend only on `seq`, the
  * verdicts are INDEPENDENT of micro-batch boundaries: one big batch
  * and many small ones produce identical output (spec-pinned), which
  * is what makes the backfill→live handoff safe.
  *
  * Store shape at 100 TB: both stores are parquet `partitionBy` a
  * [[NBuckets]]-way bucket of the PROBE key (block value for
  * signatures, content hash for exact), so a micro-batch of B docs
  * reads ≤ min(4B, [[NBuckets]]) signature dirs and ≤ min(B,
  * [[NBuckets]]) hash dirs — directory-pruned point lookups, never a
  * full-store scan; each batch's rows land in the same layout. The write-time
  * routing key IS the read-time index (the IvfIndex store
  * discipline). Everything seen is indexed — kept or dropped —
  * because "have I seen this before" must include previously dropped
  * arrivals.
  *
  * Replay safety: both stores live in one generation under a
  * [[graft.core.Fs.publishGeneration]] pointer (`root/CURRENT` →
  * `root/g<N>/{sig,hash}`), and every write — [[bootstrap]], each
  * micro-batch, [[compactStore]] — publishes a new one, so both stores
  * switch with a single rename and a crash at any step leaves a
  * complete generation live. The pointer's payload is the store's
  * mark: the highest `seq` it indexes. A micro-batch wholly at or
  * below the mark is a replay — its verdicts recompute identically
  * (probes exclude candidates at `seq` ≥ the probe's own, so its own
  * first-run rows are ignored) and nothing is published; a batch
  * wholly above it is indexed and publishes the new mark; a batch
  * that straddles it breaks the arrival-order contract and is refused
  * ([[OutOfOrderBatch]]) before anything is written. The verdict sink
  * overwrites per batch id, so a redelivered batch leaves no duplicate
  * verdicts either. No recovery step runs before a micro-batch.
  */
object StreamingNearDup {

  /** partition fan-out of both stores: 16 at fixture scale; a real
    * corpus raises it into the thousands — probe cost is
    * per-touched-dir, append cost is per-dir commit, so the knob
    * trades lookup selectivity against file-system overhead. */
  val NBuckets = 16

  /** integer form of the 32-bit signature: the pair filter is one
    * `bit_count(ia ^ ib)` instead of 32 substring compares per
    * candidate — the same formulation the batch dedup family's hot
    * path uses (simhashPairs), equivalent position-for-position to
    * the oracle's [[graft.core.Hamming.sql32]] CASE chain on
    * exactly-32-char '0'/'1' signatures. */
  private def sigInt(simhash: Column): Column =
    graft.core.Hamming.sigIntCol(simhash)

  private def bucketOf(c: Column): Column = pmod(hash(c), lit(NBuckets))

  /** one row per (doc, block): the signature store's at-rest shape.
    * Null-signature docs emit NO rows — they are exact-only by
    * contract (two signature-less docs are NOT near each other). */
  private def sigRows(docs: DataFrame): DataFrame =
    docs.filter(col("simhash").isNotNull)
      .select(col("doc_id"), col("seq"), col("simhash"),
        explode(sequence(lit(0), lit(graft.core.Hamming.Blocks - 1))).as("k"))
      .withColumn("blk", expr(graft.core.Hamming.blkSql("simhash", "k")))
      .withColumn("bucket", bucketOf(concat(col("k"), lit("|"), col("blk"))))

  private def hashRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("seq"), col("h"))
      .withColumn("bucket", bucketOf(col("h")))

  /** partitioned store write into a new generation's empty `dir`:
    * repartition ON the partition column first so each bucket's rows
    * land in ONE task = one file per bucket per write — without it
    * every input partition opens a file in every bucket dir it touches
    * (measured ~2k files for an 18k-row store at 32 tasks × 64 dirs
    * before this fix, with the probes then paying the listing on every
    * micro-batch). */
  private def writeStore(rows: DataFrame, dir: String): Unit =
    rows.repartition(col("bucket")).write.partitionBy("bucket").parquet(dir)

  /** thrown, before anything is written, to a micro-batch whose `seq`
    * range straddles the store's mark: part of it is indexed and part
    * is not, so it is neither a replay nor the next batch in arrival
    * order. */
  final class OutOfOrderBatch(msg: String) extends RuntimeException(msg)

  /** the live generation of the stores under `root` — `sig` and `hash`
    * live side by side in it — and its mark, the highest `seq` the
    * stores index (`Long.MinValue` for none). A generation whose
    * payload is not a mark is refused. */
  private def live(root: String): (Path, Long) = {
    val r = Paths.get(root)
    val g = Fs.currentGeneration(r)
      .getOrElse(throw new IllegalStateException(s"no near-dup store at $root (bootstrap first)"))
    val mark = g.payload.toLongOption.getOrElse(throw new IllegalStateException(
      s"near-dup store $root: generation ${g.n} records no seq mark (payload '${g.payload}')"))
    (g.dir(r), mark)
  }

  /** the live generation's `sub` store directory (`sig` or `hash`). A
    * frame read from it is valid until the next write. */
  def storeDir(root: String, sub: String): String = live(root)._1.resolve(sub).toString

  /** commit the already-ingested corpus as the initial store state —
    * the one batch pass over the past; the stream is O(delta) after.
    * Publishes a new generation holding both stores, marked with the
    * corpus's largest `seq`. */
  def bootstrap(corpus: DataFrame, root: String): Unit = {
    val mark = Option(corpus.agg(max(col("seq").cast(LongType))).head().get(0))
      .fold(Long.MinValue)(_.asInstanceOf[Long])
    Fs.publishGeneration(Paths.get(root)) { g =>
      writeStore(sigRows(corpus), s"$g/sig")
      writeStore(hashRows(corpus), s"$g/hash")
      mark.toString
    }: Unit
  }

  val SigSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("seq", LongType),
    StructField("simhash", StringType), StructField("k", IntegerType),
    StructField("blk", StringType), StructField("bucket", IntegerType)))

  val HashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("seq", LongType),
    StructField("h", StringType), StructField("bucket", IntegerType)))

  /** pruned store read: the batch's distinct probe buckets (≤
    * [[NBuckets]] ints — a bounded driver-side list by construction)
    * pushed as a partition filter. The spec asserts the plan prunes
    * at the directory level, not post-scan. The schema is the
    * caller-stated store schema, not inferred: an EMPTY corpus
    * bootstrap leaves a store dir with no data files, and the first
    * micro-batch must read it as zero rows, not die in schema
    * inference. */
  def probeStore(s: SparkSession, dir: String, buckets: Seq[Int],
                 schema: StructType): DataFrame =
    s.read.schema(schema).parquet(dir).filter(col("bucket").isin(buckets: _*))

  /** Gate one micro-batch `(doc_id, seq, h, simhash)` against the
    * store and return its verdict frame `(doc_id, verdict, match_id)`
    * — materialized (localCheckpoint), so it stays valid after later
    * writes replace the generation it read. A batch above the store's
    * mark publishes one new generation: the live one's files linked,
    * the batch's `sig` and `hash` rows written beside them, and the
    * batch's largest `seq` as the new mark. A replay (every `seq` at or
    * below the mark) publishes nothing; a batch straddling the mark is
    * refused with [[OutOfOrderBatch]]. */
  def processBatch(s: SparkSession, batch: DataFrame, root: String): DataFrame = {
    val (gen, mark) = live(root)
    // a micro-batch is small by definition — collapse it to a few
    // partitions so the dozen downstream jobs don't each pay 32-task
    // scheduling for a handful of rows
    val b = batch.select("doc_id", "seq", "h", "simhash").coalesce(4).persist()
    val bs = sigRows(b).persist()
    val bh = hashRows(b).persist()
    try {
      // ONE job collects both probe-bucket lists (≤ 2·NBuckets rows)
      // and the batch's seq range (every doc has a hash row)
      val bks = bs.select(lit("s").as("t"), col("bucket"), col("seq"))
        .unionByName(bh.select(lit("h").as("t"), col("bucket"), col("seq")))
        .groupBy("t", "bucket").agg(min("seq"), max("seq")).collect()
      val sigBuckets = bks.collect { case r if r.getString(0) == "s" => r.getInt(1) }.toSeq
      val hashBuckets = bks.collect { case r if r.getString(0) == "h" => r.getInt(1) }.toSeq
      val lo = bks.map(_.getLong(2)).minOption.getOrElse(Long.MaxValue)
      val hi = bks.map(_.getLong(3)).maxOption.getOrElse(Long.MinValue)
      if (lo <= mark && hi > mark)
        throw new OutOfOrderBatch(s"near-dup store $root: batch seq [$lo, $hi] straddles the mark $mark")

      val probeSide = bs.select(col("doc_id"), col("seq"),
        sigInt(col("simhash")).as("ia"), col("k"), col("blk"))
      val storeSide = probeStore(s, gen.resolve("sig").toString, sigBuckets, SigSchema)
        .select(col("doc_id").as("cid"), col("seq").as("cseq"),
          sigInt(col("simhash")).as("ib"), col("k"), col("blk"))
      val localSide = bs.select(col("doc_id").as("cid"), col("seq").as("cseq"),
        sigInt(col("simhash")).as("ib"), col("k"), col("blk"))
      // near candidates = block-mates strictly earlier by seq, from the
      // store (corpus + prior batches) and from this batch itself; a
      // doc in c candidate pairs is Hamming-checked c times but each
      // check is 32 char compares — the blocking is what bounds c.
      // Batch sides are broadcast: the STORE is the big side and must
      // only be map-joined, never shuffled — at scale this is the whole
      // point of the probe (matches, not the store, hit the shuffle)
      val near = broadcast(probeSide).join(storeSide, Seq("k", "blk"))
        .unionByName(broadcast(probeSide).join(localSide, Seq("k", "blk")))
        .filter(col("cseq") < col("seq"))
        // no distinct: a pair found via several blocks is Hamming-checked
        // once per block (one xor+popcount), which is cheaper than the
        // extra shuffle a dedup stage would cost — and min(cid) is
        // insensitive to duplicates
        .select("doc_id", "cid", "ia", "ib")
        .filter(expr("bit_count(ia ^ ib)") <= 3)
        .groupBy("doc_id").agg(min("cid").as("nm"))

      val probeH = bh.select(col("doc_id"), col("seq"), col("h"))
      val exact = broadcast(probeH).join(
          probeStore(s, gen.resolve("hash").toString, hashBuckets, HashSchema)
            .select(col("doc_id").as("cid"), col("seq").as("cseq"), col("h")), Seq("h"))
        .unionByName(broadcast(probeH).join(
          bh.select(col("doc_id").as("cid"), col("seq").as("cseq"), col("h")), Seq("h")))
        .filter(col("cseq") < col("seq"))
        .groupBy("doc_id").agg(min("cid").as("em"))

      // materialized before the publish, which deletes the generation
      // the probes read
      val verdicts = b.select("doc_id")
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("em").isNotNull, "exact_dup")
            .when(col("nm").isNotNull, "near_dup")
            .otherwise("keep").as("verdict"),
          coalesce(col("em"), col("nm"), lit(-1L)).as("match_id"))
        .localCheckpoint()

      if (hi > mark)
        Fs.publishGeneration(Paths.get(root)) { g =>
          for ((sub, rows) <- Seq("sig" -> bs, "hash" -> bh)) {
            writeStore(rows, s"$g/$sub")
            Fs.linkTree(gen.resolve(sub), g.resolve(sub))(_.getNameCount > 1)
          }
          hi.toString
        }: Unit
      verdicts
    } finally { bs.unpersist(); bh.unpersist(); b.unpersist() }
  }

  /** foreachBatch sink: gate the micro-batch and land its verdicts
    * under `root/verdicts/batch_id=<id>` — OVERWRITE of the batch's
    * own partition, so a redelivered micro-batch (stream failed after
    * the write but before the checkpoint committed) replaces its
    * first attempt instead of appending duplicate verdict rows. */
  def sinkBatch(root: String)(batch: DataFrame, batchId: Long): Unit = {
    processBatch(batch.sparkSession, batch, root)
      .write.mode("overwrite").parquet(s"$root/verdicts/batch_id=$batchId")
    ()
  }

  /** Store maintenance: every micro-batch adds one file per touched
    * bucket dir, so a long-running gate accumulates small files, and
    * probe listings and each batch's links grow with stream age.
    * Compaction rewrites both stores into a new generation with the
    * same partition layout, one file per bucket and the same mark
    * (content identical — probes before ≡ after, spec-pinned), the
    * VersionedTable-compact discipline applied here. Single-writer by
    * contract: the caller schedules compaction between micro-batches
    * (same as any table OPTIMIZE). */
  def compactStore(s: SparkSession, root: String): Unit = {
    val (gen, mark) = live(root)
    Fs.publishGeneration(Paths.get(root)) { g =>
      for ((sub, schema) <- Seq("sig" -> SigSchema, "hash" -> HashSchema))
        writeStore(probeStore(s, gen.resolve(sub).toString, 0 until NBuckets, schema), s"$g/$sub")
      mark.toString
    }: Unit
  }
}
