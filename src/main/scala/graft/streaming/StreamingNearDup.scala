package graft.streaming

import java.nio.file.Paths

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
  * full-store scan; appends land in the same layout. The write-time
  * routing key IS the read-time index (the IvfIndex store
  * discipline). Everything seen is indexed — kept or dropped —
  * because "have I seen this before" must include previously dropped
  * arrivals.
  *
  * Replay safety: probes exclude candidates at `seq` ≥ the probe's
  * own (a retried micro-batch finds its own first-run rows at EQUAL
  * seq and ignores them — verdicts recompute identically), the store
  * append drops ids already present (no duplicate store rows), and
  * the verdict sink overwrites per batch id (no duplicate verdicts).
  * Both stores live in one generation under a
  * [[graft.core.Fs.publishGeneration]] pointer (`root/CURRENT` →
  * `root/g<N>/{sig,hash}`): micro-batches append into the live
  * generation, while [[bootstrap]] and [[compactStore]] each publish
  * a new one, so both stores switch with a single rename and a crash
  * at any point leaves a complete generation live — no recovery step
  * runs before a micro-batch.
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

  /** partitioned store write: repartition ON the partition column
    * first so each bucket's rows land in ONE task = one file per
    * bucket per write — without it every input partition opens a
    * file in every bucket dir it touches (measured ~2k files for an
    * 18k-row store at 32 tasks × 64 dirs before this fix, with the
    * probes then paying the listing on every micro-batch). */
  private def writeStore(rows: DataFrame, dir: String, mode: String): Unit =
    rows.repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(dir)

  /** the live generation of the stores under `root` — `sig` and
    * `hash` live side by side in it, so every publish switches both
    * with one pointer swap. */
  private def liveGeneration(root: String): String =
    Fs.currentGeneration(Paths.get(root)).map(_.dir(Paths.get(root)).toString)
      .getOrElse(throw new IllegalStateException(s"no near-dup store at $root (bootstrap first)"))

  /** the live generation's `sub` store directory (`sig` or `hash`). */
  def storeDir(root: String, sub: String): String = s"${liveGeneration(root)}/$sub"

  /** commit the already-ingested corpus as the initial store state —
    * the one batch pass over the past; the stream is O(delta) after.
    * Publishes a new generation holding both stores. */
  def bootstrap(corpus: DataFrame, root: String): Unit =
    Fs.publishGeneration(Paths.get(root)) { g =>
      writeStore(sigRows(corpus), s"$g/sig", "overwrite")
      writeStore(hashRows(corpus), s"$g/hash", "overwrite")
      ""
    }: Unit

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
    * store, append its rows, and return its verdict frame
    * `(doc_id, verdict, match_id)` — materialized (localCheckpoint),
    * so it stays valid after later batches mutate the store. */
  def processBatch(s: SparkSession, batch: DataFrame, root: String): DataFrame = {
    val gen = liveGeneration(root)
    // a micro-batch is small by definition — collapse it to a few
    // partitions so the dozen downstream jobs don't each pay 32-task
    // scheduling for a handful of rows
    val b = batch.select("doc_id", "seq", "h", "simhash").coalesce(4).persist()
    val bs = sigRows(b).persist()
    val bh = hashRows(b).persist()
    // ONE job collects both probe-bucket lists (≤ 2·NBuckets ints)
    val bks = bs.select(lit("s").as("t"), col("bucket"))
      .unionByName(bh.select(lit("h").as("t"), col("bucket")))
      .distinct().collect()
    val sigBuckets = bks.collect { case r if r.getString(0) == "s" => r.getInt(1) }.toSeq
    val hashBuckets = bks.collect { case r if r.getString(0) == "h" => r.getInt(1) }.toSeq

    val probeSide = bs.select(col("doc_id"), col("seq"),
      sigInt(col("simhash")).as("ia"), col("k"), col("blk"))
    // one pruned sig-store read serves BOTH the near probe and the
    // sig append's presence check (mirrors the hash-store reuse below)
    val storeSig = probeStore(s, s"$gen/sig", sigBuckets, SigSchema).persist()
    val storeSide = storeSig
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

    // one pruned hash-store read serves BOTH the exact probe and the
    // append's presence check (a second listing of the same dirs
    // would double the per-batch file-system cost)
    val storeHash = probeStore(s, s"$gen/hash", hashBuckets, HashSchema).persist()
    val probeH = bh.select(col("doc_id"), col("seq"), col("h"))
    val exact = broadcast(probeH).join(
        storeHash.select(col("doc_id").as("cid"), col("seq").as("cseq"), col("h")), Seq("h"))
      .unionByName(broadcast(probeH).join(
        bh.select(col("doc_id").as("cid"), col("seq").as("cseq"), col("h")), Seq("h")))
      .filter(col("cseq") < col("seq"))
      .groupBy("doc_id").agg(min("cid").as("em"))

    val verdicts = b.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("em").isNotNull, "exact_dup")
          .when(col("nm").isNotNull, "near_dup")
          .otherwise("keep").as("verdict"),
        coalesce(col("em"), col("nm"), lit(-1L)).as("match_id"))
      .localCheckpoint()

    // idempotent appends: EACH store's append is presence-keyed on
    // that store's OWN contents — sig rows on (doc_id, k, simhash),
    // hash rows on (doc_id, h). Keying both appends on one store left
    // a crash window: a JVM death between the two writes meant the
    // redelivered batch re-appended the half that HAD landed (its
    // rows were absent from the other store's key set), permanently
    // duplicating store rows. Self-keyed, whichever half survived the
    // crash excludes itself on replay and the missing half lands.
    // Presence stays exact under the replay contract (Spark
    // redelivers micro-batches byte-identical, so a retried row
    // probes the same pruned bucket and finds itself), and a doc_id
    // reused with DIFFERENT content is a new observation and gets
    // indexed — "everything seen is indexed".
    // canonicalize to the declared store column order before the
    // append: the using-columns anti-join above front-loads its key
    // columns, and appending that layout next to bootstrap files
    // makes the store layout-heterogeneous — a schema-less read's
    // column order then depends on which file's footer wins, and
    // compaction (which rewrites through the declared schema)
    // visibly reorders rows' physical layout.
    val freshSig = bs.join(
      storeSig.select("doc_id", "k", "simhash").distinct(),
      Seq("doc_id", "k", "simhash"), "left_anti")
      .select(SigSchema.fieldNames.toSeq.map(col): _*)
    val freshHash = bh.join(
      storeHash.select("doc_id", "h").distinct(),
      Seq("doc_id", "h"), "left_anti")
      .select(HashSchema.fieldNames.toSeq.map(col): _*)
    writeStore(freshSig, s"$gen/sig", "append")
    writeStore(freshHash, s"$gen/hash", "append")
    storeSig.unpersist(); storeHash.unpersist(); bs.unpersist(); bh.unpersist(); b.unpersist()
    verdicts
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

  /** Store maintenance: every append adds one file per touched bucket
    * dir, so a long-running gate accumulates small files and probe
    * listings degrade linearly with stream age. Compaction rewrites
    * both stores into a new generation with the same partition layout
    * and one file per bucket (content identical — probes before ≡
    * after, spec-pinned), the VersionedTable-compact discipline
    * applied here. The pointer swap is the commit point: a crash
    * before it leaves the old generation live and untouched, so the
    * next micro-batch needs no recovery step. Single-writer by
    * contract: the caller schedules compaction between micro-batches
    * (same as any table OPTIMIZE). */
  def compactStore(s: SparkSession, root: String): Unit = {
    val live = liveGeneration(root)
    Fs.publishGeneration(Paths.get(root)) { g =>
      for ((sub, schema) <- Seq("sig" -> SigSchema, "hash" -> HashSchema))
        writeStore(probeStore(s, s"$live/$sub", 0 until NBuckets, schema), s"$g/$sub", "overwrite")
      ""
    }: Unit
  }
}
