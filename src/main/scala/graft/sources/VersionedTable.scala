package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import VersionedTable.{CommitConflict, Layout, LayoutMismatch, Manifest}

/** Transactional versioned table — the reference's appendable
  * versioned block DB (`block/mod.rs:152-293`) generalized into the
  * minimal table-format mechanism (what Delta/Iceberg provide,
  * reduced to its essentials), for sinks that need concurrent-reader
  * correctness at scale:
  *
  *   - **Immutable data files**, hash-bucketed by the table key's
  *     leading column; a version only WRITES its dirty buckets and
  *     inherits every untouched bucket's files from its base manifest
  *     — partition-level copy-on-write, no full-table rewrite. Order
  *     the keys so that the leading column follows how rows arrive:
  *     the storage DB keys on `(block_number, contract)`, so an append
  *     of new blocks dirties one bucket per block instead of scattering
  *     its (block, contract) groups over most buckets.
  *   - **One file per version**: a commit publishes exactly one file,
  *     `v%06d.manifest`, with [[graft.core.Fs.publishFile]] (temp
  *     file, forced to disk, atomic link — never visible empty or
  *     torn, even after a power loss). It holds everything a reader
  *     needs: the version's schema, its bucket layout (bucket count and
  *     bucket column), the bucket → data directory map and the
  *     per-bucket zone maps. A handle whose layout differs from its
  *     base's is refused ([[VersionedTable.LayoutMismatch]]) before it
  *     reads or writes a bucket: it would route rows to the wrong
  *     buckets. The no-replace publish doubles as optimistic
  *     concurrency control — two writers committing the same next
  *     version race on the name and exactly one wins
  *     ([[VersionedTable.CommitConflict]] for the loser). The current
  *     version is the newest manifest on disk; there is no pointer to
  *     reconcile with it.
  *   - **Snapshot isolation / time travel**: readers resolve a
  *     version once and read only that manifest's immutable files;
  *     later commits never disturb them. [[read]] accepts an explicit
  *     version for time travel.
  *   - **MERGE (upsert)**: [[merge]] rewrites only the buckets the
  *     update keys hash into — matched keys are replaced, unmatched
  *     inserted, rows flagged by the delete column removed. The
  *     bucket layout is what makes row-level mutation affordable at
  *     scale: cost is O(dirty buckets), not O(table).
  *   - **Zone maps / data skipping**: a commit can record per-bucket
  *     min/max for chosen numeric columns in its manifest;
  *     [[readPruned]] skips every bucket whose range cannot satisfy a
  *     predicate — the manifest-level analog of parquet row-group
  *     pruning, applied before any file is opened.
  *   - **Compaction**: many small commits fragment a bucket across
  *     version directories; [[compact]] rewrites every bucket into
  *     one fresh version (readers on old versions are undisturbed).
  *   - **Retention**: [[vacuum]] deletes data files unreferenced by
  *     the kept manifests (age out old versions without breaking
  *     pinned readers inside the retention window).
  *   - **Metadata from the commit**: a version's schema is its base
  *     version's schema widened by the committed rows' schema
  *     ([[overwrite]] and [[compact]] own every bucket, so they record
  *     the rows' schema), and its populated buckets are the `__bucket=`
  *     directories the write created. Planning a read, a diff or a CDC
  *     read of any version runs no Spark job, and a handle holds no
  *     state: every handle on a directory sees the same tables.
  */
class VersionedTable(spark: SparkSession, baseDir: String, nBuckets: Int = 16) {
  require(nBuckets > 0)

  private val manifestDir = Paths.get(baseDir, "_manifests")

  private def manifestPath(v: Int): Path = manifestDir.resolve(f"v$v%06d.manifest")

  /** every committed version, oldest first. */
  private def versions(): Seq[Int] =
    if (!Files.exists(manifestDir)) Nil
    else {
      val ls = Files.list(manifestDir)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(_.stripPrefix("v").stripSuffix(".manifest").toInt).toSeq.sorted
      finally ls.close()
    }

  /** the newest manifest on disk — the manifest publish is the commit
    * point, so nothing else can name a newer version. */
  def currentVersion(): Option[Int] = versions().lastOption

  /** bucket assignment expression for the table key columns: the
    * hash of the LEADING key column only, so every row of one leading
    * value lands in one bucket. For a single-key table this is the
    * hash of the whole key. */
  def bucketCol(keys: Seq[String]): Column =
    pmod(xxhash64(col(keys.head)), lit(nBuckets.toLong)).cast("int")

  /** `m` with this handle's layout for `keys`, or [[LayoutMismatch]]:
    * a base bucketed another way (or recording no layout) would have
    * its rows routed to the wrong buckets. */
  private def checked(m: Manifest, v: Int, keys: Seq[String]): Manifest = {
    val want = Layout(nBuckets, keys.head)
    if (!m.layout.contains(want))
      throw new LayoutMismatch(s"table $baseDir: version $v is laid out as " +
        m.layout.fold("(no layout recorded)")(_.toString) + s", the handle writes $want")
    m
  }

  private[sources] def readManifest(v: Int): Manifest =
    Manifest.parse(Files.readAllLines(manifestPath(v)).asScala.toSeq)

  /** ONE multi-path scan of `m`'s directories for the buckets `keep`
    * accepts, with the version's explicit schema: the parquet reader
    * fills columns a file lacks with NULL, which makes the read both
    * additive-evolution-safe AND a single relation — per-dir
    * `spark.read.parquet` + unionByName would pay one driver
    * file-listing/footer pass per bucket dir (O(nBuckets) analysis
    * time on every action). None if no kept bucket holds rows. */
  private def scan(m: Manifest, keep: Int => Boolean): Option[DataFrame] = {
    val dirs = m.files.filter { case (b, _) => keep(b) }.values.toSeq.distinct
    if (dirs.isEmpty) None
    else Some(spark.read.schema(m.schema).parquet(dirs.map(rel => s"$baseDir/$rel"): _*))
  }

  /** no rows, with `m`'s schema: a partial read's result schema never
    * depends on WHICH buckets were probed. */
  private def orEmpty(m: Manifest, df: Option[DataFrame]): DataFrame =
    df.getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema))

  /** `t` as a parquet read of it returns it: Spark writes every field,
    * array element and map value as nullable. */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** widest of two column types under the standard numeric ladder,
    * kept WITHIN a domain (byte→short→int→long, or float→double);
    * None if neither widens to the other. Integral↔floating is NOT a
    * widening: long/int values above 2^24 lose precision as float
    * (2^53 as double), so cross-domain re-types are rejected rather
    * than silently accepted. */
  private def widest(a: DataType, b: DataType): Option[DataType] = {
    import org.apache.spark.sql.types._
    if (a == b) Some(a)
    else {
      val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
      val floating: Seq[DataType] = Seq(FloatType, DoubleType)
      val ladder =
        if (integral.contains(a) && integral.contains(b)) integral
        else if (floating.contains(a) && floating.contains(b)) floating
        else Seq.empty[DataType]
      val (ia, ib) = (ladder.indexOf(a), ladder.indexOf(b))
      if (ia >= 0 && ib >= 0) Some(ladder(math.max(ia, ib))) else None
    }
  }

  /** `base` with `more`'s new columns appended and each shared column
    * widened to the wider of the two types (kept as is where neither
    * widens to the other). */
  private def widen(base: StructType, more: StructType): StructType = {
    val fields = scala.collection.mutable.LinkedHashMap(base.fields.toSeq.map(f => f.name -> f): _*)
    more.fields.foreach { f =>
      fields.get(f.name) match {
        case None => fields(f.name) = f
        case Some(prev) =>
          val w = widest(prev.dataType, f.dataType).getOrElse(prev.dataType)
          if (w != prev.dataType) fields(f.name) = prev.copy(dataType = w)
      }
    }
    StructType(fields.values.toSeq)
  }

  /** snapshot read at `version` (default: latest); None if the table
    * has no committed version yet. */
  def read(version: Option[Int] = None): Option[DataFrame] =
    version.orElse(currentVersion()).map { v =>
      val m = readManifest(v)
      orEmpty(m, scan(m, _ => true))
    }

  /** buckets of `m` whose recorded [min,max] for `statCol` intersects
    * [lo,hi] — plus every bucket with no recorded range (unknown is
    * never prunable). */
  private def overlapping(m: Manifest, statCol: String, lo: BigDecimal, hi: BigDecimal): Set[Int] =
    m.files.keySet.filter { b =>
      m.zones.get((b, statCol)) match {
        case Some((mn, mx)) => hi >= mn && lo <= mx
        case None => true
      }
    }

  /** the buckets [[readPruned]] keeps. Exposed for spec/introspection. */
  def bucketsFor(statCol: String, lo: BigDecimal, hi: BigDecimal, version: Option[Int] = None): Seq[Int] =
    version.orElse(currentVersion()).toSeq.flatMap(v => overlapping(readManifest(v), statCol, lo, hi).toSeq.sorted)

  /** snapshot read that SKIPS buckets whose zone map proves they hold
    * no row with `statCol` in [lo,hi]. The caller still applies the
    * exact predicate — pruning is a superset guarantee, same contract
    * as parquet row-group skipping. */
  def readPruned(statCol: String, lo: BigDecimal, hi: BigDecimal, version: Option[Int] = None): Option[DataFrame] =
    version.orElse(currentVersion()).map { v =>
      val m = readManifest(v)
      orEmpty(m, scan(m, overlapping(m, statCol, lo, hi)))
    }

  /** Point-lookup read: rows of `probe`'s key values, touching ONLY
    * the hash buckets those keys map to. The same [[bucketCol]] hash
    * that routed the rows at write time routes the probe at read time,
    * so a k-key lookup opens at most min(k, nBuckets) bucket
    * directories — O(probed buckets), not O(table) — and the residual
    * broadcast semi join inside them is exact. The collected set is
    * bucket IDs only (≤ nBuckets ints), never data. This is the
    * serving-path complement to [[readPruned]]'s range pruning.
    */
  def lookup(probe: DataFrame, keys: Seq[String], version: Option[Int] = None): Option[DataFrame] =
    version.orElse(currentVersion()).map { v =>
      val m = checked(readManifest(v), v, keys)
      val want = probe.select(bucketCol(keys).as("__b")).distinct()
        .collect().map(_.getInt(0)).toSet
      // no probed bucket holds rows: the empty frame needs no semi join
      orEmpty(m, scan(m, want).map(
        _.join(broadcast(probe.select(keys.map(col): _*).distinct()), keys, "left_semi")))
    }

  /** Write `rows` (which must hold the COMPLETE contents of every
    * bucket they touch) as the dirty buckets of the next version;
    * untouched buckets inherit the base manifest's files. `statsCols`
    * (numeric) get per-bucket min/max zone maps recorded for
    * [[readPruned]]. Returns the committed version. Throws
    * [[VersionedTable.CommitConflict]] if another writer committed
    * first (retry against the new base). */
  def commit(rows: DataFrame, keys: Seq[String], expectedBase: Option[Int],
             statsCols: Seq[String] = Nil): Int =
    commitInternal(rows, keys, expectedBase, statsCols)

  /** Full-snapshot commit: `rows` REPLACE the whole table. Every
    * bucket is owned by this version — a bucket absent from `rows`
    * becomes empty instead of inheriting the base's files (plain
    * [[commit]] would silently resurrect old rows whose bucket the
    * new snapshot doesn't touch) — and the version's schema is the
    * rows' schema. The overwrite a quantizer refresh / index rebuild
    * needs. */
  def overwrite(rows: DataFrame, keys: Seq[String], expectedBase: Option[Int],
                statsCols: Seq[String] = Nil): Int =
    commitInternal(rows, keys, expectedBase, statsCols, replace = true)

  /** MERGE (upsert): for every key in `updates`, replace the current
    * rows with that key; keys absent from the table are inserted; rows
    * whose `deleteCol` is true are deleted instead. Only the buckets
    * the update keys hash into are rewritten — every other bucket is
    * inherited untouched. `updates` must carry the table schema (plus
    * the optional delete flag) with one row per key. */
  def merge(updates: DataFrame, keys: Seq[String], expectedBase: Option[Int],
            deleteCol: Option[String] = None, statsCols: Seq[String] = Nil): Int = {
    val base = currentVersion()
    if (base != expectedBase)
      throw new CommitConflict(s"base moved: expected $expectedBase, found $base")
    val baseManifest = base.map(v => checked(readManifest(v), v, keys))

    // additive-only evolution: updates may carry NEW columns, but must
    // carry every EXISTING one — otherwise the allowMissingColumns
    // union below would silently rewrite matched rows with NULLs in
    // the omitted column (fail fast instead of corrupting a bucket)
    baseManifest.foreach { bm =>
      val missing = bm.schema.fieldNames.toSet -- updates.columns.toSet
      require(missing.isEmpty,
        s"merge updates omit existing column(s) ${missing.mkString(", ")}; " +
          "schema evolution is additive-only")
      // …and may not RE-TYPE an existing column (unionByName would
      // silently coerce and make later multi-dir reads depend on which
      // bucket's file is seen first); widening along the numeric
      // ladder is the one allowed change. Stored types are nullable
      // throughout, so nested nullability is not a re-type.
      updates.schema.fields.foreach { f =>
        bm.schema.find(_.name == f.name).foreach { bf =>
          val t = asNullable(f.dataType)
          require(widest(bf.dataType, t).contains(t),
            s"merge re-types column ${f.name}: ${bf.dataType.simpleString} -> " +
              s"${f.dataType.simpleString}; existing columns must keep or widen their type")
        }
      }
    }

    val upd = updates.withColumn("__bucket", bucketCol(keys))
    val dirty = upd.select("__bucket").distinct().collect().map(_.getInt(0)).toSet

    // survivors: current rows of the dirty buckets whose key is NOT
    // being updated. Read ONLY the dirty buckets' directories from the
    // base manifest — file-level pruning, so a merge scans O(dirty
    // buckets) as documented, never O(table) (a read(base) + filter
    // would union every bucket's files before filtering). Duplicate
    // build keys cannot change a left-anti join, so no distinct.
    val survivors = baseManifest.flatMap(scan(_, dirty))
      .map(_.join(updates.select(keys.map(col): _*), keys, "left_anti"))
    val inserts = deleteCol match {
      case Some(dc) => updates.filter(!col(dc)).drop(dc)
      case None => updates
    }
    // allowMissingColumns: updates may carry a NEW column (additive
    // schema evolution) — survivors read NULL for it, and only the
    // dirty buckets are rewritten with the widened schema
    val newRows = survivors.fold(inserts)(_.unionByName(inserts, allowMissingColumns = true))
    commitInternal(newRows, keys, expectedBase, statsCols, dirty = Some(dirty))
  }

  /** The one retry policy for optimistic commits: run `attempt` with
    * the current version as its expected base; when it loses the race
    * ([[VersionedTable.CommitConflict]] — another writer landed first)
    * re-read the base and run it again, up to
    * [[VersionedTable.CommitAttempts]] times in all, then let the
    * conflict propagate. `attempt` must derive everything it commits
    * from the base it is handed. */
  def retrying[T](attempt: Option[Int] => T): T = {
    def go(tries: Int): T =
      try attempt(currentVersion())
      catch { case _: CommitConflict if tries < VersionedTable.CommitAttempts => go(tries + 1) }
    go(1)
  }

  /** Rewrite EVERY bucket of the current version into fresh files —
    * heals the fragmentation of many small copy-on-write commits
    * (readers pinned to old versions are undisturbed; [[vacuum]]
    * reclaims the old files once they age out). `layoutSort` orders
    * rows within each rewritten bucket file — pass a
    * [[graft.operators.ZOrder.zorderCol]] key to give parquet
    * row-group min/max pruning locality on several columns at once
    * (compaction is exactly when a table format applies clustering). */
  def compact(keys: Seq[String], expectedBase: Option[Int],
              statsCols: Seq[String] = Nil, layoutSort: Seq[Column] = Nil): Int = {
    val cur = read(expectedBase)
      .getOrElse(throw new IllegalStateException("nothing to compact"))
    commitInternal(cur, keys, expectedBase, statsCols, layoutSort, replace = true)
  }

  /** number of distinct data directories backing `version` — the
    * fragmentation measure compaction collapses to 1 per bucket. */
  def dataDirCount(version: Option[Int] = None): Int =
    version.orElse(currentVersion()).map { v =>
      readManifest(v).files.values.map(_.split("/__bucket=")(0)).toSet.size
    }.getOrElse(0)

  /** The one commit path. `dirty` names the buckets this version
    * logically rewrites (a merge that deletes a bucket empty still owns
    * that bucket; default: the buckets `rows` populate); `replace`
    * makes the version own every bucket and take the rows' schema. */
  private def commitInternal(rows: DataFrame, keys: Seq[String], expectedBase: Option[Int],
                             statsCols: Seq[String], layoutSort: Seq[Column] = Nil,
                             dirty: Option[Set[Int]] = None, replace: Boolean = false): Int = {
    val base = currentVersion()
    if (base != expectedBase)
      throw new CommitConflict(s"base moved: expected $expectedBase, found $base")
    val layout = Layout(nBuckets, keys.head)
    val bm = base.map(v => checked(readManifest(v), v, keys))
      .getOrElse(Manifest(new StructType(), Some(layout), Map.empty, Map.empty))
    val next = base.getOrElse(-1) + 1
    // writer-UNIQUE data directory: two writers racing for the same
    // next version must never share a data path — the loser of the
    // manifest publish would otherwise have already clobbered the
    // winner's files (overwrite-mode write happens before the atomic
    // publish decides the race). The manifest records the actual dir,
    // so losers only ever leave an orphan directory behind (reclaimed
    // by vacuum), never corruption.
    val dataRel = f"data/v$next%06d-" + java.util.UUID.randomUUID().toString.take(8)

    // shuffle rows to their bucket before the partitioned write — one
    // file per written bucket instead of (tasks × buckets) small files.
    // Hash partitioning never splits a bucket and AQE's coalescing only
    // merges partitions, so the write runs as many tasks as its rows
    // need: a one-key merge is one task, not nBuckets
    val shuffled = rows.withColumn("__bucket", bucketCol(keys))
      .repartition(col("__bucket"))
    val laidOut =
      if (layoutSort.nonEmpty) shuffled.sortWithinPartitions(col("__bucket") +: layoutSort: _*)
      else shuffled
    // persist only when the zone-map pass re-reads the shuffle output
    val bucketed = if (statsCols.nonEmpty) laidOut.persist() else laidOut
    bucketed.write.partitionBy("__bucket").mode("overwrite").parquet(s"$baseDir/$dataRel")

    // which buckets actually hold rows: the partitioned write creates a
    // `__bucket=` directory for exactly those (none for an empty write)
    val populated = {
      val ls = Files.list(Paths.get(baseDir, dataRel))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("__bucket=")).map(_.stripPrefix("__bucket=").toInt).toSet
      finally ls.close()
    }
    // zone-map ranges, answered from the persisted shuffle output
    val perBucket =
      if (statsCols.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else try {
        val aggs = statsCols.flatMap(c => Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
        bucketed.groupBy("__bucket").agg(aggs.head, aggs.tail: _*).collect()
      } finally bucketed.unpersist()
    val owned = if (replace) (0 until nBuckets).toSet else dirty.getOrElse(populated)
    val freshZones = perBucket.flatMap { r =>
      val b = r.getAs[Int]("__bucket")
      statsCols.flatMap { c =>
        // NaN/Infinity (or any non-decimal rendering) ⇒ no recorded
        // range for this bucket — unknown never prunes, so the commit
        // stays safe instead of aborting after the data write
        (Option(r.getAs[Any](s"__mn_$c")), Option(r.getAs[Any](s"__mx_$c"))) match {
          case (Some(mn), Some(mx)) =>
            scala.util.Try((b, c) -> (BigDecimal(mn.toString), BigDecimal(mx.toString))).toOption
          case _ => None
        }
      }
    }.toMap
    // the written dirs' schema is the rows' schema, as a read returns it
    val written = asNullable(rows.schema).asInstanceOf[StructType]
    // untouched buckets keep their files and zone maps; owned-but-empty
    // buckets simply vanish from the manifest
    val manifest = Manifest(
      schema = if (replace) written else widen(bm.schema, written),
      layout = Some(layout),
      files = bm.files.filter { case (b, _) => !owned(b) } ++
        (owned & populated).map(b => b -> s"$dataRel/__bucket=$b"),
      zones = bm.zones.filter { case ((b, _), _) => !owned(b) } ++ freshZones)

    // the commit point: the no-replace publish lets exactly one writer
    // create v<next> — the losing racer lands here
    try graft.core.Fs.publishFile(manifestPath(next), manifest.render, replace = false)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflict(s"version $next already committed by another writer")
    }
    next
  }

  /** CDC read with BOTH images: the row-level changes between two
    * committed versions. Only buckets whose manifest entry CHANGED
    * between the versions are read — untouched buckets are
    * byte-identical files, so they provably hold no changes. Inside the
    * changed buckets a full-outer join on the key separates inserted
    * (no pre image: `insert`, post image), deleted (no post image:
    * `delete`, pre image), updated (both, differing: two rows,
    * `update_preimage` with the old values and `update_postimage` with
    * the new) and untouched rows (both, equal — dropped). This is the
    * contract incremental consumers need to RETRACT old contributions
    * and ADD new ones (e.g. maintaining an aggregate materialized view
    * by delta application instead of recompute): every change row
    * carries a well-defined sign.
    *
    * At scale this is the incremental-consumer contract: a downstream
    * job reads O(changed buckets), not O(table), per version step.
    */
  def cdc(keys: Seq[String], fromVersion: Int, toVersion: Int): DataFrame = {
    val (j, dataCols) = changedImages(keys, fromVersion, toVersion)
    def event(img: Column, tpe: String): Column =
      struct((dataCols.map(c => img.getField(c).as(c)) :+ lit(tpe).as("change_type")): _*)
    val events = when(col("__pre").isNull, array(event(col("__post"), "insert")))
      .when(col("__post").isNull, array(event(col("__pre"), "delete")))
      // null-safe struct compare: a changed-to/from-NULL field is a
      // change, not a no-op
      .when(!(col("__pre") <=> col("__post")),
        array(event(col("__pre"), "update_preimage"), event(col("__post"), "update_postimage")))
    j.withColumn("__ev", explode(events))
      .select(keys.map(col) ++ dataCols.map(c => col("__ev").getField(c).as(c))
        :+ col("__ev").getField("change_type").as("change_type"): _*)
  }

  /** [[cdc]] with one row per changed key: `insert` and `update` carry
    * the post image, `delete` the pre image. */
  def diff(keys: Seq[String], fromVersion: Int, toVersion: Int): DataFrame =
    cdc(keys, fromVersion, toVersion).filter(col("change_type") =!= "update_preimage")
      .withColumn("change_type",
        when(col("change_type") === "update_postimage", "update").otherwise(col("change_type")))

  /** shared by [[diff]]/[[cdc]]: full-outer key join of the pre/post
    * images of ONLY the buckets whose manifest entry changed. */
  private def changedImages(keys: Seq[String], fromVersion: Int, toVersion: Int): (DataFrame, Seq[String]) = {
    val mF = readManifest(fromVersion)
    val mT = readManifest(toVersion)
    val changed = (mF.files.keySet ++ mT.files.keySet).filter(b => mF.files.get(b) != mT.files.get(b))
    val pre  = scan(mF, changed)
    val post = scan(mT, changed)
    val schema = pre.orElse(post).getOrElse {
      // no-op step (e.g. a merge whose update set was empty): changed
      // nothing, so the delta is the EMPTY change set, not an error —
      // a follower must be able to step over it
      val empty = orEmpty(mT, None)
      val dcs = mT.schema.fieldNames.toSeq.filterNot(keys.contains)
      def packedEmpty(as: String) =
        empty.select((keys.map(col) :+ struct(dcs.map(col): _*).as(as)): _*)
      return (packedEmpty("__pre").join(packedEmpty("__post"), keys, "full_outer"), dcs)
    }
    // data columns = UNION of both sides' schemas, so a version step
    // that introduced (or dropped) a column still yields comparable
    // images: the side without the column carries NULL, and a value
    // appearing where there was NULL reads as an update
    val dataCols = (pre.toSeq ++ post.toSeq).flatMap(_.columns)
      .distinct.filterNot(keys.contains)
    val colType: Map[String, DataType] =
      (pre.toSeq ++ post.toSeq).flatMap(_.schema.fields).map(f => f.name -> f.dataType).toMap
    def packed(dfO: Option[DataFrame], as: String): DataFrame = {
      val df = dfO.getOrElse(schema.filter(lit(false)))
      val have = df.columns.toSet
      val fields = dataCols.map(c =>
        if (have.contains(c)) col(c) else lit(null).cast(colType(c)).as(c))
      df.select((keys.map(col) :+ struct(fields: _*).as(as)): _*)
    }
    (packed(pre, "__pre").join(packed(post, "__post"), keys, "full_outer"), dataCols)
  }

  /** drop manifests older than the newest `keepVersions` and delete
    * data directories no surviving manifest references. With
    * `removeOrphans` (only safe when no writer is in flight — an
    * in-progress commit's directory is not referenced yet), also
    * reclaims directories left by writers that lost a commit race. */
  def vacuum(keepVersions: Int, removeOrphans: Boolean = false): Unit = {
    require(keepVersions >= 1)
    val all = versions()
    val (drop, keep) = all.splitAt(math.max(0, all.size - keepVersions))
    val live = keep.flatMap(v => readManifest(v).files.values).toSet
    def deleteDir(rel: String): Unit = graft.core.Fs.deleteRecursively(Paths.get(baseDir, rel).toFile)
    // data paths are per-version bucket dirs; delete dead ones
    (drop.flatMap(v => readManifest(v).files.values).toSet -- live).foreach(deleteDir)
    drop.foreach(v => Files.deleteIfExists(manifestPath(v)))
    if (removeOrphans) {
      val dataRoot = Paths.get(baseDir, "data")
      if (Files.exists(dataRoot)) {
        val referencedDirs = live.map(_.split("/__bucket=")(0))
        val ls = Files.list(dataRoot)
        try ls.iterator().asScala.toSeq
          .map(p => "data/" + p.getFileName.toString)
          .filterNot(referencedDirs.contains)
          .foreach(deleteDir)
        finally ls.close()
      }
    }
  }
}

object VersionedTable {
  /** thrown to the writer that loses an optimistic commit race (stale
    * base, or another writer created the same next version first) */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** thrown, before anything is read or written, to a write or lookup
    * whose handle lays rows out differently from its base version (a
    * different bucket count or bucket column), or whose base records
    * no layout. Retrying cannot help: open the table with its layout. */
  final class LayoutMismatch(msg: String) extends RuntimeException(msg)

  /** how rows map to buckets: `pmod(xxhash64(column), nBuckets)`. */
  private[sources] final case class Layout(nBuckets: Int, column: String) {
    override def toString: String = s"pmod(xxhash64($column), $nBuckets)"
  }

  /** how many times [[VersionedTable.retrying]] runs a losing commit. */
  private val CommitAttempts = 5

  /** One committed version, as its manifest holds it. The file's first
    * line is the version's schema (`StructType.json`, one compact
    * line); the second is its layout, `layout \t nBuckets \t bucket
    * column`; then one line per populated bucket, in bucket order:
    * `bucket \t data dir`, followed by the bucket's zone maps as
    * `\t column \t min \t max` each. `zones` maps (bucket, column) to
    * the recorded range; a missing entry means "unknown — never
    * prune". A manifest without the layout line parses with no
    * layout, which every write and lookup refuses. */
  private[sources] final case class Manifest(schema: StructType, layout: Option[Layout], files: Map[Int, String],
                                             zones: Map[(Int, String), (BigDecimal, BigDecimal)]) {
    def render: Array[Byte] = {
      val buckets = files.toSeq.sortBy(_._1).map { case (b, dir) =>
        val ranges = zones.toSeq.collect { case ((`b`, c), (mn, mx)) => s"\t$c\t$mn\t$mx" }.sorted
        s"$b\t$dir" + ranges.mkString
      }
      val header = schema.json +: layout.toSeq.map(l => s"layout\t${l.nBuckets}\t${l.column}")
      (header ++ buckets).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  private[sources] object Manifest {
    def parse(lines: Seq[String]): Manifest = {
      val (layoutLines, buckets) = lines.tail.filter(_.nonEmpty).map(_.split("\t", -1))
        .partition(_(0) == "layout")
      Manifest(
        DataType.fromJson(lines.head).asInstanceOf[StructType],
        layoutLines.headOption.map(f => Layout(f(1).toInt, f(2))),
        buckets.map(f => f(0).toInt -> f(1)).toMap,
        buckets.flatMap { f =>
          f.drop(2).grouped(3).map { case Array(c, mn, mx) => (f(0).toInt, c) -> (BigDecimal(mn), BigDecimal(mx)) }
        }.toMap)
    }
  }
}
