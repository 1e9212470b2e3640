package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

import VersionedTable.CommitConflict

/** Transactional versioned table — the reference's appendable
  * versioned block DB (`block/mod.rs:152-293`) generalized into the
  * minimal table-format mechanism (what Delta/Iceberg provide,
  * reduced to its essentials), for sinks that need concurrent-reader
  * correctness at scale:
  *
  *   - **Immutable data files**, hash-bucketed by the table key; a
  *     version only WRITES its dirty buckets and inherits every
  *     untouched bucket's files from its base manifest — partition-
  *     level copy-on-write, no full-table rewrite.
  *   - **Atomic commits**: a manifest (bucket → data path) is
  *     published as `v%06d.manifest` with [[graft.core.Fs.publishFile]]
  *     (temp file, forced to disk, atomic link/move — never visible
  *     empty or torn, even after a power loss). The no-replace publish
  *     doubles as optimistic concurrency control — two writers
  *     committing the same next version race on the name and exactly
  *     one wins ([[VersionedTable.CommitConflict]] for the loser). The
  *     stats sidecar and the `LATEST` pointer are then published the
  *     same way, replacing.
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
  *     min/max for chosen numeric columns (`v%06d.stats` sidecar);
  *     [[readPruned]] skips every bucket whose range cannot satisfy a
  *     predicate — the manifest-level analog of parquet row-group
  *     pruning, applied before any file is opened.
  *   - **Compaction**: many small commits fragment a bucket across
  *     version directories; [[compact]] rewrites every bucket into
  *     one fresh version (readers on old versions are undisturbed).
  *   - **Retention**: [[vacuum]] deletes data files unreferenced by
  *     the kept manifests (age out old versions without breaking
  *     pinned readers inside the retention window).
  *   - **Metadata from the commit**: a version's schema is derived
  *     from its commits — each written bucket directory's schema is
  *     the committed rows' schema, recorded as the write happens. A
  *     footer is read only for a directory this instance did not
  *     write (another writer's, or one from before a restart), once per
  *     directory. The set of populated buckets is the set of
  *     `__bucket=` directories the write created, so a commit without
  *     zone maps runs no job beyond its write. The on-disk format
  *     (manifests, stats sidecars, data layout) is the same either way.
  */
class VersionedTable(spark: SparkSession, baseDir: String, nBuckets: Int = 16) {
  require(nBuckets > 0)

  private val manifestDir = Paths.get(baseDir, "_manifests")
  private val latestFile = Paths.get(baseDir, "LATEST")

  private def manifestPath(v: Int): Path = manifestDir.resolve(f"v$v%06d.manifest")
  private def statsPath(v: Int): Path = manifestDir.resolve(f"v$v%06d.stats")

  /** The manifest publish is the commit point; LATEST is a cheap
    * pointer cache. A writer crashing between the two leaves an
    * orphaned manifest that LATEST never reaches — naively trusting
    * LATEST would then make every later commit compute the same next
    * version and conflict forever. Reconcile: the current version is
    * max(pointer, newest on-disk manifest) — the orphan is ADOPTED
    * (its manifest is complete and atomic; a missing stats sidecar
    * only disables pruning, which is always safe). */
  def currentVersion(): Option[Int] = {
    val fromPtr =
      if (Files.exists(latestFile)) Some(Files.readString(latestFile).trim.toInt) else None
    val fromManifests =
      if (!Files.exists(manifestDir)) None
      else Files.list(manifestDir).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(_.stripPrefix("v").stripSuffix(".manifest").toInt)
        .maxOption
    (fromPtr.toSeq ++ fromManifests.toSeq).maxOption
  }

  /** bucket assignment expression for the table key columns. */
  def bucketCol(keys: Seq[String]): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")

  private def readManifest(v: Int): Map[Int, String] =
    Files.readAllLines(manifestPath(v)).asScala.filter(_.nonEmpty).map { line =>
      val Array(b, p) = line.split("\t", 2)
      b.toInt -> p
    }.toMap

  /** (bucket, column) → (min, max), compared as BigDecimal. Missing
    * entries mean "unknown — never prune". */
  private def readStats(v: Int): Map[(Int, String), (BigDecimal, BigDecimal)] =
    if (!Files.exists(statsPath(v))) Map.empty
    else Files.readAllLines(statsPath(v)).asScala.filter(_.nonEmpty).map { line =>
      val Array(b, c, mn, mx) = line.split("\t", 4)
      (b.toInt, c) -> (BigDecimal(mn), BigDecimal(mx))
    }.toMap

  /** ONE multi-path scan with the version's explicit schema: the
    * parquet reader fills columns a file lacks with NULL, which makes
    * the read both additive-evolution-safe AND a single relation —
    * per-dir `spark.read.parquet` + unionByName would pay one driver
    * file-listing/footer pass per bucket dir (O(nBuckets) analysis
    * time on every action). */
  private def unionDirs(dirs: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dirs: _*)

  /** the widened schema of `version` = union of every bucket dir's
    * schema. Partial reads ([[lookup]], [[readPruned]]) conform to this
    * so their result schema never depends on WHICH buckets were probed
    * after an evolving merge. Safe to memoize: a committed version's
    * files are immutable. */
  private val schemaCache = scala.collection.concurrent.TrieMap.empty[Int, StructType]

  /** schema of each bucket directory (relative path), as a parquet read
    * reports it. A commit records the dirs it writes; a dir this
    * instance did not write (another writer's, or one from before a
    * restart) costs one footer read, once. Data dirs are writer-unique
    * and immutable, so an entry never goes stale. */
  private val dirSchemas = scala.collection.concurrent.TrieMap.empty[String, StructType]

  private[sources] def cachedVersions: Set[Int] = schemaCache.keySet.toSet
  private[sources] def cachedDirs: Set[String] = dirSchemas.keySet.toSet

  private def dirSchema(rel: String): StructType =
    dirSchemas.getOrElseUpdate(rel, spark.read.parquet(s"$baseDir/$rel").schema)

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

  private def versionSchema(v: Int): StructType =
    schemaCache.getOrElseUpdate(v, {
      val fields = scala.collection.mutable.LinkedHashMap[String, StructField]()
      // sorted dirs + widest-type merge: the result must not depend on
      // Map iteration order when bucket dirs disagree on a column's
      // width (a narrower cached type can fail or mis-read wider files)
      readManifest(v).values.toSeq.distinct.sorted.foreach { rel =>
        dirSchema(rel).fields.foreach { f =>
          fields.get(f.name) match {
            case None => fields(f.name) = f
            case Some(prev) =>
              val w = widest(prev.dataType, f.dataType).getOrElse(prev.dataType)
              if (w != prev.dataType) fields(f.name) = prev.copy(dataType = w)
          }
        }
      }
      StructType(fields.values.toSeq)
    })

  /** snapshot read at `version` (default: latest); None if the table
    * has no committed version yet. */
  def read(version: Option[Int] = None): Option[DataFrame] =
    version.orElse(currentVersion()).map { v =>
      unionDirs(readManifest(v).values.toSeq.distinct.map(rel => s"$baseDir/$rel"), versionSchema(v))
    }

  /** buckets whose recorded [min,max] for `statCol` intersects
    * [lo,hi] — plus every bucket with no recorded range (unknown is
    * never prunable). Exposed for spec/introspection. */
  def bucketsFor(statCol: String, lo: BigDecimal, hi: BigDecimal, version: Option[Int] = None): Seq[Int] =
    version.orElse(currentVersion()).toSeq.flatMap { v =>
      val stats = readStats(v)
      readManifest(v).keys.filter { b =>
        stats.get((b, statCol)) match {
          case Some((mn, mx)) => hi >= mn && lo <= mx
          case None => true
        }
      }.toSeq.sorted
    }

  /** snapshot read that SKIPS buckets whose zone map proves they hold
    * no row with `statCol` in [lo,hi]. The caller still applies the
    * exact predicate — pruning is a superset guarantee, same contract
    * as parquet row-group skipping. */
  def readPruned(statCol: String, lo: BigDecimal, hi: BigDecimal, version: Option[Int] = None): Option[DataFrame] =
    version.orElse(currentVersion()).map { v =>
      val man = readManifest(v)
      val keep = bucketsFor(statCol, lo, hi, Some(v)).toSet
      val dirs = man.filter { case (b, _) => keep.contains(b) }.values.toSeq.distinct
      val full = versionSchema(v)
      if (dirs.isEmpty)
        // every bucket pruned: preserve the (widened) schema, no rows
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
      else unionDirs(dirs.map(rel => s"$baseDir/$rel"), full)
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
      val man = readManifest(v)
      val want = probe.select(bucketCol(keys).as("__b")).distinct()
        .collect().map(_.getInt(0)).toSet
      val dirs = man.filter { case (b, _) => want.contains(b) }.values.toSeq.distinct
      val full = versionSchema(v)
      // no probed bucket holds rows: the empty frame needs no semi join
      // (and an empty version's schema has no key column to join on)
      if (dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
      else unionDirs(dirs.map(rel => s"$baseDir/$rel"), full)
        .join(broadcast(probe.select(keys.map(col): _*).distinct()), keys, "left_semi")
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
    commitInternal(rows, keys, expectedBase, forcedDirty = None, statsCols)

  /** Full-snapshot commit: `rows` REPLACE the whole table. Every
    * bucket is owned by this version — a bucket absent from `rows`
    * becomes empty instead of inheriting the base's files (plain
    * [[commit]] would silently resurrect old rows whose bucket the
    * new snapshot doesn't touch). The overwrite a quantizer refresh /
    * index rebuild needs. */
  def overwrite(rows: DataFrame, keys: Seq[String], expectedBase: Option[Int],
                statsCols: Seq[String] = Nil): Int =
    commitInternal(rows, keys, expectedBase,
      forcedDirty = Some((0 until nBuckets).toSet), statsCols)

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

    // additive-only evolution: updates may carry NEW columns, but must
    // carry every EXISTING one — otherwise the allowMissingColumns
    // union below would silently rewrite matched rows with NULLs in
    // the omitted column (fail fast instead of corrupting a bucket)
    base.foreach { bv =>
      val baseSchema = versionSchema(bv)
      val missing = baseSchema.fieldNames.toSet -- updates.columns.toSet
      require(missing.isEmpty,
        s"merge updates omit existing column(s) ${missing.mkString(", ")}; " +
          "schema evolution is additive-only")
      // …and may not RE-TYPE an existing column (unionByName would
      // silently coerce and make later multi-dir reads depend on which
      // bucket's file is seen first); widening along the numeric
      // ladder is the one allowed change. Stored types are nullable
      // throughout, so nested nullability is not a re-type.
      updates.schema.fields.foreach { f =>
        baseSchema.find(_.name == f.name).foreach { bf =>
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
    // would union every bucket's files before filtering).
    val survivors = base.map { bv =>
      val dirtyDirs = readManifest(bv)
        .filter { case (b, _) => dirty.contains(b) }
        .values.toSeq.distinct
      if (dirtyDirs.isEmpty) null
      else unionDirs(dirtyDirs.map(rel => s"$baseDir/$rel"), versionSchema(bv))
        .join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
    }.orNull
    val inserts = deleteCol match {
      case Some(dc) => updates.filter(!col(dc)).drop(dc)
      case None => updates
    }
    // allowMissingColumns: updates may carry a NEW column (additive
    // schema evolution) — survivors read NULL for it, and only the
    // dirty buckets are rewritten with the widened schema
    val newRows =
      if (survivors == null) inserts
      else survivors.unionByName(inserts, allowMissingColumns = true)
    commitInternal(newRows, keys, expectedBase, forcedDirty = Some(dirty), statsCols)
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
    commitInternal(cur, keys, expectedBase, forcedDirty = None, statsCols, layoutSort)
  }

  /** number of distinct data directories backing `version` — the
    * fragmentation measure compaction collapses to 1 per bucket. */
  def dataDirCount(version: Option[Int] = None): Int =
    version.orElse(currentVersion()).map { v =>
      readManifest(v).values.map(_.split("/__bucket=")(0)).toSet.size
    }.getOrElse(0)

  private def commitInternal(rows: DataFrame, keys: Seq[String], expectedBase: Option[Int],
                             forcedDirty: Option[Set[Int]], statsCols: Seq[String],
                             layoutSort: Seq[Column] = Nil): Int = {
    val base = currentVersion()
    if (base != expectedBase)
      throw new CommitConflict(s"base moved: expected $expectedBase, found $base")
    val next = base.getOrElse(-1) + 1
    // writer-UNIQUE data directory: two writers racing for the same
    // next version must never share a data path — the loser of the
    // manifest rename would otherwise have already clobbered the
    // winner's files (overwrite-mode write happens before the atomic
    // rename decides the race). The manifest records the actual dir,
    // so losers only ever leave an orphan directory behind (reclaimed
    // by vacuum), never corruption.
    val dataRel = f"data/v$next%06d-" + java.util.UUID.randomUUID().toString.take(8)

    // shuffle rows to their bucket before the partitioned write — one
    // file per bucket instead of (tasks × buckets) small files
    val shuffled = rows.withColumn("__bucket", bucketCol(keys))
      .repartition(nBuckets, col("__bucket"))
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
    // dirty = buckets this version logically rewrote (a merge that
    // deletes a bucket empty still owns that bucket); dirty-but-empty
    // buckets simply vanish from the manifest
    val dirty = forcedDirty.getOrElse(populated)

    val inherited = base.map(readManifest).getOrElse(Map.empty)
    val fresh = (dirty & populated).map(b => b -> s"$dataRel/__bucket=$b").toMap
    val mapping = inherited.filter { case (b, _) => !dirty.contains(b) } ++ fresh

    val inheritedStats = base.map(readStats).getOrElse(Map.empty)
      .filter { case ((b, _), _) => !dirty.contains(b) }
    val freshStats = perBucket.flatMap { r =>
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
    val stats = inheritedStats ++ freshStats

    def text(lines: Seq[String]) = lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // the commit point: the no-replace publish lets exactly one writer
    // create v<next> — the losing racer lands here
    try graft.core.Fs.publishFile(manifestPath(next),
      text(mapping.toSeq.sortBy(_._1).map { case (b, p) => s"$b\t$p" }), replace = false)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflict(s"version $next already committed by another writer")
    }
    // the written dirs' schema is the rows' schema, as a read returns it
    val writtenSchema = asNullable(rows.schema).asInstanceOf[StructType]
    fresh.values.foreach(dirSchemas.put(_, writtenSchema))
    // stats sidecar lands after the manifest we won; readers that see
    // the manifest before the stats just skip pruning (never wrong)
    if (stats.nonEmpty)
      graft.core.Fs.publishFile(statsPath(next), text(stats.toSeq.sortBy { case ((b, c), _) => (b, c) }
        .map { case ((b, c), (mn, mx)) => s"$b\t$c\t$mn\t$mx" }), replace = true)
    graft.core.Fs.publishFile(latestFile, text(Seq(next.toString)), replace = true)
    next
  }

  /** CDC read: the row-level changes between two committed versions,
    * classified `insert` / `delete` / `update`. Only buckets whose
    * manifest entry CHANGED between the versions are read — untouched
    * buckets are byte-identical files, so they provably hold no
    * changes. Inside the changed buckets a full-outer join on the key
    * separates inserted (no pre image), deleted (no post image),
    * updated (both, differing), and untouched rows (both, equal —
    * dropped). Emits the post image for insert/update and the pre
    * image for delete, plus a `change_type` column.
    *
    * At scale this is the incremental-consumer contract: a downstream
    * job reads O(changed buckets), not O(table), per version step.
    */
  def diff(keys: Seq[String], fromVersion: Int, toVersion: Int): DataFrame = {
    val (j, dataCols) = changedImages(keys, fromVersion, toVersion)
    val changeType = when(col("__pre").isNull, "insert")
      .when(col("__post").isNull, "delete")
      // null-safe struct compare: a changed-to/from-NULL field is a
      // change, not a no-op
      .when(!(col("__pre") <=> col("__post")), "update")
    val img = when(col("__post").isNull, col("__pre")).otherwise(col("__post"))
    j.withColumn("change_type", changeType)
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) ++ dataCols.map(c => img.getField(c).as(c)) :+ col("change_type"): _*)
  }

  /** CDC read with BOTH images: like [[diff]], but an update emits two
    * rows — `update_preimage` (old values) and `update_postimage` (new
    * values) — alongside `insert` (post) and `delete` (pre). This is
    * the contract incremental consumers need to RETRACT old
    * contributions and ADD new ones (e.g. maintaining an aggregate
    * materialized view by delta application instead of recompute):
    * every change row carries a well-defined sign. Reads the same
    * changed-buckets-only set as [[diff]].
    */
  def cdc(keys: Seq[String], fromVersion: Int, toVersion: Int): DataFrame = {
    val (j, dataCols) = changedImages(keys, fromVersion, toVersion)
    def event(img: Column, tpe: String): Column =
      struct((dataCols.map(c => img.getField(c).as(c)) :+ lit(tpe).as("change_type")): _*)
    val events = when(col("__pre").isNull, array(event(col("__post"), "insert")))
      .when(col("__post").isNull, array(event(col("__pre"), "delete")))
      .when(!(col("__pre") <=> col("__post")),
        array(event(col("__pre"), "update_preimage"), event(col("__post"), "update_postimage")))
    j.withColumn("__ev", explode(events))
      .select(keys.map(col) ++ dataCols.map(c => col("__ev").getField(c).as(c))
        :+ col("__ev").getField("change_type").as("change_type"): _*)
  }

  /** shared by [[diff]]/[[cdc]]: full-outer key join of the pre/post
    * images of ONLY the buckets whose manifest entry changed. */
  private def changedImages(keys: Seq[String], fromVersion: Int, toVersion: Int): (DataFrame, Seq[String]) = {
    val mF = readManifest(fromVersion)
    val mT = readManifest(toVersion)
    val changed = (mF.keySet ++ mT.keySet).filter(b => mF.get(b) != mT.get(b))

    def rowsOf(man: Map[Int, String], v: Int): Option[DataFrame] = {
      val dirs = man.filter { case (b, _) => changed.contains(b) }.values.toSeq.distinct
      if (dirs.isEmpty) None
      else Some(unionDirs(dirs.map(rel => s"$baseDir/$rel"), versionSchema(v)))
    }
    val pre  = rowsOf(mF, fromVersion)
    val post = rowsOf(mT, toVersion)
    val schema = pre.orElse(post).getOrElse {
      // no-op step (e.g. a merge whose update set was empty): changed
      // nothing, so the delta is the EMPTY change set, not an error —
      // a follower must be able to step over it
      val fallback = versionSchema(toVersion)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fallback)
      val dcs = fallback.fieldNames.toSeq.filterNot(keys.contains)
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
    if (!Files.exists(manifestDir)) return
    val versions = Files.list(manifestDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toInt).toSeq.sorted
    val (drop, keep) = versions.splitAt(math.max(0, versions.size - keepVersions))
    val live = keep.flatMap(v => readManifest(v).values).toSet
    def deleteDir(rel: String): Unit = {
      val dir = Paths.get(baseDir, rel)
      if (Files.exists(dir)) {
        Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    }
    // data paths are per-version bucket dirs; delete dead ones, and
    // release their cached schemas with them
    val dead = drop.flatMap(v => readManifest(v).values).toSet -- live
    dead.foreach { rel => deleteDir(rel); dirSchemas.remove(rel) }
    drop.foreach { v =>
      Files.deleteIfExists(manifestPath(v)); Files.deleteIfExists(statsPath(v)); schemaCache.remove(v)
    }
    if (removeOrphans) {
      val dataRoot = Paths.get(baseDir, "data")
      if (Files.exists(dataRoot)) {
        val referenced = (keep ++ drop).flatMap(v =>
          scala.util.Try(readManifest(v).values.toSeq).getOrElse(Nil)).toSet ++ live
        val referencedDirs = referenced.map(_.split("/__bucket=")(0))
        Files.list(dataRoot).iterator().asScala.toSeq
          .map(p => "data/" + p.getFileName.toString)
          .filterNot(referencedDirs.contains)
          .foreach(deleteDir)
      }
    }
  }
}

object VersionedTable {
  /** thrown to the writer that loses an optimistic commit race (stale
    * base, or another writer created the same next version first) */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** how many times [[VersionedTable.retrying]] runs a losing commit. */
  private val CommitAttempts = 5
}
