package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Load-don't-retrain serving path for the vector indexes: a trained
  * quantizer is fetched from the in-JVM memo, else loaded from its
  * committed [[QuantizerStore]] table, else trained ONCE, committed,
  * and memoized. Queries that share a parameterization (e.g. the
  * IVF-16 coarse quantizer used by probing, diversity sampling and
  * IVF-PQ routing) pay for exactly one k-means fit per process — and
  * zero once a store commit exists on disk.
  *
  * Every entry carries the TRAIN-TIME CORPUS STATS alongside the
  * model (the `*Stats` variants return both): serving knobs derived
  * from corpus size read the committed `n` like they read the
  * codebooks, so a warm serve path never runs an action over the
  * corpus — the `emb` parameter is by-name and is not even evaluated
  * on a store/memo hit (spec-pinned with a poisoned corpus).
  *
  * Training is deterministic (fixed seed, bounded sample), so a
  * concurrent writer losing the store's commit race can keep its
  * identical in-memory model; the conflict is swallowed.
  */
object QuantizerCache {

  private val memo = new ConcurrentHashMap[String, AnyRef]()

  /** NOT computeIfAbsent: the composed lookup resolves its coarse half
    * through this same memo (reentrancy computeIfAbsent forbids). Two
    * racing threads may both build — training is deterministic, so
    * either result is correct and putIfAbsent keeps exactly one. */
  private def cached[T <: AnyRef](key: String)(make: => T): T = {
    val hit = memo.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = make
      val prev = memo.putIfAbsent(key, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  /** bumped when the at-rest QuantizerStore format changes (v2:
    * corpus-stats meta row; v3: self-describing VersionedTable
    * manifests) — a format change re-keys the directory instead of
    * failing to parse a pre-change snapshot. */
  private val FormatVersion = 3

  private def storeDir(sfDir: String, key: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    new java.io.File(s"target/qstore/v$FormatVersion/$tag/$key").getAbsolutePath
  }

  /** test hook: drop the in-JVM memo so the next lookup exercises the
    * committed-store load path. */
  private[operators] def invalidate(): Unit = memo.clear()

  /** a failed store commit (lost race with a concurrent writer) keeps
    * the just-trained in-memory model — identical content, fixed seed. */
  private def swallowConflict(f: => Unit): Unit =
    try f catch { case _: graft.sources.VersionedTable.CommitConflict => () }

  def ivfStats(spark: SparkSession, sfDir: String, emb: => DataFrame,
               nlist: Int, seed: Long = 42L): (IvfIndex.Model, Long) =
    cached(s"$sfDir#ivf-$nlist-$seed") {
      val dir = storeDir(sfDir, s"ivf-$nlist-$seed")
      QuantizerStore.loadIvf(spark, dir).getOrElse {
        val frame = emb
        val n = frame.count()
        val m = IvfIndex.train(frame, nlist, seed)
        swallowConflict(QuantizerStore.save(spark, dir, Some(m), None, n))
        (m, n)
      }
    }

  def ivf(spark: SparkSession, sfDir: String, emb: => DataFrame,
          nlist: Int, seed: Long = 42L): IvfIndex.Model =
    ivfStats(spark, sfDir, emb, nlist, seed)._1

  def pqStats(spark: SparkSession, sfDir: String, emb: => DataFrame,
              m: Int, ksub: Int, seed: Long = 42L): (PqIndex.Model, Long) =
    cached(s"$sfDir#pq-$m-$ksub-$seed") {
      val dir = storeDir(sfDir, s"pq-$m-$ksub-$seed")
      QuantizerStore.loadPq(spark, dir).getOrElse {
        val frame = emb
        val n = frame.count()
        val model = PqIndex.train(frame, m, ksub, seed)
        swallowConflict(QuantizerStore.save(spark, dir, None, Some(model), n))
        (model, n)
      }
    }

  def pq(spark: SparkSession, sfDir: String, emb: => DataFrame,
         m: Int, ksub: Int, seed: Long = 42L): PqIndex.Model =
    pqStats(spark, sfDir, emb, m, ksub, seed)._1

  /** the composed model reuses the cached coarse quantizer — only the
    * residual PQ fit is new work when the IVF half is already known. */
  def ivfPqStats(spark: SparkSession, sfDir: String, emb: => DataFrame,
                 nlist: Int, m: Int, ksub: Int, seed: Long = 42L): (IvfPq.Model, Long) =
    cached(s"$sfDir#ivfpq-$nlist-$m-$ksub-$seed") {
      val dir = storeDir(sfDir, s"ivfpq-$nlist-$m-$ksub-$seed")
      QuantizerStore.loadIvfPq(spark, dir).getOrElse {
        val frame = emb
        // resolve the coarse half through ivfStats and ADOPT its
        // corpus count — the nested miss already counted the corpus
        // once; a second count() action here doubled the cold-path
        // scans on exactly the serve path the stats exist to shorten
        val (coarse, n) = ivfStats(spark, sfDir, frame, nlist, seed)
        val model = IvfPq.train(frame, coarse, m, ksub, seed)
        swallowConflict(QuantizerStore.save(spark, dir, Some(model.ivf), Some(model.pq), n))
        (model, n)
      }
    }

  def ivfPq(spark: SparkSession, sfDir: String, emb: => DataFrame,
            nlist: Int, m: Int, ksub: Int, seed: Long = 42L): IvfPq.Model =
    ivfPqStats(spark, sfDir, emb, nlist, m, ksub, seed)._1
}
