package graft.operators

import org.apache.spark.sql.SparkSession

import graft.sources.VersionedTable

/** Persistent storage for trained vector quantizers (IVF centroids,
  * PQ codebooks) on a [[VersionedTable]] — the serving path LOADS a
  * committed quantizer instead of re-fitting k-means per query, and a
  * quantizer refresh commits a complete new version atomically
  * (readers pinned to the old version keep the old codebooks; this is
  * the reference's versioned-DB discipline applied to index metadata).
  *
  * Layout: one row per centroid — `(kind, part, idx, vec, n)` where
  * `kind` is "ivf", "pq" or "meta", `part` is the PQ subspace (0 for
  * IVF) and `idx` the centroid index. Model shape (m / ksub / subDim /
  * nlist) is reconstructed from the rows, so a store directory must
  * hold one parameterization — encode the params in the directory
  * name.
  *
  * The "meta" row carries CORPUS STATS captured at train time —
  * currently `n`, the training-corpus row count. Serving knobs that
  * are functions of corpus size (rerank shortlist width, probe count)
  * are properties of the COMMITTED INDEX, not of the query: persisting
  * them with the codebooks means no serve path ever re-counts the
  * corpus (at 100 TB a `count()` per serving call is a full scan for
  * a number that was known when the index was built).
  */
object QuantizerStore {

  /** n is meaningful on the "meta" row only (codebook rows carry -1). */
  final case class QRow(kind: String, part: Int, idx: Int, vec: Seq[Float], n: Long)

  private def table(spark: SparkSession, dir: String) =
    new VersionedTable(spark, dir, nBuckets = 4)

  /** commit a full quantizer snapshot (either or both kinds) plus its
    * train-time corpus stats as the next version. Returns the
    * committed version. */
  def save(spark: SparkSession, dir: String,
           ivf: Option[IvfIndex.Model], pq: Option[PqIndex.Model],
           nCorpus: Long): Int = {
    import spark.implicits._
    require(nCorpus >= 0, s"corpus stats must be a count, got $nCorpus")
    val rows =
      ivf.toSeq.flatMap(m => m.centroids.toSeq.map { case (i, c) => QRow("ivf", 0, i, c.toSeq, -1L) }) ++
      pq.toSeq.flatMap(m =>
        for (j <- 0 until m.m; i <- 0 until m.ksub) yield QRow("pq", j, i, m.codebooks(j)(i).toSeq, -1L))
    require(rows.nonEmpty, "nothing to save")
    val t = table(spark, dir)
    // overwrite, not commit: a refresh snapshot must not inherit
    // stale codebook rows from buckets it happens not to repopulate
    t.overwrite(spark.createDataset(rows :+ QRow("meta", 0, 0, Seq.empty, nCorpus)).toDF(),
      Seq("kind", "part", "idx"), t.currentVersion())
  }

  private def rowsOf(spark: SparkSession, dir: String): Option[Seq[QRow]] = {
    import spark.implicits._
    table(spark, dir).read().map(_.as[QRow].collect().toSeq)
  }

  private def statsOf(rows: Seq[QRow]): Option[Long] =
    rows.find(_.kind == "meta").map(_.n)

  def loadIvf(spark: SparkSession, dir: String): Option[(IvfIndex.Model, Long)] =
    rowsOf(spark, dir).flatMap { rows =>
      val cents = rows.filter(_.kind == "ivf").sortBy(_.idx)
      for {
        n <- statsOf(rows)
        if cents.nonEmpty
      } yield (IvfIndex.Model(cents.map(r => (r.idx, r.vec.toArray)).toArray), n)
    }

  def loadPq(spark: SparkSession, dir: String): Option[(PqIndex.Model, Long)] =
    rowsOf(spark, dir).flatMap { rows =>
      for {
        n <- statsOf(rows)
        pq <- reconstructPq(rows)
      } yield (pq, n)
    }

  /** both halves of an IVF-PQ model from one snapshot read. */
  def loadIvfPq(spark: SparkSession, dir: String): Option[(IvfPq.Model, Long)] =
    rowsOf(spark, dir).flatMap { rows =>
      val cents = rows.filter(_.kind == "ivf").sortBy(_.idx)
      for {
        n <- statsOf(rows)
        pq <- reconstructPq(rows)
        if cents.nonEmpty
      } yield (IvfPq.Model(IvfIndex.Model(cents.map(r => (r.idx, r.vec.toArray)).toArray), pq), n)
    }

  private def reconstructPq(rows: Seq[QRow]): Option[PqIndex.Model] = {
    val pqRows = rows.filter(_.kind == "pq")
    if (pqRows.isEmpty) None
    else {
      val m = pqRows.map(_.part).max + 1
      val ksub = pqRows.map(_.idx).max + 1
      val subDim = pqRows.head.vec.length
      val byKey = pqRows.map(r => (r.part, r.idx) -> r.vec.toArray).toMap
      Some(PqIndex.Model(m, ksub, subDim,
        Array.tabulate(m, ksub)((j, i) => byKey((j, i)))))
    }
  }
}
