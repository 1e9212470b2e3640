package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What every workload reports, and the helpers they share. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int, val traced: Boolean,
    val work: Path) {

  /** latency of each timed operation, by tracing state of the op */
  val opMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val tracedOpMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  /** work units per second of each untraced throughput operation; the
    * median is reported, so one slow operation does not move it */
  val rates: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var setupS = 0.0
  var spaceAmp = 0.0
  /** per-layer numbers a workload measures outside the spans */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var opCount = 0L

  def deadlineFromNow(): Long = System.nanoTime() + seconds * 1000000000L

  /** in a traced run every other operation is traced, so the traced and
    * untraced latencies come from the same process and host window */
  def nextOpTraced(): Boolean = {
    opCount += 1
    Trace.request(opCount)
    traced && opCount % 2 == 0
  }

  /** time one operation; in a traced op its work is a span `name`.
    * `latency` ops feed the latency percentiles. */
  def op[T](name: String, tracedOp: Boolean, latency: Boolean = true)(body: => T): (T, Double) = {
    Trace.enable(tracedOp)
    val t0 = System.nanoTime()
    try {
      val out = Trace.span(name)(_ => body)
      val ms = (System.nanoTime() - t0) / 1e6
      if (latency) (if (tracedOp) tracedOpMs else opMs) += ms
      (out, ms)
    } finally Trace.enable(false)
  }

  /** untimed work traced alongside a traced op, outside its timing */
  def probe[T](tracedOp: Boolean)(body: => T): T = {
    Trace.enable(tracedOp)
    try body finally Trace.enable(false)
  }

  /** the workload's set-up step, run `reps` times; the median counts
    * toward `setup_s` */
  def setUp(reps: Int)(step: Int => Unit): Unit = {
    val s = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      step(i)
      (System.nanoTime() - t0) / 1e9
    }
    setupS += Harness.median(s)
    System.err.println(s"[perfbench] set-up steps: ${s.map(x => f"$x%.2f").mkString(" ")} s")
  }

  /** warm-up before the timed window; counts toward `setup_s` */
  def warmUp(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    setupS += s
    System.err.println(f"[perfbench] warm-up: $s%.2f s")
  }

  /** record one checked answer: a mismatch is a failed operation. */
  def check(what: String, ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
    ok
  }

  def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

object Harness {

  val EntrySchema: StructType = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("contract", BinaryType, nullable = false),
    StructField("mapping_slot", IntegerType, nullable = false),
    StructField("length_slot", IntegerType, nullable = false),
    StructField("mapping_key", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  val HeaderSchema: StructType = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("header_rlp", BinaryType, nullable = false),
    StructField("block_hash", BinaryType, nullable = false),
    StructField("parent_hash", BinaryType, nullable = false)))

  /** bytes of user data in one entry: the six entry columns */
  val EntryBytes: Long = 8 + 20 + 4 + 4 + 32 + 32

  def entryRow(e: Gen.Entry): Row =
    Row(e.block, e.c.addr, e.c.slot, e.c.lengthSlot, e.key, e.value)

  def headerRow(h: Gen.Header): Row = Row(h.block, h.rlp, h.hash, h.parent)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Tail latency: p90, interpolated between the two nearest samples.
    * A run holds about twenty timed operations of each workload, too few
    * for a percentile with ten samples beyond it; interpolation keeps the
    * estimate from jumping between order statistics as the count moves. */
  val TailPct = 90.0

  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * TailPct / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** peak resident memory of this process, MB */
  def peakRssMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (Files.exists(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    else Runtime.getRuntime.totalMemory() / 1048576.0
  }

  /** collections and pause time so far, per collector */
  def gcSummary(): String =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(g => s"${g.getName} ${g.getCollectionCount}x ${g.getCollectionTime} ms").mkString(", ")

  /** run `f` over 0 until n on the common fork-join pool */
  def parMap[T](n: Int)(f: Int => T): IndexedSeq[T] =
    java.util.stream.IntStream.range(0, n).parallel().boxed()
      .map[T](i => f(i)).collect(java.util.stream.Collectors.toList[T]).asScala.toIndexedSeq
}

/** minimal JSON writer for the benchmark's output lines */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
