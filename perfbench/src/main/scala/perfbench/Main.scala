package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.PerfbenchBus

/** Benchmark of the paper's pipeline: EIP-1186 proofs in, attested
  * Query2 / QueryERC20 answers out.
  *
  * {{{
  * perfbench.Main --workload backfill|serve|append --seed N --seconds S
  *                --trace 0|1 --work DIR [--out DIR]
  * }}}
  *
  * Prints a kernel-block line, then, as the last line, one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * A traced run traces every other operation and writes its spans to
  * `--out`. */
object Main {

  val Workloads: Map[String, Run => Unit] =
    Map("backfill" -> Backfill.apply, "serve" -> Serve.apply, "append" -> Append.apply)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "op_p50_ms" -> "ms", "op_tail_ms" -> "ms", "space_amp" -> "ratio")

  /** span name -> per-layer metric reporting its mean duration */
  private val StageSpans: Seq[(String, String)] = Seq(
    "sources.dump_parse" -> "sources.dump_parse_s",
    "sources.entries_append" -> "sources.entries_append_s",
    "pipeline.verify" -> "pipeline.verify_s",
    "pipeline.storage_db" -> "pipeline.storage_db_s",
    "pipeline.length_match" -> "pipeline.length_match_s",
    "pipeline.state_db" -> "pipeline.state_db_s",
    "pipeline.block_db" -> "pipeline.block_db_s",
    "pipeline.query2" -> "pipeline.query2_s",
    "pipeline.erc20" -> "pipeline.erc20_s",
    "pipeline.revelation" -> "pipeline.revelation_s",
    "pipeline.attest" -> "pipeline.attest_s",
    "streaming.storage_commit" -> "streaming.storage_commit_s",
    "streaming.block_append" -> "streaming.block_append_s")

  val KernelNames: Seq[String] = Seq("host.alu_us", "core.keccak256_us", "core.mpt_verify_us",
    "core.mapping_leaf_commit_us", "core.inner_node_hash_us", "core.digest_add_us",
    "core.state_leaf_hash_us", "core.u256_muldiv_us").flatMap(k => Seq(k, s"$k.par"))

  val PerLayer: Seq[(String, String)] =
    KernelNames.map(_ -> "us") ++ Seq(
      "sources.dump_bytes" -> "bytes", "sources.bytes_written_per_batch" -> "bytes") ++
    StageSpans.map(_._2 -> "s") ++ Seq(
      "pipeline.revelation_rederive_s" -> "s",
      "pipeline.query2_batch_ms_per_req" -> "ms", "pipeline.erc20_batch_ms_per_req" -> "ms",
      "pipeline.read_after_write_ms" -> "ms",
      "streaming.write_amp" -> "ratio",
      "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.task_busy_s" -> "s", "spark.utilization" -> "ratio",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
      "operators.agg_time_ms" -> "ms", "operators.agg_peak_mem_bytes" -> "bytes",
      "operators.rows_out" -> "count",
      "self.sources_s" -> "s", "self.pipeline_s" -> "s", "self.streaming_s" -> "s", "self.bench_s" -> "s",
      "trace.coverage" -> "ratio", "trace.spans" -> "count",
      "trace.op_p50_ms" -> "ms", "trace.untraced_op_p50_ms" -> "ms", "trace.overhead_ms" -> "ms",
      "bench.op_samples" -> "count")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.getOrElse(need("workload"), sys.error(s"unknown workload ${need("workload")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    Harness.deleteTree(work)
    Files.createDirectories(work)
    val threads = Runtime.getRuntime.availableProcessors()
    // before the session starts, so no Spark thread or pending JIT
    // compilation competes with the kernels
    val kernels = Kernels.measure(seed, threads)

    val t0 = System.nanoTime()
    val spark = graft.Graft.session(s"local[$threads]", threads)
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val stats = new SparkStats
    if (traced) {
      Trace.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(stats)
    }

    val run = new Run(spark, seed, seconds, traced, work)
    run.setupS = sessionS
    val tw = System.nanoTime()
    workload(run)
    System.err.println(f"[perfbench] session ${sessionS}%.2f s, workload ${(System.nanoTime() - tw) / 1e9}%.2f s, " +
      f"setup ${run.setupS}%.2f s, ${run.opMs.size + run.tracedOpMs.size} timed ops: " +
      run.opMs.map(ms => f"$ms%.0f").mkString(" ") + "; gc " + Harness.gcSummary())
    val rss = Harness.peakRssMb()
    PerfbenchBus.drain(spark.sparkContext)
    stats.attributeQueries()
    spark.stop()

    println(Json.obj(Seq("kernels" -> Json.obj(kernels.map { case (k, v) => k -> Json.num(v) }))))

    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val values = Map(
          "setup_s" -> run.setupS,
          "peak_rss_mb" -> rss,
          "throughput_per_s" -> Harness.median(run.rates.toSeq),
          "op_p50_ms" -> Harness.median(run.opMs.toSeq),
          "op_tail_ms" -> Harness.tail(run.opMs.toSeq),
          "space_amp" -> run.spaceAmp)
        EndToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        val values = layerMetrics(run, stats, threads) ++ kernels ++ run.layer
        opts.get("out").foreach(o => writeSpans(Paths.get(o), stats))
        PerLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
      }
    run.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    Harness.deleteTree(work)
    println(Json.obj(Seq(
      "correct" -> (run.failed == 0).toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  /** per-layer numbers from the spans of the traced operations */
  private def layerMetrics(run: Run, stats: SparkStats, threads: Int): Map[String, Double] = {
    val spans = Trace.spans
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Trace.Span): Trace.Span = if (s.parent < 0) s else root(byId(s.parent))
    val ops = spans.filter(s => s.parent < 0 && s.layer == "bench")
    val inOp = spans.filter(s => root(s).layer == "bench")
    val nOps = math.max(ops.size, 1).toDouble
    val opWallS = ops.map(_.durNs).sum / 1e9
    val self = Trace.selfNs()
    def meanS(name: String): Double = {
      val xs = spans.filter(_.name == name)
      if (xs.isEmpty) 0.0 else xs.map(_.durNs).sum / 1e9 / xs.size
    }
    def msPerReq(name: String): Double = {
      val xs = spans.filter(_.name == name)
      val reqs = xs.map(_.rowsIn).sum
      if (reqs <= 0) 0.0 else xs.map(_.durNs).sum / 1e6 / reqs
    }
    val acc = new stats.Acc
    inOp.foreach(s => stats.perSpan.get(s.id).foreach(acc += _))
    val layerSelf = inOp.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    val traced = Harness.median(run.tracedOpMs.toSeq)
    val untraced = Harness.median(run.opMs.toSeq)
    StageSpans.map { case (span, metric) => metric -> meanS(span) }.toMap ++ Map(
      "pipeline.revelation_rederive_s" -> {
        // revelation minus the bare answer it reveals (serve only)
        val bare = spans.filter(s => s.parent < 0 && (s.name == "pipeline.query2" || s.name == "pipeline.erc20"))
        if (bare.isEmpty) 0.0 else meanS("pipeline.revelation") - bare.map(_.durNs).sum / 1e9 / bare.size
      },
      "pipeline.query2_batch_ms_per_req" -> msPerReq("pipeline.query2_batch"),
      "pipeline.erc20_batch_ms_per_req" -> msPerReq("pipeline.erc20_batch"),
      "spark.plan_s" -> acc.planMs / 1e3 / nOps,
      "spark.jobs" -> acc.jobs / nOps,
      "spark.tasks" -> acc.tasks / nOps,
      "spark.task_busy_s" -> acc.busyMs / 1e3 / nOps,
      "spark.utilization" -> (if (opWallS == 0) 0.0 else acc.busyMs / 1e3 / (opWallS * threads)),
      "spark.shuffle_write_bytes" -> acc.shuffleWrite / nOps,
      "spark.shuffle_read_bytes" -> acc.shuffleRead / nOps,
      "spark.spill_bytes" -> acc.spill / nOps,
      "spark.gc_s" -> acc.gcMs / 1e3 / nOps,
      "operators.agg_time_ms" -> acc.aggTimeMs / nOps,
      "operators.agg_peak_mem_bytes" -> acc.aggPeakMem / nOps,
      "operators.rows_out" -> acc.aggRowsOut / nOps,
      "self.sources_s" -> layerSelf.getOrElse("sources", 0.0) / nOps,
      "self.pipeline_s" -> layerSelf.getOrElse("pipeline", 0.0) / nOps,
      "self.streaming_s" -> layerSelf.getOrElse("streaming", 0.0) / nOps,
      "self.bench_s" -> layerSelf.getOrElse("bench", 0.0) / nOps,
      "trace.coverage" -> (if (opWallS == 0) 0.0
        else layerSelf.filter(_._1 != "bench").values.sum / opWallS),
      "trace.spans" -> spans.size.toDouble,
      "trace.op_p50_ms" -> traced,
      "trace.untraced_op_p50_ms" -> untraced,
      "trace.overhead_ms" -> (traced - untraced),
      "bench.op_samples" -> (run.opMs.size + run.tracedOpMs.size).toDouble)
  }

  /** spans as JSON lines, with their self time and Spark counters */
  private def writeSpans(dir: java.nio.file.Path, stats: SparkStats): Unit = {
    Files.createDirectories(dir)
    val self = Trace.selfNs()
    val lines = Trace.spans.map { s =>
      val a = stats.perSpan.getOrElse(s.id, new stats.Acc)
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "request" -> s.req.toString,
        "start_ms" -> Json.num(s.start / 1e6 + Trace.epochOffsetMs), "dur_ms" -> Json.num(s.durNs / 1e6),
        "self_ms" -> Json.num(self(s.id) / 1e6), "rows_in" -> s.rowsIn.toString, "rows_out" -> s.rowsOut.toString,
        "jobs" -> a.jobs.toString, "tasks" -> a.tasks.toString, "task_busy_ms" -> a.busyMs.toString,
        "gc_ms" -> a.gcMs.toString, "plan_ms" -> a.planMs.toString,
        "shuffle_write_bytes" -> a.shuffleWrite.toString, "shuffle_read_bytes" -> a.shuffleRead.toString,
        "spill_bytes" -> a.spill.toString, "agg_time_ms" -> a.aggTimeMs.toString,
        "agg_peak_mem_bytes" -> a.aggPeakMem.toString, "agg_rows_out" -> a.aggRowsOut.toString))
    }
    Files.write(dir.resolve("spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
