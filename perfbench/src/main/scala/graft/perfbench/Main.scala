package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop, single-client benchmark driver: one process, one workload,
  * each op starting when the previous one ends.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  * Main --registry-fixture <dir>
  * }}}
  *
  * Prints the result as the last stdout line: one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones, and
  * the spans and run stamp are written to `<work>/trace.json`.
  */
object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("registry-fixture")) return writeRegistryFixture(opts("registry-fixture"))
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = opts.getOrElse("cores", "4").toInt
    val workload = Workload(workloadName, seed)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      // every other setting as graft.Main / graft.Curate / graft.Bench set it
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSeconds =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val spans = new Spans(enabled = false)
    val setupSeconds = (1 to SetupRepeats).map { i =>
      val dir = s"$work/setup-$i"
      Files.deleteTree(dir)
      val t0 = System.nanoTime()
      workload.setup(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    log(f"$workloadName seed=$seed session ${sessionSeconds}%.2f s, set-ups ${setupSeconds.map(s => f"$s%.2f").mkString(" ")} s, " +
      s"input ${workload.inputRows} rows ${workload.inputBytes} bytes")

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def runOp(): Double = {
      spans.currentOp = attempted
      val (secs, problems) =
        try workload.op(spark, attempted, spans)
        catch { case e: Throwable => (Double.NaN, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")) }
      if (problems.nonEmpty) failures += s"op $attempted: ${problems.mkString("; ")}"
      log(f"$workloadName op $attempted ${secs}%.3f s${if (problems.isEmpty) "" else " FAILED " + problems.mkString("; ")}")
      attempted += 1
      secs
    }
    def window(budget: Double, minOps: Int): Seq[Double] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[Double]
      while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < budget) out += runOp()
      out.toSeq
    }

    val firstOp = runOp()
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val warm = window(seconds, 4).filterNot(_.isNaN)
        val p50 = Stats.median(warm)
        log(f"$workloadName warm ops ${warm.size}, p50 $p50%.3f s")
        Seq(
          ("setup_s", sessionSeconds + Stats.median(setupSeconds), "s"),
          ("first_op_s", firstOp, "s"),
          ("op_s_p50", p50, "s"),
          ("rows_per_s", workload.inputRows / p50, "rows/s"),
          ("retained_heap_mb", Stats.retainedHeapMb(), "MB"))
      } else {
        // after one more warm-up op (the second op still runs JIT-compiling
        // code), untraced and traced ops alternate in the order U T T U ...,
        // so remaining warm-up drift hits both samples alike; the listeners
        // are attached only to the traced ops
        runOp()
        val probe = new EngineProbe(spark)
        val engine = mutable.ArrayBuffer.empty[Map[String, Double]]
        val untraced = mutable.ArrayBuffer.empty[Double]
        val traced = mutable.ArrayBuffer.empty[Double]
        def tracedOp(): Unit = {
          spans.enabled = true
          probe.register()
          val (secs, m) = probe.measure(runOp())
          probe.unregister()
          spans.enabled = false
          traced += secs
          engine += m
        }
        val t0 = System.nanoTime()
        while (traced.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
          if (traced.size % 2 == 0) { untraced += runOp(); tracedOp() }
          else { tracedOp(); untraced += runOp() }
        }
        spans.enabled = true
        val tracedP50 = Stats.median(traced.filterNot(_.isNaN).toSeq)
        spans.currentOp = Spans.LayerPass
        // the layer passes: this workload's, the other workload's (on its own
        // set-up, after one op, which runs cold here) and the registered
        // queries', so every traced run measures every layer
        val other = Workload.other(workloadName, seed)
        def pass(body: => (Map[String, Double], Seq[String])): Map[String, Double] = {
          val (m, problems) =
            try body catch { case e: Throwable => (Map.empty[String, Double], Seq(s"threw $e")) }
          failures ++= problems.map("layer pass: " + _)
          m
        }
        val layerMetrics = pass(workload.layers(spark, spans, tracedP50)) ++ pass {
          other.setup(spark, s"$work/other")
          val (secs, problems) = other.op(spark, Spans.LayerPass, spans)
          val (m, more) = other.layers(spark, spans, secs)
          (m, problems ++ more)
        } ++ pass(RegistryPass.layers(spark, spans, s"$work/registry"))
        val engineP50 = engine.head.keys.map(k => k -> Stats.median(engine.map(_(k)).toSeq)).toMap
        val all = PerLayer.names.map(_ -> 0.0).toMap ++ engineP50 ++ layerMetrics ++ Map(
          "trace.overhead" -> tracedP50 / Stats.median(untraced.filterNot(_.isNaN).toSeq),
          "failed_op_ratio" -> failures.count(_.startsWith("op ")).toDouble / attempted,
          "warm_ops" -> (untraced.size + traced.size).toDouble)
        val unknown = all.keySet -- PerLayer.names
        require(unknown.isEmpty, s"undeclared per-layer metrics ${unknown.toSeq.sorted}")
        val stamp = Json.obj(Seq(
          "workload" -> Json.str(workloadName), "seed" -> Json.num(seed.toDouble),
          "nproc" -> Json.num(cores.toDouble),
          "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
          "input_rows" -> Json.num(workload.inputRows.toDouble),
          "input_bytes" -> Json.num(workload.inputBytes.toDouble),
          "session_config" -> Json.obj(spark.conf.getAll.toSeq.sorted
            .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
            .map { case (k, v) => k -> Json.str(v) })))
        val traceJson = s"""{"stamp":$stamp,"metrics":${Json.obj(all.toSeq.sorted.map {
          case (k, v) => k -> Json.num(v) })},"trace":${spans.json}}"""
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/trace.json"), traceJson.getBytes("UTF-8"))
        log(s"$workloadName trace written to $work/trace.json")
        PerLayer.names.map(n => (n, all(n), PerLayer.unit(n)))
      }
    failures.foreach(f => log(s"$workloadName FAILED $f"))
    val json = Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.count(_.startsWith("op ")).toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    spark.stop()
    println(json)
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Generate the registered-query fixture and its oracle SQL into `dir`, the
    * input `oracle.py` turns into `registry_rows.json`.
    */
  private def writeRegistryFixture(dir: String): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    RegistryPass.writeFixture(spark, dir)
    println(RegistryPass.writeOracleSql(dir))
    spark.stop()
  }
}

/** The per-layer metric catalogue, in `BENCHMARK.json` order. Every traced
  * run reports all of them; a layer the workload does not run reports 0.
  */
object PerLayer {
  val engine: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.single_task_stages", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.utilization", "spark.persisted_rdds_delta", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "driver.idle_executor_s")
  val verify: Seq[String] = Seq("targets.discover_s", "targets.read_s", "canon.row_hash_s",
    "fingerprints.sort_collect_s", "functions.md5_chain_s", "fingerprints.run_modes_s",
    "report.report_s", "rowdiff.diff_s", "core.fanout_overlap")
  val curate: Seq[String] = Seq("exact_dedup_s", "minhash_lsh_s", "components_s",
    "paragraph_dedup_s", "quality_s", "dsir_s", "logreg_s", "chunk_s", "shuffle_s",
    "write_sharded_s").map("operators." + _) :+ "operators.lsh_pair_yield"
  val registry: Seq[String] = Seq("corpus_waterfall", "dedup_method_agreement", "q_bfs_levels",
    "q_pagerank", "q_assoc_rules", "text_tfidf", "mm_phash_clusters",
    "ev_window_sliding_stream", "q1_pricing", "pv_merkle").map(q => s"queries.${q}_s") :+
    "staging.build_s"
  val run: Seq[String] = Seq("trace.overhead", "failed_op_ratio", "warm_ops")
  val names: Seq[String] = engine ++ verify ++ curate ++ registry ++ run

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (Set("spark.utilization", "core.fanout_overlap", "operators.lsh_pair_yield",
        "trace.overhead", "failed_op_ratio")(name)) "ratio"
    else "count"
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Live heap after full collections, in MiB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Files {
  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(path))
  }
}
