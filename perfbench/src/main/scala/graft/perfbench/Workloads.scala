package graft.perfbench

import java.io.StringWriter

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fingerprints, Fixtures, ParquetTarget, SchemaFilter, VerifyRun}
import graft.functions.Digests
import graft.operators.{Corpus, DedupClusters, MinHashLSH, TextAnalysis}

/** One benchmark workload: a seeded set-up, an op a user would run, the
  * check of the op's output, and the traced pass that splits the op into
  * layers.
  */
abstract class Workload {
  /** One complete set-up into `dir`: generate the inputs, and build what the
    * op needs before it can start. Timed as `setup_s`.
    */
  def setup(spark: SparkSession, dir: String): Unit

  def inputRows: Long
  def inputBytes: Long

  /** Run one op; returns its seconds (the user-visible call only) and the
    * problems its output check found.
    */
  def op(spark: SparkSession, opId: Int, spans: Spans): (Double, Seq[String])

  /** The traced per-layer pass over the inputs of the last set-up, after at
    * least one op; `opSeconds` is the seconds of an op. Returns seconds per
    * layer metric, plus any problems.
    */
  def layers(spark: SparkSession, spans: Spans, opSeconds: Double): (Map[String, Double], Seq[String])

  protected def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def apply(name: String, seed: Long): Workload = name match {
    case "verify_drift" => new VerifyDrift(seed)
    case "curate_corpus" => new CurateCorpus(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The other workload: a traced run makes its layer pass too, so that
    * every traced run measures every layer.
    */
  def other(name: String, seed: Long): Workload =
    apply(if (name == "verify_drift") "curate_corpus" else "verify_drift", seed)
}

/** `graft.Cli.run` over two parquet targets: a generated fixture (`prod`)
  * and a seeded replica in which `lineitem` drifts and `customer` agrees.
  */
final class VerifyDrift(seed: Long) extends Workload {
  val size = Fixture.Size(customers = 1000, suppliers = 100, parts = 1000, orders = 7500,
    events = 0, documents = 0, embeddings = 0)
  private var dir = ""
  private var truth = Map.empty[String, Set[String]]
  private var rows = 0L
  private var bytes = 0L
  private var reference: Option[Checks.VerifyOutcome] = None

  private def prodDir = s"$dir/prod"
  private def replicaDir = s"$dir/replica"
  private val flags = Seq("--tests", "full,bookend,sparse,rowcount", "--drill-down")
  private def cliConfig = parseCli(flags ++ Seq("--aliases", "prod,replica", prodDir, replicaDir))

  override def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    val prod = Fixture.tables(seed, size).filter(t => Fixture.verifyTables.contains(t.name))
    val (replica, truth) = Inputs.drift(seed, prod)
    Fixture.writeAll(spark, prodDir, prod)
    Fixture.writeAll(spark, replicaDir, replica)
    this.truth = truth
    rows = (prod ++ replica).map(_.rows.size.toLong).sum
    bytes = Fixture.bytesOnDisk(dir)
  }

  override def inputRows: Long = rows
  override def inputBytes: Long = bytes

  override def op(spark: SparkSession, opId: Int, spans: Spans): (Double, Seq[String]) = {
    val out = new StringWriter()
    val (secs, code) = timed(spans("graft.Cli.run")(graft.Cli.run(spark, cliConfig, out)))
    val outcome = Checks.parseVerify(code, out.toString)
    val problems = Checks.checkVerify(outcome, truth, 2, reference)
    if (reference.isEmpty) reference = Some(outcome)
    (secs, problems)
  }

  /** A serial pass over target × table calling the verifier's public
    * functions directly, one span per layer.
    */
  override def layers(spark: SparkSession, spans: Spans,
                      opSeconds: Double): (Map[String, Double], Seq[String]) = {
    val vcfg = cliConfig.verifyConfig
    val targets = Seq(ParquetTarget("prod", prodDir), ParquetTarget("replica", replicaDir))
    val problems = Seq.newBuilder[String]
    val results = targets.flatMap { t =>
      val tables = spans("targets.discover")(VerifyRun.discoverTables(spark, t, SchemaFilter.All))
      tables.flatMap { table =>
        val spec = Fixtures.specs(table)
        val df = spans("targets.read") {
          val df = t.read(spark, table)
          Workload.noop(df)
          df
        }
        spans("canon.row_hash")(Workload.noop(Fingerprints.hashedRows(df, spec, vcfg)))
        val sorted = spans("fingerprints.sort_collect") {
          Fingerprints.hashedRows(df, spec, vcfg).orderBy(col("k"), col("h")).select(col("h")).collect()
        }
        val chained = spans("functions.md5_chain") {
          if (sorted.isEmpty) Fingerprints.NoRows
          else Digests.md5OfConcat(sorted.iterator.map(_.getString(0)))
        }
        val outputs = spans("fingerprints.run_modes")(Fingerprints.runModes(vcfg.modes, df, spec, vcfg))
        if (outputs("full") != chained)
          problems += s"$table@${t.name}: serial md5 chain $chained != runModes full ${outputs("full")}"
        vcfg.modes.map(m => graft.core.ResultRow(t.name, VerifyRun.SchemaName, table, m, outputs(m)))
      }
    }
    val bad = spans("report.report") {
      import spark.implicits._
      val resultsDf = spark.createDataset(results).toDF()
      VerifyRun.merged(resultsDf).collect()
      VerifyRun.renderAsciiTable(VerifyRun.pivotReport(resultsDf, vcfg.modes), vcfg.modes,
        new StringWriter())
      VerifyRun.inconsistencies(resultsDf, targets.size).select("table").distinct()
        .collect().map(_.getString(0)).toSet[String]
    }
    if (bad != truth.keySet) problems += s"serial pass flags $bad, drifted ${truth.keySet}"
    spans("rowdiff.diff") {
      bad.toSeq.sorted.foreach { table =>
        val spec = Fixtures.specs(table)
        val (a, b) = (targets(0).read(spark, table), targets(1).read(spark, table))
        graft.core.RowDiff.diff(a, b, spec, vcfg).collect()
        graft.core.RowDiff.diffColumns(a, b, spec, vcfg).collect()
      }
    }
    val self = spans.selfSeconds(_ == Spans.LayerPass)
    val names = Seq("targets.discover", "targets.read", "canon.row_hash",
      "fingerprints.sort_collect", "functions.md5_chain", "fingerprints.run_modes",
      "report.report", "rowdiff.diff")
    (names.map(n => s"${n}_s" -> self.getOrElse(n, 0.0)).toMap +
      ("core.fanout_overlap" -> spans.totalSeconds("fingerprints.run_modes", _ == Spans.LayerPass) / opSeconds),
      problems.result())
  }

  private def parseCli(args: Seq[String]) =
    graft.Cli.parse(args).fold(e => throw new IllegalArgumentException(e), identity)
}

/** `graft.Curate.run` on a seeded corpus with injected exact duplicates,
  * near-duplicates and reshuffled distinct copies.
  */
final class CurateCorpus(seed: Long) extends Workload {
  val baseDocs = 500
  val flags: Seq[String] = Seq("--keep-best", "--chunk-tokens", "64", "--chunk-stride", "32",
    "--shuffle-seed", "3")
  /** Paragraph-dedup drop ratio the traced pass times the operator at. */
  val ParaDropMicro = 500000L
  private var dir = ""
  private var duplicates = 0L
  private var docs = 0L
  private var bytes = 0L
  private var reference: Option[Seq[(String, Long)]] = None

  private def docsDir = s"$dir/corpus"
  private def config(out: String) =
    graft.Curate.parse(flags ++ Seq(docsDir, out)).fold(e => throw new IllegalArgumentException(e), identity)

  override def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    val (table, dups) = Inputs.curateCorpus(seed, baseDocs)
    Fixture.write(spark, docsDir, table)
    duplicates = dups
    docs = table.rows.size
    bytes = Fixture.bytesOnDisk(docsDir)
  }

  override def inputRows: Long = docs
  override def inputBytes: Long = bytes

  override def op(spark: SparkSession, opId: Int, spans: Spans): (Double, Seq[String]) = {
    val out = s"$dir/out-$opId"
    val (secs, funnel) = timed(spans("graft.Curate.run")(graft.Curate.run(spark, config(out))))
    val written = spark.read.parquet(out).count()
    val problems = Checks.checkCurate(funnel, written, docs, duplicates, reference)
    if (reference.isEmpty) reference = Some(funnel)
    Files.deleteTree(out)
    (secs, problems)
  }

  /** `Curate.run`'s stages for these flags, re-composed from the same public
    * operator calls with the same arguments, one span per operator; the
    * re-composed funnel must equal `Curate.run`'s.
    */
  override def layers(spark: SparkSession, spans: Spans,
                      opSeconds: Double): (Map[String, Double], Seq[String]) = {
    import org.apache.spark.sql.expressions.Window
    val cfg = config(s"$dir/out-layers")
    val docsDf = spark.read.parquet(s"$docsDir/documents.parquet")
    def counted(df: DataFrame): DataFrame = { val c = df.localCheckpoint(); c.count(); c }
    val input = docsDf.count()
    val exact = spans("operators.exact_dedup") {
      val keepIds = docsDf.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      counted(docsDf.join(keepIds, Seq("doc_id"), "left_semi"))
    }
    val candidates = spans("operators.minhash_lsh") {
      counted(MinHashLSH.candidatePairs(exact, "doc_id", "text", 3, 16, 4))
    }
    val pairs = candidates.filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b")
    val nCandidates = candidates.count()
    val pairYield = if (nCandidates == 0) 0.0 else pairs.count().toDouble / nCandidates
    val nearDeduped = spans("operators.components") {
      val comp = DedupClusters.components(pairs)
      val drop = comp.join(exact.select(col("doc_id"),
          TextAnalysis.qualityScore(TextAnalysis.tokens(col("text"))).as("q")), "doc_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster_id")).orderBy(col("q").desc, col("doc_id"))))
        .filter(col("rn") > 1).select("doc_id")
      counted(exact.join(drop, Seq("doc_id"), "left_anti"))
    }
    // --max-para-dup-micro is not among the op's flags, so the operator is
    // timed at the ratio the flag would set and its result is not applied
    val paraKept = spans("operators.paragraph_dedup") {
      val pd = MinHashLSH.paragraphDedup(nearDeduped, "doc_id", "text",
        paraTokens = 10, shingleN = 3, numPerm = 16, numBands = 4,
        minMatching = 12, dropRatioMicro = ParaDropMicro)
      counted(nearDeduped.join(pd.filter(col("drop_doc")).select("doc_id"), Seq("doc_id"), "left_anti"))
    }
    val quality = spans("operators.quality") {
      counted(nearDeduped.filter(
        TextAnalysis.qualityScore(TextAnalysis.tokens(col("text"))) >= cfg.minQuality))
    }
    val units = spans("operators.chunk") {
      val split = quality.withColumn("split",
        Corpus.splitAssign(col("doc_id"), cfg.trainPct, cfg.valPct))
      val ct = cfg.chunkTokens.get
      val chunks = Corpus.chunk(split, "doc_id", "text", ct, cfg.chunkStride.getOrElse(ct))
      counted(chunks
        .join(split.select(col("doc_id"), col("lang"), col("split")), "doc_id")
        .select((col("doc_id") * 100000L + col("chunk_idx")).as("doc_id"),
          col("chunk_text").as("text"), col("lang"), col("split")))
    }
    val tagged = spans("operators.shuffle") {
      counted(units.join(
        Corpus.shuffle(units, "doc_id", cfg.shuffleSeed.get, cfg.shards)
          .select(col("id").as("doc_id"), col("shard").as("shuffle_shard"),
            col("pos").as("shuffle_pos")),
        "doc_id"))
    }
    spans("operators.write_sharded") {
      Corpus.writeSharded(tagged, cfg.outDir, "doc_id", Seq("split", "lang"), cfg.shards)
    }
    val funnel = Map("input" -> input, "exact_deduped" -> exact.count(),
      "near_deduped" -> nearDeduped.count(), "quality_filtered" -> quality.count(),
      "written_units" -> units.count(), "written" -> spark.read.parquet(cfg.outDir).count())
    Seq(exact, candidates, nearDeduped, paraKept, quality, units, tagged)
      .foreach(graft.core.Staging.releaseFrame)
    Files.deleteTree(cfg.outDir)
    val problems = reference.toSeq.flatMap { ref =>
      val r = ref.toMap
      funnel.collect { case (k, v) if !r.get(k).contains(v) =>
        s"re-composed $k=$v, Curate.run ${r.get(k)}" }
    }
    val self = spans.selfSeconds(_ == Spans.LayerPass)
    val names = Seq("exact_dedup", "minhash_lsh", "components", "paragraph_dedup", "quality",
      "chunk", "shuffle", "write_sharded").map("operators." + _)
    (names.map(n => s"${n}_s" -> self.getOrElse(n, 0.0)).toMap +
      ("operators.lsh_pair_yield" -> pairYield), problems)
  }
}

/** The registered-query layer pass: queries on a generated fixture, each
  * forced through every output column with the cache cleared between
  * queries, as `graft.Bench` runs them, after the staged artifacts they share
  * are built. Each traced run makes one pass over the ten queries. The
  * fixture seed is fixed because the expected row counts are
  * pinned to its files (`registry_rows.json`: the queries' DuckDB oracle SQL
  * run by `oracle.py` on the same files).
  */
object RegistryPass {
  val Queries: Seq[String] = Seq("corpus_waterfall", "dedup_method_agreement", "q_bfs_levels",
    "q_pagerank", "q_assoc_rules", "text_tfidf", "mm_phash_clusters",
    "ev_window_sliding_stream", "q1_pricing", "pv_merkle")
  val Seed = 1L
  val Size: Fixture.Size = Fixture.Size(customers = 1500, suppliers = 100, parts = 2000,
    orders = 15000, events = 10000, documents = 500, embeddings = 500)

  def writeFixture(spark: SparkSession, dir: String): Unit =
    Fixture.writeAll(spark, dir, Fixture.tables(Seed, Size))

  /** Build the staged artifacts the queries share; returns their seconds. */
  def stage(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.queries.DedupStaging.prefixDocs(spark, dir)
    graft.queries.AnalyticsQueries.purchaseEdges(spark, dir)
    graft.queries.EventQueries.rawEventsDir(dir)
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass: `queries.<name>_s` per query, `staging.build_s`, and the
    * seconds of `corpus_waterfall`'s gates 6 and 7 as `operators.dsir_s` and
    * `operators.logreg_s` (the DSIR and trained-filter operators, which the
    * `curate_corpus` op's flags leave out), plus the problems the row-count
    * check found.
    */
  def layers(spark: SparkSession, spans: Spans, dir: String): (Map[String, Double], Seq[String]) = {
    writeFixture(spark, dir)
    val staging = stage(spark, dir)
    val fns = graft.SparkEntry.queries
    val results = Queries.map { q =>
      val t0 = System.nanoTime()
      val n = spans(s"queries.$q") {
        val n = rows(fns(q)(spark, dir))
        spark.catalog.clearCache()
        n
      }
      (q, (System.nanoTime() - t0) / 1e9, n)
    }
    val gates = graft.queries.CorpusQueries.lastWaterfallGateSeconds.get.toMap
    (results.map(r => s"queries.${r._1}_s" -> r._2).toMap ++ Map(
      "staging.build_s" -> staging,
      "operators.dsir_s" -> gates.getOrElse("6_dsir", 0.0),
      "operators.logreg_s" -> gates.getOrElse("7_lr", 0.0)),
      Checks.checkRegistry(results.map(r => r._1 -> r._3).toMap, pinnedRows()))
  }

  /** Row count of `df`, computing every output column (the noop sink's
    * work: each row is deserialized in full).
    */
  def rows(df: DataFrame): Long = {
    val n = df.sparkSession.sparkContext.longAccumulator("rows")
    df.foreachPartition((it: Iterator[Row]) => it.foreach(_ => n.add(1)))
    n.value
  }

  /** The registered oracle SQL of the queries, as `oracle.py` reads it. */
  def writeOracleSql(dir: String): String = {
    val sql = graft.SparkEntry.oracleSql
    val path = s"$dir/oracle_sql.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json.obj(Queries.map(q => q -> Json.str(sql(q)))).getBytes("UTF-8"))
    path
  }

  /** Pinned oracle row counts, `registry_rows.json` next to `run.py`. */
  def pinnedRows(): Map[String, Long] = {
    val home = sys.props.getOrElse("perfbench.home", "perfbench")
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$home/registry_rows.json")), "UTF-8")
    """"([^"]+)":\s*(\d+)""".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
