package graft.perfbench

/** Output checks, one per workload. Each returns the list of problems it
  * found; an empty list means the op's output is correct. The functions are
  * pure (text and numbers in, problems out) so the negative controls in
  * `ChecksSpec` can feed them wrong answers directly.
  */
object Checks {

  /** One ASCII box table of a `graft` report, with the text line above it. */
  final case class BoxTable(title: String, header: Seq[String], rows: Seq[Seq[String]])

  /** Split rendered report text into its box tables (`VerifyRun.renderTable`
    * layout: separator, header, separator, rows, separator).
    */
  def boxTables(text: String): Seq[BoxTable] = {
    def cells(line: String): Seq[String] =
      line.trim.stripPrefix("|").stripSuffix("|").split("\\|", -1).map(_.trim).toSeq
    val lines = text.split("\n").toIndexedSeq
    val out = Seq.newBuilder[BoxTable]
    var i = 0
    var title = ""
    while (i < lines.length) {
      val l = lines(i)
      if (l.startsWith("+-") && i + 2 < lines.length && lines(i + 1).startsWith("|")) {
        val header = cells(lines(i + 1))
        var j = i + 3
        val rows = Seq.newBuilder[Seq[String]]
        while (j < lines.length && lines(j).startsWith("|")) { rows += cells(lines(j)); j += 1 }
        out += BoxTable(title, header, rows.result())
        i = j + 1
      } else {
        if (l.trim.nonEmpty) title = l.trim
        i += 1
      }
    }
    out.result()
  }

  /** What one `Cli.run` produced: its exit code, the fingerprint of every
    * (table, mode, target) cell, and the drill-down keys per table.
    */
  final case class VerifyOutcome(exitCode: Int, fingerprints: Map[(String, String, String), String],
                                 drillKeys: Map[String, Set[String]])

  private val DrillRows = """drill-down rows: [^.]+\.(\S+) \(.*""".r

  def parseVerify(exitCode: Int, report: String): VerifyOutcome = {
    val tables = boxTables(report)
    val fingerprints = tables.headOption.toSeq.flatMap { t =>
      val h = t.header.map(_.toLowerCase)
      val (ti, gi) = (h.indexOf("table"), h.indexOf("target"))
      val modes = h.indices.filterNot(Set(h.indexOf("schema"), ti, gi))
      t.rows.flatMap(r => modes.map(m => (r(ti), h(m), r(gi)) -> r(m)))
    }.toMap
    val drill = tables.collect {
      case BoxTable(DrillRows(table), header, rows) =>
        val keyCols = header.indices.filterNot(i => header(i).equalsIgnoreCase("status"))
        table -> rows.map(r => keyCols.map(r).mkString(",")).toSet
    }.toMap
    VerifyOutcome(exitCode, fingerprints, drill)
  }

  /** Tables on which the targets disagree in any mode, or that some target
    * lacks, or that carry the `(err)` sentinel.
    */
  def inconsistentTables(fp: Map[(String, String, String), String], nTargets: Int): Set[String] =
    fp.groupBy(_._1._1).collect {
      case (table, cells) if cells.groupBy(_._1._2).exists { case (_, byMode) =>
          byMode.size != nTargets || byMode.values.toSet.size > 1 ||
            byMode.values.exists(_ == graft.core.Fingerprints.Err)
        } => table
    }.toSet

  /** `verify_drift`: exit code 1, the inconsistent tables and the drill-down
    * keys equal the injected drift exactly, and every fingerprint equals the
    * first op's (so agreeing tables agree across targets and across ops).
    */
  def checkVerify(o: VerifyOutcome, truth: Map[String, Set[String]], nTargets: Int,
                  reference: Option[VerifyOutcome]): Seq[String] = {
    val bad = inconsistentTables(o.fingerprints, nTargets)
    Seq(
      if (o.exitCode != 1) Some(s"exit code ${o.exitCode}, expected 1") else None,
      if (o.fingerprints.isEmpty) Some("no report rows") else None,
      if (bad != truth.keySet)
        Some(s"inconsistent tables ${bad.toSeq.sorted} != drifted ${truth.keySet.toSeq.sorted}")
      else None,
      if (o.drillKeys != truth)
        Some(s"drill-down keys ${o.drillKeys} != injected ${truth}")
      else None,
      reference.collect {
        case r if r.fingerprints != o.fingerprints => "fingerprints differ from the first op"
      }).flatten
  }

  /** `curate_corpus`: input minus exact-deduped equals the injected duplicate
    * count, the rows read back from the output equal `written_units`, and the
    * funnel equals the first op's.
    */
  def checkCurate(funnel: Seq[(String, Long)], writtenRows: Long, inputDocs: Long,
                  exactDuplicates: Long, reference: Option[Seq[(String, Long)]]): Seq[String] = {
    val f = funnel.toMap
    def get(k: String): Long = f.getOrElse(k, -1L)
    Seq(
      if (get("input") != inputDocs) Some(s"input ${get("input")} != generated $inputDocs") else None,
      if (get("input") - get("exact_deduped") != exactDuplicates)
        Some(s"exact dedup removed ${get("input") - get("exact_deduped")}, injected $exactDuplicates")
      else None,
      if (writtenRows != get("written_units"))
        Some(s"read back $writtenRows rows, written_units ${get("written_units")}")
      else None,
      if (get("written_units") <= 0) Some("nothing written") else None,
      reference.collect { case r if r != funnel => s"funnel $funnel != first op's $r" }).flatten
  }

  /** Registered queries: each query's row count equals the oracle's. */
  def checkRegistry(rows: Map[String, Long], expectedRows: Map[String, Long]): Seq[String] =
    (expectedRows.keySet ++ rows.keySet).toSeq.sorted.flatMap { q =>
      (rows.get(q), expectedRows.get(q)) match {
        case (None, _) => Some(s"$q: no output")
        case (_, None) => Some(s"$q: no expected row count")
        case (Some(n), Some(e)) if n != e => Some(s"$q: $n rows, oracle $e")
        case _ => None
      }
    }
}
