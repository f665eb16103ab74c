package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The output checks accept the right answer and reject wrong ones (the
  * negative controls), and the generated inputs carry the ground truth the
  * checks rely on.
  */
class ChecksSpec extends AnyFunSuite {

  private val report =
    """+--------+----------+---------+------+----------+--------+---------+
      || SCHEMA | TABLE    | BOOKEND | FULL | ROWCOUNT | SPARSE | TARGET  |
      |+--------+----------+---------+------+----------+--------+---------+
      || main   | customer | c1      | f1   | 10       | s1     | prod    |
      || main   | customer | c1      | f1   | 10       | s1     | replica |
      || main   | orders   | o1      | g1   | 20       | t1     | prod    |
      || main   | orders   | o2      | g2   | 19       | t1     | replica |
      |+--------+----------+---------+------+----------+--------+---------+
      |
      |drill-down rows: main.orders (a=prod, b=replica, first 20)
      |+------------+--------+
      || O_ORDERKEY | STATUS |
      |+------------+--------+
      || 3          | only_a |
      || 7          | differs|
      |+------------+--------+
      |drill-down columns: main.orders (first 20)
      |+------------+----------+
      || O_ORDERKEY | COL_NAME |
      |+------------+----------+
      || 7          | o_totalprice |
      |+------------+----------+
      |""".stripMargin

  private val truth = Map("orders" -> Set("3", "7"))
  private val outcome = Checks.parseVerify(1, report)

  test("report parser reads fingerprints and drill-down keys") {
    assert(outcome.fingerprints(("orders", "full", "replica")) == "g2")
    assert(outcome.fingerprints.size == 16)
    assert(outcome.drillKeys == truth)
    assert(Checks.inconsistentTables(outcome.fingerprints, 2) == Set("orders"))
  }

  test("verify check accepts the injected drift") {
    assert(Checks.checkVerify(outcome, truth, 2, None).isEmpty)
    assert(Checks.checkVerify(outcome, truth, 2, Some(outcome)).isEmpty)
  }

  test("verify check rejects ground truth with one key removed") {
    assert(Checks.checkVerify(outcome, Map("orders" -> Set("3")), 2, None).nonEmpty)
  }

  test("verify check rejects a wrong exit code, an extra drifted table and a changed fingerprint") {
    assert(Checks.checkVerify(outcome.copy(exitCode = 0), truth, 2, None).nonEmpty)
    assert(Checks.checkVerify(outcome, truth + ("customer" -> Set("1")), 2, None).nonEmpty)
    val changed = outcome.copy(fingerprints =
      outcome.fingerprints.updated(("customer", "full", "prod"), "f9")
        .updated(("customer", "full", "replica"), "f9"))
    assert(Checks.checkVerify(changed, truth, 2, None).isEmpty)
    assert(Checks.checkVerify(changed, truth, 2, Some(outcome)).nonEmpty)
  }

  test("verify check rejects an (err) cell on an agreeing table") {
    val err = outcome.copy(fingerprints =
      outcome.fingerprints.updated(("customer", "full", "prod"), "(err)")
        .updated(("customer", "full", "replica"), "(err)"))
    assert(Checks.checkVerify(err, truth, 2, None).nonEmpty)
  }

  private val funnel = Seq("input" -> 2000L, "exact_deduped" -> 1937L,
    "near_deduped" -> 1500L, "written_units" -> 900L, "written" -> 900L)

  test("curate check accepts the injected duplicate count") {
    assert(Checks.checkCurate(funnel, 900L, 2000L, 63L, Some(funnel)).isEmpty)
  }

  test("curate check rejects a funnel that is off by one") {
    val offByOne = funnel.map { case (k, v) => if (k == "exact_deduped") k -> (v + 1) else k -> v }
    assert(Checks.checkCurate(offByOne, 900L, 2000L, 63L, None).nonEmpty)
    assert(Checks.checkCurate(funnel, 900L, 2000L, 62L, None).nonEmpty)
    val drifted = funnel.map { case (k, v) => if (k == "near_deduped") k -> (v - 1) else k -> v }
    assert(Checks.checkCurate(drifted, 900L, 2000L, 63L, Some(funnel)).nonEmpty)
  }

  test("curate check rejects a written row count that differs from written_units") {
    assert(Checks.checkCurate(funnel, 899L, 2000L, 63L, None).nonEmpty)
  }

  private val expected = Map("q1_pricing" -> 6L, "pv_merkle" -> 2L)

  test("registry check accepts the oracle row counts") {
    assert(Checks.checkRegistry(expected, expected).isEmpty)
  }

  test("registry check rejects a row count that is off by one and a missing query") {
    assert(Checks.checkRegistry(expected.updated("q1_pricing", 7L), expected).nonEmpty)
    assert(Checks.checkRegistry(expected - "pv_merkle", expected).nonEmpty)
  }

  test("drift ground truth names exactly the keys whose rows differ") {
    val prod = Fixture.tables(7L, Fixture.Size(150, 10, 200, 1500, 1000, 0, 0))
      .filter(t => Fixture.verifyTables.contains(t.name))
    val (replica, truth) = Inputs.drift(7L, prod)
    assert(truth.keySet == Inputs.DriftedTables.toSet)
    prod.zip(replica).foreach { case (a, b) =>
      val pkIdx = graft.core.Fixtures.specs(a.name).pks.map(a.schema.fieldIndex)
      def keyed(rows: Seq[org.apache.spark.sql.Row]) =
        rows.map(r => pkIdx.map(i => String.valueOf(r.get(i))).mkString(",") -> r).toMap
      val (ka, kb) = (keyed(a.rows), keyed(b.rows))
      val differing = (ka.keySet ++ kb.keySet).filter(k => ka.get(k) != kb.get(k))
      assert(differing == truth.getOrElse(a.name, Set.empty), a.name)
      assert(differing.size <= 7)
    }
  }

  test("curation corpus duplicates exactly the reported number of texts") {
    val (table, dups) = Inputs.curateCorpus(11L, 200)
    val texts = table.rows.map(_.getString(1))
    assert(table.rows.size == 800)
    assert(dups > 0)
    assert(texts.size - texts.distinct.size == dups)
  }

  test("the same seed gives the same inputs") {
    val size = Fixture.Size(15, 10, 20, 150, 100, 50, 10)
    assert(Fixture.tables(3L, size).map(_.rows) == Fixture.tables(3L, size).map(_.rows))
    assert(Inputs.curateCorpus(3L, 50) == Inputs.curateCorpus(3L, 50))
  }

  test("busy time merges overlapping task intervals") {
    assert(EngineProbe.busyMillis(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 100L) == 30L)
    assert(EngineProbe.busyMillis(Seq((0L, 10L)), 5L, 100L) == 5L)
    assert(EngineProbe.busyMillis(Nil, 0L, 100L) == 0L)
  }
}
