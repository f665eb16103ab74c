package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.perfbench.Fixture.Table

/** Seeded workload inputs derived from a generated fixture, each with the
  * ground truth its output check compares against.
  */
object Inputs {

  /** The tables a replica drifts in: always the same, so every seed costs
    * the verifier the same work; the seed picks the rows and the changes.
    */
  val DriftedTables: Seq[String] = Seq("lineitem")

  private def pkString(row: Row, pkIdx: Seq[Int]): String =
    pkIdx.map(i => String.valueOf(row.get(i))).mkString(",")

  /** A replica of `prod` in which the [[DriftedTables]] lose, gain or change
    * 3..7 seeded rows each. Returns the replica's tables and, per drifted table, the
    * primary keys that differ (rendered as the drill-down prints them:
    * key columns in primary-key order, comma-joined).
    */
  def drift(seed: Long, prod: Seq[Table]): (Seq[Table], Map[String, Set[String]]) = {
    val r = new Random(seed ^ 0x5DEECE66DL)
    val truth = mutable.Map.empty[String, Set[String]]
    val replica = prod.map {
      case t if !DriftedTables.contains(t.name) => t
      case t =>
        val pks = graft.core.Fixtures.specs(t.name).pks
        val pkIdx = pks.map(t.schema.fieldIndex)
        val target = t.schema.fields.indices.find(i =>
            !pkIdx.contains(i) && t.schema(i).dataType == DoubleType)
          .orElse(t.schema.fields.indices.find(i =>
            !pkIdx.contains(i) && t.schema(i).dataType == StringType)).get
        val n = 3 + r.nextInt(5)
        val picked = r.shuffle(t.rows.indices.toList).take(n)
        val kinds = picked.map(_ => r.nextInt(3)) // 0 delete, 1 change, 2 insert
        val rows = t.rows.toBuffer
        val keys = mutable.Set.empty[String]
        val lastPk = pkIdx.last
        var fresh = t.rows.map(row => row.get(lastPk) match {
          case l: Long => l
          case i: Int => i.toLong
        }).max
        picked.zip(kinds).foreach {
          case (i, 0) =>
            keys += pkString(t.rows(i), pkIdx)
            rows(i) = null
          case (i, 1) =>
            val v = t.rows(i).toSeq.toArray
            v(target) = v(target) match {
              case d: Double => d + 1.0
              case s: String => s + " edited"
            }
            rows(i) = Row.fromSeq(v.toSeq)
            keys += pkString(t.rows(i), pkIdx)
          case (i, _) =>
            val v = t.rows(i).toSeq.toArray
            fresh += 1
            v(lastPk) = v(lastPk) match {
              case _: Long => fresh
              case _: Int => fresh.toInt
            }
            val row = Row.fromSeq(v.toSeq)
            rows += row
            keys += pkString(row, pkIdx)
        }
        truth(t.name) = keys.toSet
        t.copy(rows = rows.filter(_ != null).toIndexedSeq)
    }
    (replica, truth.toMap)
  }

  /** A curation corpus four times the size of `base` distinct random documents:
    * each base document, a token-reshuffled distinct copy, a one-token-edit
    * near-duplicate, and a fourth copy that is an exact duplicate of the
    * base text for one base document in eight (otherwise a two-token-edit
    * near-duplicate). Every text except the exact duplicates is distinct,
    * so exact dedup must remove exactly the returned duplicate count.
    */
  def curateCorpus(seed: Long, base: Int): (Table, Long) = {
    val r = new Random(seed ^ 0x2545F4914F6CDD1DL)
    val langs = IndexedSeq("en", "en", "en", "en", "de", "es", "fr", "zh")
    val seen = mutable.HashSet.empty[String]
    def fresh(make: () => String): String = {
      var t = make()
      while (!seen.add(t)) t = make()
      t
    }
    def edit(tokens: IndexedSeq[String], n: Int): String = {
      val v = tokens.toArray
      (1 to n).foreach { _ =>
        val i = r.nextInt(v.length)
        v(i) = Fixture.Vocab.filterNot(_ == v(i))(r.nextInt(Fixture.Vocab.size - 1))
      }
      v.mkString(" ")
    }
    // no near-duplicates among the base texts: every near-duplicate cluster
    // is one base text and its own edits, so clusters have the same shape,
    // and the dedup closure the same depth, whatever the seed
    val baseTexts = Fixture.documentTexts(r, base, nearDups = false)
    baseTexts.foreach(seen.add)
    var duplicates = 0L
    val rows = baseTexts.zipWithIndex.flatMap { case (text, i) =>
      val tokens = text.split(" ").toIndexedSeq
      val lang = langs(r.nextInt(langs.size))
      val reshuffled = fresh(() => r.shuffle(tokens).mkString(" ") +
        (if (r.nextInt(4) == 0) " " + Fixture.Vocab(r.nextInt(Fixture.Vocab.size)) else ""))
      val nearDup = fresh(() => edit(tokens, 1))
      val fourth =
        if (r.nextInt(8) == 0) { duplicates += 1; text }
        else fresh(() => edit(tokens, 2))
      Seq(text, reshuffled, nearDup, fourth).zipWithIndex.map { case (t, k) =>
        val id = 4L * i + k
        Fixture.documentRow(id, t, lang, s"src${id % 20}")
      }
    }
    (Table("documents", Fixture.documentsSchema, rows), duplicates)
  }
}
