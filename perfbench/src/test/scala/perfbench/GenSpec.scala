package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Everything the ingest workload sends for its first `n` steps: the
    * steps and the rows each append writes, as bytes.
    */
  private def ingestInputs(seed: Long, n: Int): Array[Byte] = {
    val sb = new StringBuilder
    Ingest.plan(seed).take(n).foreach { step =>
      sb.append(step).append('\n')
      step match {
        case a: Ingest.Append =>
          val f = FeatureSpec(a.feature, Ingest.Namespace, s"f${a.feature}", Ingest.Cadence)
          Ingest.rows(seed, f, a).foreach { case (m, v, c) => sb.append(s"$m,$v,$c\n") }
        case _ =>
      }
    }
    sb.toString.getBytes("UTF-8")
  }

  private def dedupInputs(seed: Long, batches: Int): Array[Byte] = {
    val c = DedupIncremental.corpus(seed)
    (c.base.map(d => s"${d.id}\t${d.text}") ++ c.batches.take(batches).flatMap { b =>
      b.docs.map(d => s"${d.id}\t${d.text}") :+ b.planted.toSeq.sorted.mkString(",")
    }).mkString("\n").getBytes("UTF-8")
  }

  test("the same seed generates byte-identical inputs") {
    assert(ingestInputs(7, 200).sameElements(ingestInputs(7, 200)))
    assert(dedupInputs(7, 3).sameElements(dedupInputs(7, 3)))
  }

  test("a different seed generates different inputs") {
    assert(!ingestInputs(7, 200).sameElements(ingestInputs(8, 200)))
    assert(!dedupInputs(7, 3).sameElements(dedupInputs(8, 3)))
  }

  test("ingest steps keep the planned mix and only rewrite written days") {
    val steps = Ingest.plan(3).take(2000).toVector
    val appends = steps.collect { case a: Ingest.Append => a }
    val rejected = appends.count(_.badSlot.isDefined)
    assert(math.abs(rejected.toDouble / appends.size - 0.05) < 0.01)
    val written = Array.fill(Ingest.Features)(Set(0))
    appends.filter(_.badSlot.isEmpty).foreach { a =>
      assert(a.day <= written(a.feature).max + 1)
      written(a.feature) += a.day
    }
    steps.collect { case r: Ingest.ReadBack => r }.foreach { r =>
      assert(r.fromDay <= r.toDay)
    }
  }

  test("planted pairs are one-word edits of a document sent earlier") {
    val c = DedupIncremental.corpus(5)
    val batches = c.batches.take(4).toVector
    val text = (c.base ++ batches.flatMap(_.docs)).map(d => d.id -> d.text.split(" ")).toMap
    batches.foreach { b =>
      assert(b.planted.size == DedupIncremental.PlantedPerBatch)
      b.planted.foreach { case (src, dup) =>
        assert(src < b.docs.head.id && b.docs.exists(_.id == dup))
        assert(text(src).zip(text(dup)).count { case (x, y) => x != y } <= 1)
      }
    }
  }
}
