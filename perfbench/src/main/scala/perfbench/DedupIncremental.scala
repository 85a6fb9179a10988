package perfbench

import scala.collection.mutable

import graft.operators.DedupOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Arriving document batches probed against, then appended to, a
  * persisted winnow store built in setup. Every batch plants
  * near-duplicates of earlier documents; the probe must report each.
  */
final class DedupIncremental(spark: SparkSession, seed: Long) extends Workload {
  import DedupIncremental._

  private var root: String = _
  private var bytes = 0L

  def storeRoot: String = root
  def userBytes: Long = bytes
  private def winnow = s"$root/winnow"

  private def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d => Row(d.id, d.text)): _*), Schema)

  private def docBytes(docs: Seq[Doc]): Long =
    docs.map(d => 8L + d.text.getBytes("UTF-8").length).sum

  def setup(root: String): Unit = {
    this.root = root
    DedupOps.buildWinnowStore(frame(corpus(seed).base), "doc_id", "text", winnow)
    bytes = docBytes(corpus(seed).base)
  }

  /** Probe with a batch the measured phase never sends, kept out of the
    * store; the build already ran the append.
    */
  def warmUp(round: Int): Unit = {
    val warm = frame(corpus(seed ^ 0x77L ^ round, idBase = WarmIds).base.take(BatchDocs))
    Series.released(DedupOps.incrementalWinnowingPairs(warm, "doc_id", "text", winnow).collect())
  }

  def units: Iterator[Seq[Op]] = corpus(seed).batches.map { b =>
    val df = frame(b.docs)
    Seq(
      Op("dedup_probe_winnow", () =>
        try Series.released {
          val got = DedupOps.incrementalWinnowingPairs(df, "doc_id", "text", winnow)
            .select("id_a", "id_b").collect()
            .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
            .toSet
          val missed = b.planted.filterNot(got)
          Outcome(missed.isEmpty, counters = Map("pairs" -> got.size.toDouble),
            detail = if (missed.isEmpty) "" else s"probe batch ${b.index}: missed $missed")
        } catch { case e: Exception => Series.failure(s"probe batch ${b.index}", e) }),
      // documents count as processed once the batch is in the store
      Op("dedup_append_winnow", () =>
        try {
          DedupOps.appendWinnowStore(df, "doc_id", "text", winnow, batchToken = s"b${b.index}")
          bytes += docBytes(b.docs)
          Outcome(ok = true, rows = b.docs.size)
        } catch { case e: Exception => Series.failure(s"append batch ${b.index}", e) }))
  }

  /** Every planted pair is checked as its batch is probed. */
  def verify(): Seq[Outcome] = Nil
}

object DedupIncremental {
  val BaseDocs = 200
  val BatchDocs = 30
  val PlantedPerBatch = 6
  val Words = 40
  /** Ids of warm-up documents, far from every measured id. */
  val WarmIds = 1000000000L

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  final case class Doc(id: Long, text: String)
  /** `planted`: (earlier id, new id) near-duplicate pairs in this batch. */
  final case class Batch(index: Int, docs: Seq[Doc], planted: Set[(Long, Long)])
  final case class Corpus(base: Seq[Doc], batches: Iterator[Batch])

  /** The base corpus (a tenth of it near-duplicates of earlier base
    * documents) and an endless stream of batches, each planting
    * `PlantedPerBatch` near-duplicates of documents sent before it.
    */
  def corpus(seed: Long, idBase: Long = 0L): Corpus = {
    val rng = new Gen.Rng(seed)
    val words = mutable.ArrayBuffer[Vector[String]]()
    def nextDoc(planted: Boolean): Vector[String] =
      if (planted && words.nonEmpty) Gen.Text.nearDup(rng, words(rng.nextInt(words.size)), 1)
      else Gen.Text.doc(rng, Words)
    (0 until BaseDocs).foreach(i => words += nextDoc(i % 10 == 9))
    val base = words.zipWithIndex.map { case (w, i) => Doc(idBase + i, w.mkString(" ")) }.toVector
    val batches = Iterator.from(0).map { b =>
      val planted = rng.shuffle(0 until BatchDocs).take(PlantedPerBatch).toSet
      val first = idBase + words.size
      val pairs = mutable.Set[(Long, Long)]()
      val docs = (0 until BatchDocs).map { j =>
        val w =
          if (planted(j)) {
            val src = rng.nextInt(words.size - j)
            pairs += ((idBase + src, first + j))
            Gen.Text.nearDup(rng, words(src), 1)
          } else Gen.Text.doc(rng, Words)
        words += w
        Doc(first + j, w.mkString(" "))
      }
      Batch(b, docs, pairs.toSet)
    }
    Corpus(base, batches)
  }
}
