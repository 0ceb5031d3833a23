package perfbench

/** Seeded input for the `stream_ingest` workload, plus the answers
  * the stream operators must give on it.
  *
  * Document `id` (1-based) has event time day + id × 10 ms, i.e. 100
  * docs per event-time second. About a tenth of the documents repeat
  * the text of a first-seen document at most 2 × [[RepeatWindow]] ids
  * earlier, well inside the operators' 10 s watermark horizon, so every
  * repeat must be caught. About a twentieth are near-duplicates: the
  * words of an earlier original document, at most 2 × [[RepeatWindow]]
  * ids back, under their own document number. The engine's tokenizer
  * keeps only letters, so a near-duplicate has its original's tokens
  * and MinHash signature (every LSH band collides, the pair is certain)
  * while its text, and so its exact-dedup key, differs. The same ids
  * also make up a replicated log whose batches re-send some ids of the
  * batch before.
  */
final case class StreamGen(n: Int, batchSize: Int, seed: Long) {
  import StreamGen._

  require(n > 0 && batchSize > 0, "need documents and a positive batch size")

  private val rng = new scala.util.Random(seed)

  val ids: Array[Long] = Array.tabulate(n)(i => i + 1L)
  def tsMs(i: Int): Long = DayMs + ids(i) * 10L

  /** repeatOf(i) = index of the document whose text i repeats, or -1. */
  val repeatOf: Array[Int] = new Array[Int](n)
  /** nearOf(i) = index of the original document whose words i carries
    * under another number, or -1.
    */
  val nearOf: Array[Int] = new Array[Int](n)
  val texts: Array[String] = new Array[String](n)
  locally {
    val words = new Array[String](n)
    /** The first-seen document whose text index `j` carries. */
    def firstSeen(j: Int) = if (repeatOf(j) >= 0) repeatOf(j) else j
    /** The original document whose words first-seen `j` carries. */
    def original(j: Int) = if (nearOf(j) >= 0) nearOf(j) else j
    var i = 0
    while (i < n) {
      repeatOf(i) = -1
      nearOf(i) = -1
      val u = rng.nextDouble()
      val j = if (i > 0) i - 1 - rng.nextInt(math.min(i, RepeatWindow)) else -1
      if (j >= 0 && u < RepeatShare) {
        repeatOf(i) = firstSeen(j)
        texts(i) = texts(repeatOf(i))
      } else {
        if (j >= 0 && u < RepeatShare + NearShare && i - original(firstSeen(j)) <= 2 * RepeatWindow) {
          nearOf(i) = original(firstSeen(j))
          words(i) = words(nearOf(i))
        } else {
          val sb = new StringBuilder
          var k = 0
          while (k < TokensPerDoc) {
            sb.append(word(rng.nextInt(VocabSize))).append(' ')
            k += 1
          }
          words(i) = sb.toString
        }
        texts(i) = words(i) + "doc " + ids(i)
      }
      i += 1
    }
  }

  val batches: Seq[Range] = (0 until n by batchSize).map(a => a until math.min(a + batchSize, n))

  /** Indices of the previous batch that batch `b` sends again. */
  val resends: Seq[Seq[Int]] = batches.indices.map { b =>
    if (b == 0) Seq.empty
    else batches(b - 1).filter(_ => rng.nextDouble() < ResendShare)
  }

  /** Among the first `upTo` documents, the ids whose text was seen
    * before (exact dedup must drop them), and the others.
    */
  def repeatIds(upTo: Int): Set[Long] = (0 until upTo).filter(repeatOf(_) >= 0).map(ids(_)).toSet
  def firstSeenIds(upTo: Int): Set[Long] = (0 until upTo).filter(repeatOf(_) < 0).map(ids(_)).toSet

  /** Among the first `upTo` documents, every pair (lower id first) of
    * first-seen documents that carry the same words: the near-dup
    * candidates the composed ingest must report.
    */
  def nearPairs(upTo: Int): Set[(Long, Long)] =
    (0 until upTo).filter(repeatOf(_) < 0)
      .groupBy(i => if (nearOf(i) >= 0) nearOf(i) else i).values
      .flatMap(_.map(ids(_)).sorted.combinations(2).map(p => (p(0), p(1)))).toSet
}

object StreamGen {
  val DayMs: Long = 86400000L
  val RepeatShare = 0.1
  val NearShare = 0.05
  val RepeatWindow = 200
  val ResendShare = 0.1
  val TokensPerDoc = 25
  val VocabSize = 1024

  /** Deterministic pseudo-word for a vocabulary slot. */
  def word(k: Int): String = {
    val sb = new StringBuilder
    var v = (k.toLong * 2654435761L) & 0xffffffL
    val len = 3 + k % 5
    var c = 0
    while (c < len) { sb.append(('a' + (v % 26)).toChar); v /= 26; v += k; c += 1 }
    sb.toString
  }
}
