package perfbench

import graft.analysis.StopWords
import graft.model.Turn
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded transcript corpus and query mix.
  *
  * Turn text draws from a Zipfian (s = 1) vocabulary of [[Vocab]] made-up
  * words, plus the head term `tok0` in about half of all turns. Query terms
  * come from three df bands: head (`tok0` and the top ranks), mid and a
  * rare tail wide enough that most tail terms are first seen by a query, so
  * they miss the searcher's df memo. Every value is a pure function of
  * (seed, index), so the same seed gives the same inputs at any
  * parallelism.
  */
object Corpus {
  val TurnsPerConv = 20
  val Vocab = 20000
  val BaseEpochMs = 1704067200000L // 2024-01-01T00:00:00Z

  val HeadRanks = 1 to 20
  val MidRanks = 50 to 1500
  val TailRanks = 3000 to Vocab
  val Bands = Seq("head", "mid", "tail")
  val Slices = 20

  private val cdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(i => 1.0 / (i + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aeiou"
  private def syllable(i: Int): String =
    s"${consonants(i % consonants.length)}${vowels(i / consonants.length)}"

  /** The word of Zipf rank `rank` (1-based): three syllables, never a
    * stopword. */
  def word(rank: Int): String = {
    val r = rank - 1
    val n = consonants.length * vowels.length
    val w = syllable(r % n) + syllable((r / n) % n) + syllable(r / (n * n))
    if (StopWords.english.contains(w)) w + "q" else w
  }

  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def zipfRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    (if (i >= 0) i else -i - 1).min(Vocab - 1) + 1
  }

  /** Text of global turn number `t`: 40..130 tokens. */
  def text(seed: Long, t: Long): String = {
    val r = new SplittableRandom(mix(seed, t))
    val n = 40 + r.nextInt(91)
    val head = if (r.nextBoolean()) r.nextInt(n) else -1
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(if (i == head) "tok0" else word(zipfRank(r)))
      i += 1
    }
    sb.toString
  }

  def convId(conv: Long): String = f"c$conv%08d"

  /** Turns `from until from + n` as a DataFrame of the engine's input
    * schema; turn t belongs to conversation t / [[TurnsPerConv]]. */
  def turns(spark: SparkSession, seed: Long, from: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1L, parts).map { t =>
      val conv = t / TurnsPerConv
      val turn = (t % TurnsPerConv).toInt
      Turn(convId(conv), turn, if (turn % 2 == 0) "user" else "assistant",
        text(seed, t), "", new Timestamp(BaseEpochMs + conv * 60000L + turn * 1000L))
    }.toDF()
  }

  /** A query term and its df band. */
  final case class QTerm(term: String, band: String)

  /** Band cycle of query terms: 20% head, 40% mid, 40% tail. */
  private val BandCycle = Seq("head", "mid", "tail", "mid", "tail")

  /** Query `i` of query stream `stream`: 1 + i % 4 terms whose bands
    * follow [[BandCycle]], each from a slice of 1/[[Slices]] of its band's
    * ranks fixed by (i, term). The shape and df range of query `i` are the
    * same for every seed; the seed picks the words inside each slice. */
  def query(seed: Long, stream: Int, i: Int): Seq[QTerm] = {
    val r = new SplittableRandom(mix(seed ^ (0x5157L + stream), i))
    (0 until 1 + i % 4).map { j =>
      val band = BandCycle((i + j) % BandCycle.size)
      val slice = (i * 7 + j * 3) % Slices
      def pick(rs: Range) = {
        val w = (rs.size / Slices).max(1)
        word(rs.start + (slice * w + r.nextInt(w)).min(rs.size - 1))
      }
      band match {
        case "head" => QTerm(if ((i + j) % 2 == 0) "tok0" else pick(HeadRanks), band)
        case "mid" => QTerm(pick(MidRanks), band)
        case _ => QTerm(pick(TailRanks), band)
      }
    }
  }

  def queryText(q: Seq[QTerm]): String = q.map(_.term).mkString(" ")
}
