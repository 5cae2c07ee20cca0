package perfbench

import java.lang.Long.remainderUnsigned

/** Seeded input generators. Every value is a pure function of
  * (seed, row index), so Spark tasks generate the staged rows and the
  * driver recomputes the expected outputs from the same functions,
  * without reading anything the engine produced. */
object Gen {

  /** SplitMix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, salt: Long): Long =
    mix(mix(seed * 0x9E3779B97F4A7C15L + salt) ^ a)

  def below(h: Long, n: Int): Int = remainderUnsigned(h, n.toLong).toInt

  final class Rng(start: Long) {
    private var s = start
    def next(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def below(n: Int): Int = Gen.below(next(), n)
    def chance(p: Double): Boolean = (next() >>> 11) * (1.0 / (1L << 53)) < p
  }

  /** Order-independent digest of a multiset of 64-bit values: count and
    * wrapping sum of their SplitMix64 images. */
  final case class Digest(count: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
    override def toString: String = f"$count%d:$sum%016x"
  }
  object Digest {
    val empty: Digest = Digest(0, 0)
    def of(values: Iterator[Long]): Digest =
      values.foldLeft(empty)((d, v) => Digest(d.count + 1, d.sum + mix(v)))
  }

  /** FNV-1a over the UTF-8 bytes of a row's rendering. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }
}

final case class DocRow(doc_id: Long, text: String)

/** The document corpus: `baseDocs` seeded base documents, replicated
  * `replicas` times by an alphabet rotation (replica r shifts every
  * letter and digit by r). A rotation is a character bijection, so each
  * replica keeps the base corpus's duplicate structure exactly while
  * documents of different replicas share no tokens.
  *
  * Base documents are of three kinds:
  *  - junk (5%): a few punctuation-wrapped random tokens that the
  *    quality gate rejects by a wide margin;
  *  - variant (12%): a copy of an earlier original with random case
  *    changes and extra whitespace, so it normalises to exactly the same
  *    tokens: a planted near-duplicate whose Jaccard similarity and
  *    SimHash distance to its family root are 1 and 0;
  *  - original: 90-150 tokens, one in three a stopword, as in English
  *    prose; one in five ends with one of 50 shared boilerplate footers,
  *    which makes LSH candidates that verification must reject.
  * The shared stopwords pull unrelated documents' unweighted SimHashes
  * together, so the streaming dedup may drop an unrelated document
  * now and then; [[StreamIngest]] checks and counts those drops.
  * Doc ids are `replica * baseDocs + base index`; a family's root has the
  * lowest id, so it is the member every dedup path keeps. */
final case class Corpus(seed: Long, baseDocs: Int, replicas: Int) {
  import Corpus._

  def size: Long = baseDocs.toLong * replicas

  private def rawKind(b: Int): Int = {
    val u = Gen.below(Gen.hash(seed, b, 1), 1000)
    if (u < 50) Junk else if (u < 170 && b > 0) Variant else Original
  }

  private def parent(b: Int): Int =
    b - 1 - Gen.below(Gen.hash(seed, b, 2), math.min(b, 2000))

  private def chainRoot(b: Int): Int = {
    var p = b
    while (rawKind(p) == Variant) p = parent(p)
    p
  }

  /** Root base index of a variant, or None for junk and originals. A
    * variant whose chain ends at a junk document is an original. */
  def variantRoot(b: Int): Option[Int] =
    if (rawKind(b) != Variant) None
    else Some(chainRoot(b)).filter(r => rawKind(r) != Junk)

  def isJunk(b: Int): Boolean = rawKind(b) == Junk

  /** Id of the family member every dedup keeps: the root for a planted
    * variant, the document itself otherwise. */
  def representative(id: Long): Long = {
    val r = id / baseDocs
    val b = (id % baseDocs).toInt
    variantRoot(b).fold(id)(root => r * baseDocs + root)
  }

  def doc(id: Long): DocRow = {
    val r = (id / baseDocs).toInt
    val b = (id % baseDocs).toInt
    DocRow(id, rotate(baseText(b), r))
  }

  private def baseText(b: Int): String =
    if (isJunk(b)) junkText(b)
    else variantRoot(b).fold(originalText(b))(root => perturb(originalText(root), b))

  @transient private lazy val vocab: Array[String] = Array.tabulate(VocabSize) { w =>
    val rng = new Gen.Rng(Gen.hash(seed, w, 5))
    val sb = new StringBuilder
    (0 until 2 + rng.below(3)).foreach { _ =>
      sb += Consonants(rng.below(Consonants.length))
      sb += Vowels(rng.below(Vowels.length))
    }
    sb.toString
  }

  private def words(rng: Gen.Rng, n: Int): IndexedSeq[String] =
    (0 until n).map { _ =>
      if (rng.chance(1.0 / 3)) Stopwords(rng.below(Stopwords.length))
      else vocab(rng.below(VocabSize))
    }

  private def originalText(b: Int): String = {
    val rng = new Gen.Rng(Gen.hash(seed, b, 3))
    val body = words(rng, 90 + rng.below(61))
    val footer =
      if (rng.chance(0.2)) words(new Gen.Rng(Gen.hash(seed, rng.below(Footers), 4)), 40)
      else IndexedSeq.empty
    val sb = new StringBuilder
    var capital = true
    (body ++ footer).zipWithIndex.foreach { case (w, i) =>
      if (i > 0) sb += ' '
      sb ++= (if (capital) w.capitalize else w)
      capital = false
      if (rng.chance(0.06)) { sb += '.'; capital = true }
      else if (rng.chance(0.06)) sb += ','
    }
    sb += '.'
    sb.toString
  }

  /** Case and whitespace noise that `TextFunctions.normalizeText`
    * removes: tokens stay separated by whitespace runs, and only spaces
    * pad the ends. */
  private def perturb(text: String, b: Int): String = {
    val rng = new Gen.Rng(Gen.hash(seed, b, 6))
    val toks = text.split(' ').map { t =>
      rng.below(6) match {
        case 0 => t.toUpperCase
        case 1 => t.toLowerCase
        case 2 => t.capitalize
        case _ => t
      }
    }
    val seps = Array(" ", " ", " ", " ", "  ", "\n", "\t ", " \n ")
    val sb = new StringBuilder
    if (rng.chance(0.3)) sb ++= "   "
    toks.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb ++= seps(rng.below(seps.length))
      sb ++= t
    }
    if (rng.chance(0.3)) sb ++= "  "
    sb.toString
  }

  private def junkText(b: Int): String = {
    val rng = new Gen.Rng(Gen.hash(seed, b, 7))
    (0 until 4 + rng.below(8)).map { _ =>
      "##" + (0 until 5).map(_ => Alnum(rng.below(Alnum.length))).mkString + "!!"
    }.mkString(" ")
  }
}

object Corpus {
  private val Original = 0
  private val Variant = 1
  private val Junk = 2
  private val VocabSize = 20000
  private val Footers = 50
  private val Consonants = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"
  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
  /** The library's default stopword list, which the quality gate counts. */
  private val Stopwords = graft.text.TextFunctions.defaultStopwords.toArray

  def rotate(s: String, r: Int): String =
    if (r == 0) s
    else s.map { c =>
      if (c >= 'a' && c <= 'z') ('a' + (c - 'a' + r) % 26).toChar
      else if (c >= 'A' && c <= 'Z') ('A' + (c - 'A' + r) % 26).toChar
      else if (c >= '0' && c <= '9') ('0' + (c - '0' + r) % 10).toChar
      else c
    }
}

final case class OrderRow(orderkey: Long, custkey: Long, orderpriority: String,
    orderdate: java.sql.Date)

final case class LineRow(orderkey: Long, linenumber: Int, quantity: Long,
    price_cents: Long, discount_pct: Long, shipdate: java.sql.Date, returnflag: String)

/** TPC-H-shaped `orders` and `lineitem`: 1-7 lines per order, so
  * `orders` = 150k gives the sf0.1 row counts (about 600k lines). */
final case class Tables(seed: Long, orders: Int) {
  import Tables._

  def linesOf(o: Int): Int = 1 + Gen.below(Gen.hash(seed, o, 10), 7)

  def orderDay(o: Int): Long = Day0 + Gen.below(Gen.hash(seed, o, 11), 2400)

  def order(o: Int): OrderRow = OrderRow(o + 1L,
    1L + Gen.below(Gen.hash(seed, o, 12), 15000),
    Priorities(Gen.below(Gen.hash(seed, o, 13), Priorities.length)),
    date(orderDay(o)))

  /** Line `l` of order `o`, as plain values: (quantity, price in cents,
    * discount %, ship day, return flag). */
  def lineValues(o: Int, l: Int): (Long, Long, Long, Long, String) = {
    val rng = new Gen.Rng(Gen.hash(seed, o.toLong * 8 + l, 14))
    val qty = 1L + rng.below(50)
    (qty, qty * (90000L + rng.below(110000)), rng.below(11).toLong,
      orderDay(o) + 1 + rng.below(120), Flags(rng.below(Flags.length)))
  }

  def lines(o: Int): Iterator[LineRow] = Iterator.range(0, linesOf(o)).map { l =>
    val (q, p, d, ship, flag) = lineValues(o, l)
    LineRow(o + 1L, l + 1, q, p, d, date(ship), flag)
  }
}

object Tables {
  val Day0: Long = java.time.LocalDate.of(1992, 1, 1).toEpochDay
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Flags: Array[String] = Array("A", "N", "R")
  def date(day: Long): java.sql.Date = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))
}
