package lakebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** One file of trade ticks, as JSON lines, in the reference's Kafka-value
  * shape: `{"symbol", "price", "quantity", "timestamp"}`.
  */
final case class TickFile(index: Int, bytes: Array[Byte], rows: Int, malformed: Int,
    late: Int, maxEventUs: Long)

/** Deterministic trade-tick generator. Everything it emits is a function
  * of the seed and the file index, never of the wall clock, so the same
  * seed lands byte-identical inputs.
  *
  * Event time runs `speed`× faster than the schedule, so one scheduled
  * second spans `speed` event-seconds: with 60× the reference's 1-min
  * windows (30-s slide) close every half second of wall time.
  * Symbols follow a Zipf law; each price is a random walk. A `lateShare` of
  * ticks is stamped up to `maxLateS` event-seconds in the past (inside the
  * 1-min watermark, so none may be dropped), and a `malformedShare` of
  * payloads is cut short so that `from_json` yields nulls.
  */
final class TickGen(seed: Long, val ticksPerFile: Int, val filePeriodS: Double,
    val speed: Double = 60.0, val symbols: Int = 20, lateShare: Double = 0.03,
    maxLateS: Double = 30.0, malformedShare: Double = 0.005) {
  private val rnd = new SplittableRandom(seed)
  private val names = (0 until symbols).map(i => f"SYM$i%02d")
  private val zipfCdf = {
    val w = (1 to symbols).map(r => 1.0 / r)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val price = Array.tabulate(symbols)(i => 50.0 + 10.0 * i)
  private var next = 0

  /** Event time (µs) the schedule has reached at wall offset `s` seconds. */
  def eventUsAt(s: Double): Long = TickGen.BaseUs + (s * speed * 1e6).toLong

  private def pickSymbol(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, symbols - 1)
  }

  /** The next file in schedule order. */
  def nextFile(): TickFile = {
    val k = next
    next += 1
    val sb = new java.lang.StringBuilder(ticksPerFile * 100)
    var malformed = 0
    var late = 0
    var maxEv = Long.MinValue
    var j = 0
    while (j < ticksPerFile) {
      val s = pickSymbol()
      price(s) = math.max(1.0, price(s) * (1.0 + 0.001 * (rnd.nextDouble() * 2 - 1)))
      val qty = 0.001 + rnd.nextDouble() * 2.0
      var ev = eventUsAt((k + j.toDouble / ticksPerFile) * filePeriodS)
      if (rnd.nextDouble() < lateShare) {
        ev -= 1 + rnd.nextLong((maxLateS * 1e6).toLong)
        late += 1
      }
      val line =
        s"""{"symbol":"${names(s)}","price":${TickGen.fmt(price(s))},""" +
          s""""quantity":${TickGen.fmt(qty)},"timestamp":"${TickGen.iso(ev)}"}"""
      if (rnd.nextDouble() < malformedShare) {
        sb.append(line, 0, line.indexOf("\"price\"") + 8)
        malformed += 1
      } else {
        sb.append(line)
        maxEv = math.max(maxEv, ev)
      }
      sb.append('\n')
      j += 1
    }
    TickFile(k, sb.toString.getBytes(StandardCharsets.UTF_8), ticksPerFile, malformed, late, maxEv)
  }
}

object TickGen {
  /** Event time of every schedule's start: 2025-01-01T00:00:00Z. */
  val BaseUs: Long = 1735689600L * 1000000L

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  def iso(us: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC).format(isoFmt)

  def fmt(d: Double): String = java.math.BigDecimal.valueOf(d)
    .setScale(4, java.math.RoundingMode.HALF_EVEN).toPlainString

  /** Land a file atomically: written under a hidden name (which file
    * sources skip), then renamed into place.
    */
  def land(dir: Path, f: TickFile): Path = {
    val tmp = dir.resolve(f".part-${f.index}%07d.tmp")
    Files.write(tmp, f.bytes)
    Files.move(tmp, dir.resolve(f"part-${f.index}%07d.json"), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The LLM-data corpus in the shape of the program's sf0.1 `documents` and
  * `embeddings` tables, drawn from the seed: short texts over a small
  * technical vocabulary (5% exact and 5% near duplicates of earlier
  * documents), and 64-d vectors clustered around ten labels.
  */
object CorpusGen {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  private val vocab = ("a the data spark stream batch table query join group agg sort filter " +
    "scan hash key value row column window merge order part line vector customer fast slow " +
    "big small").split(' ')
  private val langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de", "zh", "es", "fr", "de")

  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val u = rnd.nextDouble()
      val text =
        if (i > 10 && u < 0.05) texts(rnd.nextInt(i))
        else if (i > 10 && u < 0.10) {
          val w = texts(rnd.nextInt(i)).split(' ')
          (0 until 3).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
          w.mkString(" ")
        } else Seq.fill(8 + rnd.nextInt(56))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      texts(i) = text
      Doc(i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }

  def vectors(seed: Long, n: Int, dim: Int = 64, labels: Int = 10): Seq[Vec] = {
    val rnd = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    def gauss(): Double = {
      // Box-Muller: SplittableRandom has no nextGaussian on this JDK
      val u = 1.0 - rnd.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
    val centroids = Array.fill(labels, dim)(gauss() * 0.2)
    (0 until n).map { i =>
      val l = rnd.nextInt(labels)
      Vec(i.toLong, Array.tabulate(dim)(d => (centroids(l)(d) + gauss() * 0.05).toFloat), l)
    }
  }
}
