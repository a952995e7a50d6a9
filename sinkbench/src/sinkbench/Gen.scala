package sinkbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable

/** A Kafka record envelope, the shape `KafkaSource.normalize` reads. */
final case class Env(topic: String, partition: Int, offset: Long,
                     timestamp: java.sql.Timestamp, key: Array[Byte],
                     value: Array[Byte])

/** What the committed output must hold for one (topic, partition):
  * offsets `[0, next)` minus `dropped`, and the CRC-32 sum of the first
  * delivery of each kept record's value. */
final class Truth {
  var next = 0L
  val crc = mutable.LongMap.empty[Long] // offset -> crc32(value)
  def crcSum(keep: Long => Boolean = _ => true): Long =
    crc.iterator.collect { case (o, c) if keep(o) => c }.sum
}

object Gen {
  def crc32(b: Array[Byte]): Long = { val c = new CRC32; c.update(b); c.getValue }

  /** Pick an index from cumulative weights. */
  def pick(rng: SplittableRandom, cum: Array[Double]): Int = {
    val u = rng.nextDouble() * cum.last
    var i = 0
    while (cum(i) < u) i += 1
    i
  }

  def cumulative(w: Seq[Double]): Array[Double] = w.scanLeft(0.0)(_ + _).tail.toArray

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  def word(rng: SplittableRandom, min: Int, max: Int): String = {
    val n = min + rng.nextInt(max - min + 1)
    val b = new StringBuilder(n)
    var i = 0
    while (i < n) { b += letters.charAt(rng.nextInt(26)); i += 1 }
    b.toString
  }
}

/** Seeded Kafka-envelope generator over topics × partitions with skewed
  * shares. Record time advances `msPerRow` per generated record from
  * `t0Ms`; `lateShare` of records are stamped 10–40 minutes earlier
  * (out of order, often across an hour boundary). `redeliverShare` of
  * emitted envelopes re-send a recent record (same topic, partition,
  * offset and payload), the at-least-once duplicates a sink must commit
  * once. `wide` selects the ~300 B numeric+string row, else ~200 B. */
final class KafkaGen(seed: Long, topicShares: Seq[(String, Double)],
                     partShares: Seq[Double], wide: Boolean,
                     t0Ms: Long, msPerRow: Double, lateShare: Double,
                     redeliverShare: Double) {
  private val rng = new SplittableRandom(seed)
  private val topicCum = Gen.cumulative(topicShares.map(_._2))
  private val partCum = Gen.cumulative(partShares)
  val truth: Map[(String, Int), Truth] = (for {
    (t, _) <- topicShares; p <- partShares.indices
  } yield (t, p) -> new Truth).toMap
  private val recent = new Array[Env](1 << 16)
  private var made = 0L
  var rows = 0L
  var bytes = 0L

  private val events = Array("view", "click", "add_to_cart", "purchase", "search", "share")
  private val countries = Array("US", "DE", "FR", "IN", "BR", "JP", "GB", "NG")
  private val agents = Array.fill(16)(Gen.word(rng, 12, 24))
  private val cities = Array.fill(64)(Gen.word(rng, 5, 12))

  private def payload(t: String, p: Int, off: Long): String = {
    val b = new StringBuilder(320)
    b ++= "{\"id\":" ++= off.toString ++= ",\"p\":" ++= p.toString
    b ++= ",\"user\":\"u" ++= (rng.nextInt(100000)).toString
    b ++= "\",\"ev\":\"" ++= events(rng.nextInt(events.length))
    b ++= "\",\"amt\":" ++= (rng.nextInt(100000) / 100.0).toString
    b ++= ",\"geo\":\"" ++= countries(rng.nextInt(countries.length))
    b ++= "\",\"ua\":\"" ++= agents(rng.nextInt(agents.length))
    if (wide) {
      b ++= "\",\"city\":\"" ++= cities(rng.nextInt(cities.length))
      b ++= "\",\"qty\":" ++= rng.nextInt(50).toString
      b ++= ",\"price\":" ++= (rng.nextInt(1000000) / 100.0).toString
      b ++= ",\"lat\":" ++= (rng.nextDouble() * 180 - 90).toString
      b ++= ",\"lon\":" ++= (rng.nextDouble() * 360 - 180).toString
      b ++= ",\"sku\":\"" ++= Gen.word(rng, 10, 10)
    }
    b ++= "\",\"note\":\""
    val target = if (wide) 300 else 200
    while (b.length < target - 2) b += ('a' + rng.nextInt(26)).toChar
    b ++= "\"}"
    b.toString
  }

  def next(n: Int): Array[Env] = {
    val out = new Array[Env](n)
    var i = 0
    while (i < n) {
      val e =
        if (made > 0 && rng.nextDouble() < redeliverShare)
          recent(rng.nextInt(math.min(made, recent.length.toLong).toInt))
        else {
          val t = topicShares(Gen.pick(rng, topicCum))._1
          val p = Gen.pick(rng, partCum)
          val tr = truth((t, p))
          val off = tr.next
          tr.next += 1
          var ts = t0Ms + (made * msPerRow).toLong
          if (rng.nextDouble() < lateShare) ts -= 600000L + rng.nextInt(1800000)
          val v = payload(t, p, off).getBytes(UTF_8)
          tr.crc(off) = Gen.crc32(v)
          val e = Env(t, p, off, new java.sql.Timestamp(ts),
            s"k$off".getBytes(UTF_8), v)
          recent((made % recent.length).toInt) = e
          made += 1
          e
        }
      out(i) = e
      rows += 1
      bytes += e.value.length + e.key.length
      i += 1
    }
    out
  }
}

/** Seeded document stream for the near-duplicate gate: novel documents
  * over a synthetic Zipf-skewed vocabulary, plus planted EXACT replays
  * and NEAR-duplicate edits (1–2 token substitutions) of documents
  * emitted in an earlier chunk, in known shares. */
final class DocGen(seed: Long, exactShare: Double, nearShare: Double) {
  private val rng = new SplittableRandom(seed)
  private val vocab = Array.fill(6000)(Gen.word(rng, 3, 10))
  private val earlier = mutable.ArrayBuffer.empty[String]
  private val current = mutable.ArrayBuffer.empty[String]
  val truth: Map[(String, Int), Truth] =
    (0 until 8).map(p => ("docs", p) -> new Truth).toMap
  /** (partition, offset) of planted exact replays / near-dups / originals. */
  val exact = mutable.Set.empty[(Int, Long)]
  val near = mutable.Set.empty[(Int, Long)]
  val novel = mutable.Set.empty[(Int, Long)]
  var rows = 0L
  var bytes = 0L

  private def token(): String = {
    val u = rng.nextDouble()
    vocab((u * u * vocab.length).toInt)
  }

  private def novelDoc(): String =
    Seq.fill(40 + rng.nextInt(50))(token()).mkString(" ")

  private def edit(doc: String): String = {
    val toks = doc.split(' ')
    (0 to rng.nextInt(2)).foreach(_ => toks(rng.nextInt(toks.length)) = token())
    toks.mkString(" ")
  }

  /** One chunk; documents of this chunk become replay sources only for
    * later chunks, so a planted replay always targets committed text. */
  def chunk(n: Int, tsMs: Long): Array[Env] = {
    earlier ++= current
    current.clear()
    Array.tabulate(n) { _ =>
      val p = rng.nextInt(8)
      val tr = truth(("docs", p))
      val off = tr.next
      tr.next += 1
      val u = rng.nextDouble()
      val text =
        if (earlier.nonEmpty && u < exactShare) {
          exact += ((p, off)); earlier(rng.nextInt(earlier.length))
        } else if (earlier.nonEmpty && u < exactShare + nearShare) {
          near += ((p, off)); edit(earlier(rng.nextInt(earlier.length)))
        } else {
          novel += ((p, off))
          val d = novelDoc(); current += d; d
        }
      val v = text.getBytes(UTF_8)
      tr.crc(off) = Gen.crc32(v)
      rows += 1
      bytes += v.length
      Env("docs", p, off, new java.sql.Timestamp(tsMs), s"d$off".getBytes(UTF_8), v)
    }
  }
}
