package ragbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

/** One generated input line. `passages` are the texts the pipeline must
  * deliver for a valid record (empty for filtered ones). */
final case class Record(seq: Long, line: String, passages: Seq[String], kind: String)

/** Seeded input generation. Records carry their sequence number as the tag
  * token `r<seq>c<k>` at the start of every `chunk`-token window, so each
  * passage the store receives names its record and its passage index. */
final class Gen(seed: Long) {
  private val rnd = new scala.util.Random(seed)

  private val syllables = Seq("ka", "lo", "mi", "nu", "pe", "ra", "so", "ti", "va", "ze",
    "bo", "da", "fe", "gu", "hi", "jo", "ku", "le", "mo", "ne")
  val vocab: IndexedSeq[String] = (0 until 3000).map { i =>
    var x = i + 400; val b = new StringBuilder
    while (x > 0) { b.append(syllables(x % syllables.size)); x /= syllables.size }
    b.toString
  }
  // Zipf(1) ranks: a few common words and a long tail, like real text
  private val cdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
  }
  def nextInt(n: Int): Int = rnd.nextInt(n)
  def nextDouble(): Double = rnd.nextDouble()

  def words(n: Int): Seq[String] = Seq.fill(n)(word())

  /** A record of `n` body words whose passages are `chunk`-token windows. */
  def record(seq: Long, n: Int, createdAt: String, chunk: Int,
             emptyShare: Double, malformedShare: Double): Record = {
    val u = rnd.nextDouble()
    if (u < emptyShare)
      Record(seq, s"""{"text":"","created_at":"$createdAt"}""", Nil, "empty")
    else if (u < emptyShare + malformedShare)
      Record(seq, s"""{"text":"r${seq}c0 ${words(3).mkString(" ")}""", Nil, "malformed")
    else {
      val body = words(n).toIndexedSeq
      val per = chunk - 1
      val passages = body.grouped(per).zipWithIndex.map { case (ws, k) =>
        (s"r${seq}c$k" +: ws).mkString(" ")
      }.toSeq
      val text = passages.mkString(" ")
      Record(seq, s"""{"text":"$text","created_at":"$createdAt"}""",
        passages, "valid")
    }
  }
}

object Gen {
  def iso(epochMs: Long): String = Instant.ofEpochMilli(epochMs).toString match {
    case s if s.length == 20 => s.dropRight(1) + ".000Z" // whole seconds print without millis
    case s => s
  }

  /** Sequence number of a tag-led text (`r<seq>c<k> …`), -1 if none. */
  def seqOf(text: String): Long = {
    if (text == null || !text.startsWith("r")) return -1L
    val c = text.indexOf('c')
    if (c < 2) -1L else try text.substring(1, c).toLong catch { case _: NumberFormatException => -1L }
  }

  /** Write lines to `dir/name` atomically: to a sibling staging dir first,
    * then one rename, so the file source never lists a partial file. */
  def stage(staging: Path, dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
