package ragbench

import scala.collection.mutable

import graft.embed.StubEmbeddingProvider

/** Outcome of checking what the store acknowledged against the inputs.
  * `lastAck` holds, for every record delivered correctly, the ack time of
  * its last passage. */
final case class IngestCheck(attempted: Long, failed: Long, lastAck: Map[Long, Double],
                             missing: Long, problems: Seq[String])

object Check {
  private val stub = StubEmbeddingProvider("titan-v2")

  /** Every valid record's passages must arrive exactly once, by tag, with
    * the text the chunker makes and the vector the stub gives for it; and
    * in = acked + filtered + dead-lettered. A record fails if any of its
    * passages is missing, repeated, or wrong, or if it was dead-lettered. */
  def ingest(recs: Seq[Record], docs: Seq[StoredDoc], deadLettered: Long): IngestCheck = {
    val expected = mutable.HashMap.empty[String, String]
    for (r <- recs if r.kind == "valid"; (p, k) <- r.passages.zipWithIndex)
      expected(s"r${r.seq}c$k") = p
    val seen = mutable.HashMap.empty[String, Int]
    val bad = mutable.HashSet.empty[Long]
    val lastAck = mutable.HashMap.empty[Long, Double]
    val problems = mutable.ArrayBuffer.empty[String]
    def fail(seq: Long, why: String): Unit = {
      bad += seq
      if (problems.size < 5) problems += why
    }
    for (d <- docs) {
      val seq = Gen.seqOf(d.tag)
      expected.get(d.tag) match {
        case None => fail(seq, s"unexpected document ${d.tag}")
        case Some(text) =>
          val n = seen.getOrElse(d.tag, 0) + 1
          seen(d.tag) = n
          if (n > 1) fail(seq, s"${d.tag} acked $n times")
          if (Mocks.stringField(d.doc, "text") != text) fail(seq, s"${d.tag} has the wrong text")
          else if (!vectorMatches(d.doc, stub.embed(text).embedding)) fail(seq, s"${d.tag} has the wrong vector")
          lastAck(seq) = math.max(lastAck.getOrElse(seq, Double.MinValue), d.ackMs)
      }
    }
    val missingTags = expected.keys.filterNot(seen.contains).toSeq
    missingTags.foreach(t => fail(Gen.seqOf(t), s"$t never acked"))
    val valid = recs.filter(_.kind == "valid").map(_.seq)
    val acked = valid.filterNot(bad)
    val filtered = recs.size - valid.size
    if (acked.size + filtered + deadLettered != recs.size)
      problems += s"in ${recs.size} != acked ${acked.size} + filtered $filtered + dead-lettered $deadLettered"
    IngestCheck(recs.size.toLong, (valid.size - acked.size).toLong,
      acked.map(s => s -> lastAck(s)).toMap, missingTags.size.toLong, problems.toSeq)
  }

  /** The doc's `passage_embedding` equals `want` float for float. */
  def vectorMatches(doc: String, want: Array[Float]): Boolean = {
    val key = "\"passage_embedding\":["
    val a = doc.indexOf(key)
    if (a < 0) return false
    val b = doc.indexOf(']', a)
    val parts = doc.substring(a + key.length, b).split(',')
    if (parts.length != want.length) return false
    var i = 0
    while (i < parts.length) {
      val got = try java.lang.Float.parseFloat(parts(i)) catch { case _: NumberFormatException => Float.NaN }
      if (got != want(i)) return false
      i += 1
    }
    true
  }

  /** Ids as the checker sees them: `inject=topk` swaps in a wrong first id,
    * to show the query checks reject it. */
  def topk(ids: Seq[String], inject: String): Seq[String] =
    if (inject == "topk" && ids.nonEmpty) "not-an-id" +: ids.tail else ids
}
