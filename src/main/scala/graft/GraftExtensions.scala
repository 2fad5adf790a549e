package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Spark-native integration point: register graft's custom expressions with
  * any session via the standard extensions mechanism —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  * // or
  * the session builder's .withExtensions(new GraftExtensions) …
  * }}}
  *
  * after which `SELECT cosine_sim(a, b)`, `fnv64(text)`,
  * `minhash_bands(tokens, 64, 16)` … work in plain SQL with no per-session
  * `registerAll` call. This is the library-grade path (cluster-wide config,
  * works for pure-SQL users); [[graft.functions.GraftFunctions.registerAll]]
  * is the programmatic equivalent — both draw from the same
  * [[GraftExtensions.functions]] list so they can never drift apart.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
}

object GraftExtensions {
  import graft.functions._

  private def intArg(x: Expression, what: String): Int = x match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def f(name: String, usage: String)(builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", name, usage),
      builder)

  /** The single source of truth for graft's SQL function surface. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    f("cosine_sim", "cosine_sim(a, b) — cosine similarity of float vectors") {
      xs => CosineSimilarity(xs(0), xs(1)) },
    f("l2_dist", "l2_dist(a, b) — euclidean distance of float vectors") {
      xs => L2Distance(xs(0), xs(1)) },
    f("dot_product", "dot_product(a, b)") {
      xs => DotProduct(xs(0), xs(1)) },
    f("max_sim", "max_sim(q, d) — ColBERT late-interaction sum of per-query-token max cosine over array<array<float>>") {
      xs => MaxSim(xs(0), xs(1)) },
    f("fnv64", "fnv64(s) — 64-bit FNV-1a content hash") {
      xs => Fnv64(xs(0)) },
    f("simhash64", "simhash64(tokens) — Charikar simhash") {
      xs => SimHash64(xs(0)) },
    f("minhash_sig", "minhash_sig(tokens, k)") {
      xs => MinHashSignature(xs(0), intArg(xs(1), "minhash k")) },
    f("minhash_bands", "minhash_bands(tokens, k, bands)") {
      xs => MinHashBands(xs(0), intArg(xs(1), "minhash k"), intArg(xs(2), "bands")) },
    f("winnow_fingerprint", "winnow_fingerprint(text, ngram, window)") {
      xs => WinnowFingerprint(xs(0), intArg(xs(1), "ngram"), intArg(xs(2), "window")) },
    f("ac_count", "ac_count(text, 'phrase1|phrase2|…') — one-pass Aho–Corasick: struct(hits, phrases); lexicon is a |-delimited string literal (phrases must not contain '|')") {
      xs => xs(1) match {
        case Literal(null, _) => throw new IllegalArgumentException(
          "ac_count lexicon must not be NULL — pass a |-delimited string literal")
        case Literal(v, _) =>
          val phrases = scala.collection.immutable.ArraySeq.unsafeWrapArray(
            v.toString.split('|').filter(_.nonEmpty))
          // Validate the SPLIT lexicon eagerly, at registration/plan time:
          // without this, a duplicate phrase after the '|' split (e.g.
          // 'he|he') only surfaces at executor eval time as an opaque
          // task-failure `require` from the lazy AcAutomaton.build.
          if (phrases.isEmpty) throw new IllegalArgumentException(
            "ac_count lexicon is empty after '|' split — need at least one non-empty phrase")
          val dups = phrases.groupBy(identity).collect {
            case (p, occ) if occ.length > 1 => p }
          if (dups.nonEmpty) throw new IllegalArgumentException(
            s"ac_count lexicon has duplicate phrase(s) after '|' split: ${dups.mkString(", ")}")
          AcAutomaton.build(phrases) // force full build validation at plan time, not executor eval time
          AhoCorasickCount(xs(0), phrases)
        case other => throw new IllegalArgumentException(
          s"ac_count lexicon must be a string literal, got $other")
      } },
    f("word_shingles", "word_shingles(tokens, n) — distinct word n-grams") {
      xs => WordShingles(xs(0), intArg(xs(1), "shingle n")) },
    f("top_ngram_run", "top_ngram_run(tokens, n) — max n-gram frequency") {
      xs => TopNgramRun(xs(0), intArg(xs(1), "ngram n")) },
    f("unicode_norm", "unicode_norm(s, 'NFC'|'NFD'|'NFKC'|'NFKD')") {
      xs => UnicodeNormalize(xs(0), xs(1) match {
        case Literal(v, _) if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"normalization form must be a string literal, got $other")
      }) },
    f("strip_accents", "strip_accents(s) — remove combining marks") {
      xs => StripAccents(xs(0)) },
    f("int8_encode", "int8_encode(vec) — symmetric int8 quantization codes") {
      xs => Int8Encode(xs(0)) },
    f("int8_dot", "int8_dot(a, b) — exact integer dot of int8 codes") {
      xs => Int8Dot(xs(0), xs(1)) },
    f("kll_sketch_agg", "kll_sketch_agg(x, k) — mergeable KLL quantile sketch") {
      xs => KllSketchAgg(xs(0), xs(1)) },
    f("kll_union_agg", "kll_union_agg(sketch, k) — union KLL sketches") {
      xs => KllUnionAgg(xs(0), xs(1)) },
    f("kll_quantile", "kll_quantile(sketch, p) — value at normalized rank p") {
      xs => KllQuantile(xs(0), xs(1)) },
    f("kll_rank", "kll_rank(sketch, v) — normalized rank of v") {
      xs => KllRank(xs(0), xs(1)) },
    f("kll_n", "kll_n(sketch) — values absorbed (exact)") {
      xs => KllCount(xs(0)) },
    f("theta_sketch_agg", "theta_sketch_agg(x, lgK) — mergeable theta set sketch") {
      xs => ThetaSketchAgg(xs(0), xs(1)) },
    f("theta_union_agg", "theta_union_agg(sketch, lgK) — union theta sketches") {
      xs => ThetaUnionAgg(xs(0), xs(1)) },
    f("theta_intersect", "theta_intersect(a, b) — sketch of A ∩ B") {
      xs => ThetaIntersect(xs(0), xs(1)) },
    f("theta_a_not_b", "theta_a_not_b(a, b) — sketch of A \\ B") {
      xs => ThetaANotB(xs(0), xs(1)) },
    f("theta_estimate", "theta_estimate(sketch) — distinct estimate") {
      xs => ThetaEstimate(xs(0)) },
    f("sorted_intersect_count",
      "sorted_intersect_count(a, b) — set-intersection size of two sorted string arrays") {
      xs => SortedIntersectCount(xs(0), xs(1)) },
    f("token_entropy", "token_entropy(tokens) — Shannon entropy (nats) of the token distribution") {
      xs => TokenEntropy(xs(0)) },
    f("z_value", "z_value(x, y) — 64-bit Morton interleave of two 32-bit keys") {
      xs => ZValue(xs(0), xs(1)) },
    f("jaro_sim", "jaro_sim(a, b) — Jaro string similarity") {
      xs => JaroSim(xs(0), xs(1)) },
    f("jaro_winkler", "jaro_winkler(a, b) — Jaro-Winkler similarity (prefix boost)") {
      xs => JaroWinklerSim(xs(0), xs(1)) },
    f("bpe_encode",
      "bpe_encode(tokens, merges) — apply learned BPE merges ('left right' entries, priority order)") {
      xs => BpeEncode(xs(0), xs(1)) })
}
