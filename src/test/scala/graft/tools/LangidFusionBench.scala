package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Produces LANGID_FUSION.json.
  *
  * Fused-vs-folds scoring pairing for the langidNb kernel (r16 verdict
  * #2's "measured win at nLangs ≥ 8"): times the r16 formulation — one
  * interpreted `aggregate()` HOF fold PER CLASS over the materialized
  * trigram-bucket array — against the fused
  * [[graft.functions.NbTrigramArgmax]] kernel on the same corpus, same
  * random model, at nLangs ∈ {4, 8, 16}. Only the SCORING stage runs
  * (the model is synthesized on the driver): the training aggregate is
  * identical under both formulations and would only blur the pairing.
  *
  * Usage: Test/runMain graft.tools.LangidFusionBench [sfDir]
  * Prints one JSON line per (nLangs, form, rep) and a summary of
  * min-of-3 ratios.
  */
object LangidFusionBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Bench.session("graft-langid-fusion")
    val buckets = 1024
    // 32× self-union (id-shifted): the base sf0.1 corpus is 5k short docs
    // whose whole scan is ~80 ms — too small for the scoring kernel to
    // dominate scheduler overhead; the pairing needs second-scale jobs
    val base = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), lower(trim(col("text"))).as("_t"))
      .filter(length(col("_t")) >= 3)
    val docs = Replica.shifted(base, 32, Seq("doc_id"))()
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val n = docs.count()
    def timed(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }
    val sums = scala.collection.mutable.Map[(Int, String), Double]()
    for (nLangs <- Seq(4, 8, 16)) {
      val rnd = new scala.util.Random(nLangs)
      val flat = Array.fill(nLangs * buckets)(-(rnd.nextInt(14000) + 100).toLong)
      val priors = Array.fill(nLangs)(-(rnd.nextInt(3000) + 50).toLong)
      def fused(): DataFrame = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.nb_trigram_argmax(
          col("_t"), buckets, flat, priors).as("w"))
        .select(col("doc_id"), col("w").getField("idx").as("idx"),
          col("w").getField("tot").as("tot"))
      // the r16 formulation, verbatim shape: materialize the bucket
      // array, then one aggregate() fold per class, argmax via array_min
      def folds(): DataFrame = {
        val withBa = docs.select(col("doc_id"),
          graft.functions.GraftFunctions.trigram_buckets(
            col("_t"), buckets.toLong).as("_ba"))
        val perLang = (0 until nLangs).map { l =>
          val lutCol = typedLit((0 until buckets).map(b => flat(b * nLangs + l)))
          val tot = aggregate(col("_ba"), lit(priors(l)),
            (acc, b) => acc + element_at(lutCol, (b + 1).cast("int")))
          struct((-tot).as("_neg"), lit(l).as("_l"))
        }
        withBa.select(col("doc_id"), array_min(array(perLang: _*)).as("w"))
          .select(col("doc_id"), col("w").getField("_l").as("idx"),
            (-col("w").getField("_neg")).as("tot"))
      }
      // equivalence guard before timing: same checksum on both forms
      val csF = fused().agg(sum(col("idx")), sum(col("tot"))).head()
      val csO = folds().agg(sum(col("idx")), sum(col("tot"))).head()
      require(csF == csO, s"fused != folds at nLangs=$nLangs: $csF vs $csO")
      var minF = Double.MaxValue; var minO = Double.MaxValue
      for (rep <- 1 to 3) {
        val (tF, _) = timed(fused().count())
        val (tO, _) = timed(folds().count())
        minF = math.min(minF, tF); minO = math.min(minO, tO)
        println(f"""{"n_langs":$nLangs,"rep":$rep,"fused_sec":$tF%.3f,"folds_sec":$tO%.3f}""")
      }
      sums((nLangs, "fused")) = minF; sums((nLangs, "folds")) = minO
    }
    val summary = Seq(4, 8, 16).map { nl =>
      val f = sums((nl, "fused")); val o = sums((nl, "folds"))
      f"""{"n_langs":$nl,"fused_min":$f%.3f,"folds_min":$o%.3f,"speedup":${o / f}%.2f}"""
    }.mkString("[", ",", "]")
    println(s"""{"sf_dir":"$sfDir","rows":$n,"buckets":$buckets,"min_of":3,"summary":$summary}""")
    spark.stop()
  }
}
