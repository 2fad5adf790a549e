package graft.tools

import org.apache.spark.sql.functions._

/** Produces KN_PRUNE_CURVE.json.
  *
  * KN pruning trade-off artifact (run on demand):
  * the KenLM size-vs-quality curve for [[graft.ops.Selection.knTrain]]'s
  * count threshold — train on 3/4 of the sf0.1 documents corpus, score the
  * held-out 1/4 under models pruned at minCount ∈ {1, 2, 3, 4, 8}, and
  * record (trigram rows kept, total model rows, held-out mean log-prob,
  * perplexity). Monotonicity (log-prob non-increasing in the threshold) is
  * a theorem of the formulation — SelectionSpec pins it on a fixture; this
  * artifact shows the MAGNITUDE on real data, which is what a deployment
  * sizing a materialized model actually needs.
  *
  * {{{ sbt "Test/runMain graft.tools.KnPruneCurve" }}}
  */
object KnPruneCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session("graft-kn-prune-curve")
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
    val train = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .localCheckpoint(true)
    val held = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      .localCheckpoint(true)
    val points = Seq(1L, 2L, 3L, 4L, 8L).map { mc =>
      val model = graft.ops.Selection.knTrain(train, "text", minCount = mc)
        .localCheckpoint(true) // materialized once — the artifact shape
      val trigRows = model.filter(col("grain") === "trig").count()
      val totalRows = model.count()
      val sc = graft.ops.Selection.knScore(model, held, "text", "doc_id")
        .agg(sum(col("avg_logprob") * col("n_trigrams")), sum(col("n_trigrams")))
        .head()
      val mean = sc.getDouble(0) / sc.getLong(1)
      (mc, trigRows, totalRows, mean, math.exp(-mean))
    }
    // the monotonicity theorem, asserted on the real corpus too
    points.sliding(2).foreach {
      case Seq(a, b) => require(b._4 <= a._4 + 1e-9,
        s"held-out log-prob must be monotone in minCount: $a -> $b")
      case _ =>
    }
    val json = points.map { case (mc, tr, tot, lp, ppl) =>
      f"""  {"min_count":$mc,"trig_rows":$tr,"model_rows":$tot,"heldout_mean_logprob":$lp%.6f,"heldout_ppl":$ppl%.3f}"""
    }.mkString(
      s"""{"sf":"$sfDir","split":"doc_id % 4 (3/4 train, 1/4 heldout)",
         |"note":"trigram grain is the only pruned grain (knTrain contract); log-prob monotone non-increasing in min_count is asserted, not assumed",
         |"points":[
         |""".stripMargin, ",\n", "\n]}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("KN_PRUNE_CURVE.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
