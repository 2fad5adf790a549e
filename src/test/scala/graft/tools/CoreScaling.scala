package graft.tools
import org.apache.spark.sql.functions._

/** Produces the `corescaling_*` rows of SCALING_r21.json.
  *
  * Core-count scaling probe at amortized data size (r21, the r20-verdict
  * "demonstrate one scaling win at a bigger SF" item): replicates the
  * sf0.1 documents k× IN MEMORY (vowel-rotation cycling — texts repeat
  * above k=5, which is valid for PER-DOC ops: the KN scorer never pairs
  * docs) and times per-doc corpus ops. Run it twice, SPARK_GRAFT_CPUS=8
  * then 32, and compare the printed mins: the sf0.1 bench's 8≈32 ratios
  * are per-stage scheduling floor, and this probe shows where real CPU
  * parallelism re-emerges once stages carry work.
  *
  * Usage: Test/runMain graft.tools.CoreScaling <sfDir> <k> */
object CoreScaling {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = args(1).toInt
    // a sanity bound on the replication size: all k replicas are pinned in
    // memory at once (replica ids are offset by r*10M in Long arithmetic,
    // so they stay distinct for any k while sf doc_ids are below 10M)
    require(k >= 1 && k <= 100, s"k must be in [1, 100]: $k")
    val spark = graft.Bench.session("graft-core-scaling")
    val cpus = spark.sparkContext.defaultParallelism
    val docs = Replica.docs(graft.Tables.documents(spark, dir).select("doc_id", "text"), k)
      .repartition(cpus * 2).localCheckpoint(true)
    val n = docs.count()
    val cal = graft.Bench.calibrate()
    val calPar = graft.Bench.calibrateParallel()
    def timed(name: String)(body: => Unit): Unit = {
      body // warm
      val samples = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(f"""{"probe":"$name","cpus":$cpus,"k":$k,"rows":$n,"sec":${samples.min}%.3f,"calib":$cal%.3f,"calib_par":$calPar%.3f}""")
    }
    timed("kn_logprob") {
      graft.ops.Selection.knLogProb(docs, "text", "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    timed("bigram_logprob") {
      graft.ops.Selection.bigramLogProb(docs, "text", "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    // hoisted + pinned OUTSIDE the timed closure so the probe times the
    // classifier, not a per-repetition parquet re-scan (the other probes
    // read the pinned `docs` — this keeps the cross-probe ratios honest)
    val labeled = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"))
      .localCheckpoint(true)
    timed("langid_nb") {
      graft.ops.TextAnalysis.langidNb(labeled, docs, "text", "lang", "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
