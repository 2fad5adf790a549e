package graft.tools
/** Produces the plans/<round>/ evidence (plans/r20, plans/r21).
  *
  * Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the round's plans/<round>/<query>_{before,after}.txt evidence. Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> q_a q_b …
  * writes <outDir>/<name>_<suffix>.txt per query. Uses the bench's exact
  * session configuration so the captured plan is the one the bench runs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args.drop(3)
    val spark = graft.Bench.session("graft-plan-dump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val df = fn(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      val nEx = "Exchange".r.findAllIn(plan).length
      println(s"[plandump] $n -> ${n}_$suffix.txt (Exchange x$nEx)")
    }
    spark.stop()
  }
}
