package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The k× replica transforms of Replicate, ScaleCheck and CoreScaling.
  * Replica r shifts the id columns by r·step, so each replica is its own
  * population, and may rewrite content so that replicas do not match each
  * other: pair and join structure then stays within a replica and grows
  * linearly in k. (A naive suffix-token replica makes every doc a near-dup
  * of its k−1 copies, so the output itself grows quadratically.) */
object Replica {
  val Step = 10000000L

  /** k copies of `df`, unioned: replica r adds r·step to each of `idCols`,
    * then goes through `alter(_, r)`. */
  def shifted(df: DataFrame, k: Int, idCols: Seq[String], step: Long = Step)(
      alter: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until k).map { r =>
      alter(idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * step))), r)
    }.reduce(_ unionByName _)

  /** Replica-specific vowel rotation: every word containing a vowel
    * changes, so cross-replica token/shingle overlap collapses while
    * within-replica pair structure stays identical to the original. The 5
    * alphabets cycle, so above k = 5 texts repeat across replicas: fine
    * for per-doc ops (tokenizers, LM scorers), but dedup-family ops then
    * pair across replicas again. */
  val vowelMaps: Array[String] = Array("aeiou", "eioua", "iouae", "ouaei", "uaeio")
  def rotateVowels(text: Column, r: Int): Column =
    translate(text, "aeiou", vowelMaps(r % vowelMaps.length))

  def docs(df: DataFrame, k: Int): DataFrame = shifted(df, k, Seq("doc_id")) { (d, r) =>
    if (r % vowelMaps.length == 0) d else d.withColumn("text", rotateVowels(col("text"), r))
  }

  /** Users, and so sessions, funnels and cohorts, pair only within their
    * replica; timestamps stay, so the day spine is fixed while the user
    * population grows. */
  def events(df: DataFrame, k: Int): DataFrame = shifted(df, k, Seq("user_id", "event_id"))()

  /** Replica r keeps every vector's norm but circularly shifts its `dim`
    * coordinates by r·stride, so a replica's vectors are near-orthogonal
    * to the others' and cosine pairs stay within it. */
  def embeddings(df: DataFrame, k: Int, dim: Int, stride: Int): DataFrame =
    shifted(df, k, Seq("vec_id")) { (d, r) =>
      val s = (r * stride) % dim
      if (s == 0) d
      else d.withColumn("embedding",
        concat(slice(col("embedding"), s + 1, dim - s), slice(col("embedding"), 1, s)))
    }
}

/** Writes k×-replicated tables of an sf dir: the pairing dirs behind the
  * BASELINE.md and SURVEY.md adjudications of whether a paired ratio at
  * sf0.1 is plan shape or per-stage fixed cost (the fixed cost stays flat
  * as data grows; a shape defect does not). Tables: `documents` (k ≤ 10),
  * `embeddings` (k ≤ 5), `events` (k ≤ 16) and `tpch` (lineitem and orders,
  * order keys shifted, k ≤ 16).
  *
  * Usage: Test/runMain graft.tools.Replicate <sfDir> <k> <outDir> <table>… */
object Replicate {
  private val maxK = Map("documents" -> 10, "embeddings" -> 5, "events" -> 16, "tpch" -> 16)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, kArg, outDir) = args.take(3)
    val k = kArg.toInt
    val tables = args.drop(3).toSeq
    tables.foreach { t =>
      require(maxK.contains(t), s"unknown table $t: one of ${maxK.keys.mkString(", ")}")
      require(k >= 1 && k <= maxK(t), s"$t: k in 1..${maxK(t)}: $k")
    }
    val spark = graft.Bench.session("graft-replicate")
    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.coalesce(files).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"wrote ${df.count()} rows to $outDir/$name.parquet")
    }
    val orderStep = 100000000L
    tables.foreach {
      case "documents" => write(Replica.docs(graft.Tables.documents(spark, sfDir), k), "documents", 4)
      case "embeddings" =>
        val emb = graft.Tables.embeddings(spark, sfDir)
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        write(Replica.embeddings(emb, k, dim, stride = 16), "embeddings", 4)
      case "events" =>
        write(Replica.events(spark.read.parquet(s"$sfDir/events.parquet"), k), "events", 4)
      case "tpch" =>
        write(Replica.shifted(graft.Tables.lineitem(spark, sfDir), k, Seq("l_orderkey"), orderStep)(),
          "lineitem", 8)
        write(Replica.shifted(graft.Tables.orders(spark, sfDir), k, Seq("o_orderkey"), orderStep)(),
          "orders", 4)
    }
    spark.stop()
  }
}
