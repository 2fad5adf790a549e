package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model._
import graft.embed.{EmbeddingProvider, EmbeddingStage, RetryPolicy, StubEmbeddingProvider}
import graft.sink.VectorSink

/** The reference topology, rebuilt Spark-first (SURVEY §2a S1→O5):
  *
  * {{{
  * source → parse JSON (O1) → enrich +uuid (O2) → filter non-empty text (O3)
  *        → bounded-concurrency embedding (O4) → vector table (O5)
  * }}}
  *
  * Differences from the reference, all deliberate and documented:
  *  - Malformed JSON goes to a dead-letter channel instead of crashing the
  *    job (reference Jackson parse throws,
  *    `operators/map/CustomMessageMapFunction.java:21-26`).
  *  - An embedding failure is a dead-letter row (with a dead-letter dir)
  *    or a task failure (without one), never a null poison pill NPE-ing
  *    the sink (reference
  *    `…BedRockEmbeddingModelAsyncCustomMessage.java:109-117`).
  *  - `_id` is kept in the vector table; the reference drops it
  *    (`DataStreamJob.java:191` commented out) and relies on the store to
  *    mint ids, which duplicates documents on replay.
  */
object RagPipeline {

  /** O1 — parse the wire format (`{"text":…, "created_at":…}`) with a
    * PERMISSIVE corrupt-record channel. Input: a DataFrame with a string
    * `value` column (Kafka-shaped). Output columns:
    * text, created_at, _corrupt_record. */
  def parseWire(raw: DataFrame): DataFrame = {
    raw.select(
        from_json(col("value"), Schemas.wireWithCorrupt,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
          .as("m"))
      .select(col("m.text"), col("m.created_at"), col("m._corrupt_record"))
  }

  /** Rows `parseWire` could not parse — the dead-letter channel. */
  def deadLetters(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))

  /** O2 — enrich with a per-record uuid-v4 `_id` (same nondeterminism as the
    * reference; content-hash dedup is the replay-safe alternative, see
    * [[graft.ops.Dedup]]). */
  def enrich(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNull)
      .select(col("text"), col("created_at"))
      .withColumn("_id", expr("uuid()"))

  /** O3 — reference semantics exactly: only the empty string is dropped
    * (`DataStreamJob.java:146` uses `isEmpty`; whitespace-only text passes).
    * Nulls (missing `text` field) are also dropped here instead of NPE-ing. */
  def filterNonEmpty(df: DataFrame): DataFrame =
    df.filter(col("text").isNotNull && col("text") =!= "")

  /** Optional O3.5 — passage chunking between the non-empty filter and the
    * embedding stage: the reference's vector schema stores PASSAGE
    * embeddings (`passage_embedding`) but its repo leaves cutting documents
    * into passages to the producer; this makes it a pipeline stage. Each
    * passage becomes its own document with `_id = <parent id>#<chunk_idx>`
    * (lineage-preserving, deterministic given the parent id) and the
    * parent's `created_at`. Token-empty documents (whitespace-only text,
    * which O3 deliberately passes) produce no passages — there is nothing
    * to embed. No shuffle: generator expansion per input partition. */
  def chunk(df: DataFrame, size: Int, stride: Int): DataFrame =
    graft.ops.TextAnalysis
      .chunkPassages(df, "text", "_id", size, stride, carry = Seq("created_at"))
      .filter(col("n_tok") > 0)
      .select(
        concat(col("_id"), lit("#"), col("chunk_idx")).as("_id"),
        col("passage").as("text"),
        col("created_at"))

  /** O4 — embedding via bounded-concurrency mapPartitions (the Spark
    * analogue of `AsyncDataStream.unorderedWait(…, 1000)`), under the
    * no-dead-letter policy: [[embedSafe]]'s loop retries per
    * [[graft.embed.RetryPolicy]], and the first record that still fails
    * fails the task with that record's error — a document is never dropped
    * silently. Typed Dataset in/out so Tungsten handles the row format. */
  def embed(df: DataFrame, provider: EmbeddingProvider,
            maxInFlight: Int = 1000): Dataset[EmbeddedRecord] =
    embedOrFail(embedSafe(df, provider, RetryPolicy(), maxInFlight))

  /** O4 with dead letters — the one embed loop
    * ([[graft.embed.EmbeddingStage.embedIteratorSafe]]): bounded retry and
    * per-record error capture. Output: [[graft.model.EmbeddedAttempt]] rows
    * where exactly one of `embedding`/`embed_error` is non-null. Split with
    * [[embedSuccesses]] / [[embedDeadLetters]]. The reference's async
    * operator emits a null poison pill on failure and the sink NPEs
    * (`…BedRockEmbeddingModelAsyncCustomMessage.java:109-117`); here a
    * failing record costs one dead-letter row, never the job. */
  def embedSafe(df: DataFrame, provider: EmbeddingProvider,
                policy: RetryPolicy = RetryPolicy(),
                maxInFlight: Int = 1000): Dataset[EmbeddedAttempt] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("text"), col("created_at"), col("_id"))
      .as[EnrichedMessage]
      .mapPartitions { it =>
        val (texts, metas) = it.duplicate
        val results = EmbeddingStage.embedIteratorSafe(
          texts.map(_.text), provider, policy, maxInFlight)
        metas.zip(results).map {
          case (m, Right(r)) =>
            EmbeddedAttempt(m.text, m.created_at, m._id, r.embedding,
              r.inputTextTokenCount, null)
          case (m, Left(err)) =>
            EmbeddedAttempt(m.text, m.created_at, m._id, null, 0, err)
        }
      }
  }

  /** Successful attempts, shaped like [[embed]]'s output. Column
    * projections here and in [[embedOrFail]]: no row is decoded into
    * objects and re-encoded. */
  def embedSuccesses(attempts: Dataset[EmbeddedAttempt]): Dataset[EmbeddedRecord] = {
    val spark = attempts.sparkSession
    import spark.implicits._
    attempts.filter(col("embed_error").isNull).drop("embed_error").as[EmbeddedRecord]
  }

  /** Every attempt as a record, failing the task on the first dead one. */
  private def embedOrFail(attempts: Dataset[EmbeddedAttempt]): Dataset[EmbeddedRecord] = {
    val spark = attempts.sparkSession
    import spark.implicits._
    val failure = raise_error(concat(
      lit("embedding failed for _id="), col("_id"), lit(": "), col("embed_error")))
    attempts
      .withColumn("embedding",
        when(col("embed_error").isNull, col("embedding")).otherwise(failure))
      .drop("embed_error").as[EmbeddedRecord]
  }

  /** Failed attempts → the embedding dead-letter channel:
    * `(_id, text, embed_error)`. */
  def embedDeadLetters(attempts: Dataset[EmbeddedAttempt]): DataFrame =
    attempts.filter(col("embed_error").isNotNull)
      .select(col("_id"), col("text"), col("embed_error"))

  /** O5 — shape into the sink document (FIXTURES A4): `passage_embedding`,
    * `date` (parsed ISO-8601), `text`, plus kept `_id`. */
  def toVectorDocs(embedded: Dataset[EmbeddedRecord]): DataFrame =
    embedded.select(
      col("embedding").as("passage_embedding"),
      to_timestamp(col("created_at"), "yyyy-MM-dd'T'HH:mm:ss.SSSX").as("date"),
      col("text"),
      col("_id"))

  /** Full batch topology from a raw `value: string` DataFrame;
    * `chunking = Some((size, stride))` inserts the O3.5 passage stage. */
  def batch(raw: DataFrame, provider: EmbeddingProvider = StubEmbeddingProvider(),
            chunking: Option[(Int, Int)] = None): DataFrame =
    toVectorDocs(embed(preEmbed(raw, chunking), provider))

  /** O1→O3(.5): parse, enrich, filter, optional chunk — the shared
    * pre-embed stage sequence every topology goes through. */
  def preEmbed(raw: DataFrame, chunking: Option[(Int, Int)] = None): DataFrame = {
    val filtered = filterNonEmpty(enrich(parseWire(raw)))
    chunking match {
      case Some((size, stride)) => chunk(filtered, size, stride)
      case None => filtered
    }
  }

  /** O4→O5 for one unit of work — a micro-batch, or a whole batch run —
    * over [[preEmbed]] output, in one embedding pass and the sink's own
    * single Spark job. With a dead-letter dir the successes stream into
    * `write` while the same task writes its failures to
    * `<deadLetterDir>/<key>` ([[DeadLetterOutput]]), so each record lands
    * in exactly one of the two, also across task retries. Dead letters are
    * written only for a unit with failures, and a replayed key replaces
    * them, also with none. `write` must read its frame in one job, as
    * every [[graft.sink.VectorSink]] does. Without a dead-letter dir the
    * first record that still fails after its retries fails the task
    * ([[embed]]'s policy). */
  private[pipeline] def embedAndSink(
      pre: DataFrame,
      provider: EmbeddingProvider,
      policy: RetryPolicy,
      maxInFlight: Int,
      deadLetterDir: Option[String],
      key: String)(write: DataFrame => Unit): Unit = {
    val attempts = embedSafe(pre, provider, policy, maxInFlight)
    deadLetterDir match {
      case None => write(toVectorDocs(embedOrFail(attempts)))
      case Some(dl) =>
        val spark = pre.sparkSession
        import spark.implicits._
        val deadLetters = DeadLetterOutput(spark, s"$dl/$key")
        try write(toVectorDocs(attempts.mapPartitions(deadLetters.divert)))
        catch { case t: Throwable =>
          try deadLetters.abort() catch { case e: Throwable => t.addSuppressed(e) }
          throw t
        }
        deadLetters.commit()
    }
  }

  /** The streaming topology: any `value: string` stream
    * ([[streamingFileSource]], [[streamingKafkaSource]]) → [[preEmbed]] →
    * per micro-batch [[embedAndSink]] into `sink.appendIdempotent` under
    * the key `batch=<id>`. Micro-batch is Spark's native analogue of the
    * reference's 1 ms bulk flush; the idempotent per-batch write means
    * checkpoint replay cannot duplicate documents (the reference's
    * at-least-once sink does, `DataStreamJob.java:191`). Caller owns
    * `query.awaitTermination`/`processAllAvailable`. */
  def streaming(
      raw: DataFrame,
      sink: VectorSink,
      checkpointDir: String,
      provider: EmbeddingProvider = StubEmbeddingProvider(),
      policy: RetryPolicy = RetryPolicy(),
      maxInFlight: Int = 1000,
      chunking: Option[(Int, Int)] = None,
      deadLetterDir: Option[String] = None): StreamingQuery =
    preEmbed(raw, chunking).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        embedAndSink(batchDf, provider, policy, maxInFlight, deadLetterDir,
          s"batch=$batchId")(sink.appendIdempotent(_, batchId))
      }
      .start()

  /** S1 — JSON-lines file source, reduced to the `value: string` wire
    * shape ([[parseWire]] onward). */
  def streamingFileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Schemas.wire).option("mode", "PERMISSIVE")
      .json(dir)
      .select(to_json(struct(col("text"), col("created_at"))).as("value"))

  // ------------------------------------------------------------ Kafka source

  /** Options for the Structured Streaming Kafka reader — the reference's MSK
    * ingress (`…/DataStreamJob.java:127-136`: bootstrap servers + topic +
    * earliest offsets; SASL/IAM properties :118-122 pass through verbatim).
    * Pure builder, unit-testable without a broker. */
  def kafkaOptions(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      extra: Map[String, String] = Map.empty): Map[String, String] = {
    require(bootstrapServers.nonEmpty, "bootstrapServers must be non-empty")
    require(topic.nonEmpty, "topic must be non-empty")
    // user-supplied security/tuning options must not silently override the
    // three structural keys
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets)
    extra.filterNot { case (k, _) => base.contains(k) } ++ base
  }

  /** S1/S2 — Kafka source stream, reduced to the same `value: string` wire
    * shape every downstream stage consumes ([[parseWire]] onward). The
    * `kafka.` -prefixed entries in `extra` (e.g.
    * `kafka.security.protocol=SASL_SSL`, SASL JAAS/IAM settings) pass
    * through to the consumer exactly as the reference forwards its MSK
    * properties. Needs the spark-sql-kafka connector on the classpath:
    * the data-source lookup fails here without it. */
  def streamingKafkaSource(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      extra: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaOptions(bootstrapServers, topic, startingOffsets, extra))
      .load()
      .selectExpr("CAST(value AS STRING) AS value")
}
