package graft.streaming

import graft.functions.{Det, F, Text}
import graft.operators.TextAnalytics
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The reference's streaming shell (SURVEY.md §2.11, §3.1) rebuilt on
  * Structured Streaming:
  *
  *   source (socket / file / MemoryStream) → foreachBatch(processBatch) with
  *   Trigger.ProcessingTime + a kept (not deleted) checkpoint.
  *
  * Per batch — the outputs of the reference's process_batch
  * (reddit_consumer.py:282-444), with its two defects fixed:
  *   - the batch is persisted once (the reference re-executes the whole
  *     parse+filter+UDF lineage for every one of its ~10 actions);
  *   - every metric row carries an explicit (timestamp, batch_id), making
  *     the dashboard's "keep-last" dedup deterministic (SURVEY.md §7.4.5).
  *
  * It does NOT mirror the reference action-for-action. At stream batch
  * sizes (a few hundred rows) a batch's cost is almost all fixed: jobs,
  * their scheduling, and code generation — not per-row work. So each batch
  * runs the smallest set of Spark jobs that writes the same files:
  *   - sentiment is one narrow native projection ([[F.sentimentScore]]), so
  *     the cached batch has no shuffle;
  *   - ONE rollup aggregate over the cached batch yields all three metric
  *     inputs (grand total + per subreddit), and its collected rows also
  *     answer "is the processed batch empty?";
  *   - metric rows are written from those collected rows with the batch's
  *     timestamp and id as column VALUES — a literal would be folded into
  *     generated code and recompile every metric query on every batch;
  *   - the sinks are independent, so they run concurrently: the raw write
  *     beside the aggregate, then the processed snapshot and the three
  *     metric appends together, then retention.
  * MicroBatchPipelineSpec pins every output bit-equal to the relational
  * one-action-per-sink formulation, and caps jobs and codegen per batch.
  *
  * All analytics are per-batch and stateless across batches, exactly like
  * the reference — state lives only in the appended metric files.
  */
object MicroBatchPipeline {

  /** Parse wire JSON + cleaning filter + derived columns (P1/P2/P3). The
    * parse+clean step is TextAnalytics.parseClean — the same definition the
    * oracle-checked q_parse_clean runs, so the streaming path can never
    * drift from it. */
  def parseBatch(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    TextAnalytics.parseClean(batch)
      .withColumn("created_time", $"created_utc".cast(TimestampType))
      .withColumn("text_length", length($"text").cast(LongType))
  }

  /** Lexicon sentiment per post (U1 tier (a)): one narrow projection
    * through the native scorer, `id` first and `sentiment` last.
    * SentimentScoreSpec pins the scorer equal to the relational
    * tokenize → lexicon-join → mean formulation. Every post is scored on
    * its own text, like the reference's per-row UDF
    * (reddit_consumer.py:87-99): posts sharing an id are not pooled, and a
    * post without an id still gets its score. */
  def withSentiment(parsed: DataFrame): DataFrame = {
    val rest = parsed.columns.filterNot(_ == "id").map(parsed.col)
    parsed.select(parsed.col("id") +: rest.toSeq :+
      F.sentimentScore(parsed.col("text")).as("sentiment"): _*)
  }

  /** Delete any file under `dir` that an earlier attempt of THIS batch
    * wrote (the replace-my-batch replay sweep) — resolved through the
    * Hadoop FileSystem API so idempotent recovery works on any supported
    * scheme (local, HDFS, S3A), not just java.io-visible paths. */
  private def sweepBatchFiles(spark: SparkSession, dir: String,
      namePattern: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root)
        .filter(st => st.getPath.getName.matches(namePattern))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Run `main` on the calling thread and each named side task on a thread
    * started here, then join them all. The threads are started per batch
    * so they inherit the batch thread's Spark local properties: its job
    * group (the query's stop() cancels their jobs) and its streaming batch
    * id (listeners credit their jobs to this batch). A failure fails the
    * batch only once every thread has ended: the first one, in argument
    * order, is rethrown with the task's name and the others suppressed; a
    * fatal one is rethrown as is. */
  private def concurrently[A](batchId: Long)(main: (String, () => A))(
      sides: (String, () => Unit)*): A = {
    val failed = new Array[Throwable](sides.size)
    val threads = sides.zipWithIndex.map { case ((name, body), i) =>
      val t = new Thread(() =>
        try body() catch { case e: Throwable => failed(i) = e },
        s"MicroBatchPipeline-b$batchId-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    val result = try Right(main._2()) catch { case e: Throwable => Left(e) }
    var interrupt = result.left.toOption.collect {
      case e: InterruptedException => e
    }
    if (interrupt.nonEmpty) threads.foreach(_.interrupt())
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case e: InterruptedException =>
          if (interrupt.isEmpty) threads.foreach(_.interrupt())
          interrupt = interrupt.orElse(Some(e))
        }
    }
    interrupt.foreach(throw _)
    val failures = (main._1, result.left.toOption.orNull) +:
      sides.map(_._1).zip(failed.toSeq)
    failures.collectFirst { case (_, e) if e != null && !NonFatal(e) => e }
      .foreach(throw _)
    failures.filter(_._2 != null) match {
      case (name, first) +: rest =>
        val e = new RuntimeException(
          s"MicroBatchPipeline batch $batchId: $name failed", first)
        rest.foreach { case (_, other) => e.addSuppressed(other) }
        throw e
      case _ => result.toOption.get
    }
  }

  /** One micro-batch: persist once, one aggregate, concurrent sinks, then
    * retention (see the object doc for why this shape). */
  def processBatch(batch: DataFrame, batchId: Long, outDir: String,
                   retentionBytes: Long = 1L << 20): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val now = java.time.Instant.now()
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(now)
    // S4: raw batch persisted before parse — at a per-batch timestamped
    // path with the replay sweep, like the processed snapshots below: a
    // checkpoint-recovery replay overwrites its own raw data instead of
    // double-counting it (a flat append has no way to identify, much less
    // replace, a replayed batch's rows — the reference's defect). The row
    // count rides along the write as an observed metric; an empty batch
    // removes its own raw path again, so it leaves nothing behind.
    val rawPath = s"$outDir/raw/raw_${stamp}_b$batchId.parquet"
    val rawRows = new Observation("raw_rows")
    def writeRaw(): Unit = {
      sweepBatchFiles(spark, s"$outDir/raw",
        s"raw_\\d{8}_\\d{6}_b$batchId\\.parquet")
      batch.observe(rawRows, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(rawPath)
    }

    val processed = withSentiment(parseBatch(batch))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // sentiment (reddit_consumer.py:356-366), per-subreddit stats
      // (375-389) and reference extraction totals (400-429) in ONE rollup:
      // grouping_id 1 is the grand total, 0 a subreddit (null included).
      // Each group evaluates the same expressions over the same rows as a
      // separate aggregate would, so every value is bit-equal to it. The
      // regex counts are projected below the rollup so they run once per
      // row, not once per grouping set.
      val rollup = processed
        .select($"subreddit", $"author", $"text_length", $"sentiment",
          Text.refCount($"text", Text.userRefPattern).cast(LongType).as("u"),
          Text.refCount($"text", Text.subRefPattern).cast(LongType).as("s"),
          Text.refCount($"text", Text.urlRefPattern).cast(LongType).as("l"))
        .rollup($"subreddit")
        .agg(grouping_id().cast(IntegerType).as("grand_total"),
          count(lit(1)).as("post_count"),
          approx_count_distinct($"author").as("unique_authors"),
          Det.davg($"text_length").as("avg_length"),
          Det.davg($"sentiment").as("average_sentiment"),
          sum($"u").as("total_user_refs"), sum($"s").as("total_sub_refs"),
          sum($"l").as("total_urls"))
      val groups = concurrently(batchId)(
        "aggregate" -> (() => rollup.collect().toSeq))("raw" -> writeRaw _)
      val (totals, subreddits) = groups.partition(_.getAs[Int]("grand_total") == 1)
      if (!totals.exists(_.getAs[Long]("post_count") > 0)) {
        // nothing survived cleaning; only then can the raw batch be empty
        if (rawRows.get("rows") == 0L) {
          val p = new Path(rawPath)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        }
      } else {
        processed.createOrReplaceTempView("processed") // S10: SQL surface

        // timestamp and batch_id are data, not literals: the plans of
        // every batch are identical, so their generated code is reused
        val stampAt = java.sql.Timestamp.from(now)
        def metricSink(dir: String, rows: Seq[Row], cols: String*)
            : (String, () => Unit) = dir -> (() => {
          val schema = StructType(
            StructField("timestamp", TimestampType, nullable = false) +:
            StructField("batch_id", LongType, nullable = false) +:
            cols.map(rollup.schema(_)))
          val data = rows.map(r =>
            Row.fromSeq(stampAt +: batchId +: cols.map(r.getAs[Any](_))))
          spark.createDataFrame(data.asJava, schema)
            .coalesce(1).write.mode("append").parquet(s"$outDir/$dir")
        })

        // S5/F12: per-batch processed snapshot at a timestamped path, the
        // reference's processed_%Y%m%d_%H%M%S.parquet naming
        // (reddit_consumer.py:321-326) — plus a batch-id suffix and the
        // replace-my-batch sweep so a checkpoint-recovery REPLAY of the same
        // batch overwrites its own snapshot instead of duplicating it (the
        // reference's pure-timestamp naming would duplicate on replay).
        // Every row still carries batch_id via the metric sinks.
        concurrently(batchId)("processed" -> (() => {
          sweepBatchFiles(spark, s"$outDir/processed",
            s"processed_\\d{8}_\\d{6}_b$batchId\\.parquet")
          processed.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/processed/processed_${stamp}_b$batchId.parquet")
        }))(
          metricSink("sentiment", totals, "average_sentiment"),
          metricSink("subreddit_stats", subreddits,
            "subreddit", "post_count", "unique_authors", "avg_length"),
          metricSink("references", totals,
            "total_user_refs", "total_sub_refs", "total_urls"))

        // S11: size-based retention per metric dir
        for (d <- Seq("sentiment", "subreddit_stats", "references"))
          Retention.enforce(s"$outDir/$d", retentionBytes)
      }
    } finally processed.unpersist()
  }

  /** S7: optional JDBC sink (reference reddit_consumer.py:329-338 pushes
    * each batch to Postgres and tolerates failure). Disabled unless a URL is
    * configured — this environment has no egress, so the path is compiled
    * and flag-gated but intentionally outside the verified surface, exactly
    * as SURVEY.md §2.1/S7 prescribes. */
  def jdbcSink(df: DataFrame, urlOpt: Option[String], table: String): Unit =
    urlOpt.foreach { url =>
      try df.write.mode("append").format("jdbc")
        .option("url", url).option("dbtable", table).save()
      catch { case e: Throwable =>
        // parity: JDBC failure must not abort local storage
        System.err.println(s"[jdbc] sink failed (continuing): ${e.getMessage}")
      }
    }

  /** Wire a streaming source of JSON lines into the batch pipeline.
    * Checkpoint is kept across runs (the reference deletes it — S12 — and
    * thereby forfeits recovery; we do not reproduce that). */
  def run(lines: DataFrame, outDir: String,
          trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    lines.writeStream
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id, outDir))
      .trigger(trigger)
      .option("checkpointLocation", s"$outDir/checkpoint")
      .start()

  /** Socket source, parity with the reference consumer (S1). */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load()
      .select(col("value"))

  /** File-drop source for deterministic replay (S1 test alternative).
    *
    * `maxFilesPerTrigger` > 0 bounds ingest admission: at most that many
    * files enter each micro-batch. This is the file-source backpressure
    * knob at scale — after downtime, an unbounded source admits the WHOLE
    * backlog as one giant catch-up batch (blowing the trigger budget and
    * executor memory at once); bounded admission drains the same backlog
    * as a sequence of normal-sized batches. (Kafka's twin is
    * `maxOffsetsPerTrigger`; `Trigger.AvailableNow` respects both while
    * still terminating when the backlog is drained.) */
  def fileLines(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream.format("text")
    (if (maxFilesPerTrigger > 0)
       reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
     else reader)
      .load(dir).select(col("value"))
  }
}
