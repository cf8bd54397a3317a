package graft

import graft.functions.{Det, SentimentLexicon, SentimentScore, Text}
import graft.streaming.MicroBatchPipeline
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** MicroBatchPipeline.processBatch against its relational twin — the
  * one-action-per-sink formulation it replaced (lexicon join for
  * sentiment, one aggregate query per metric). Every output must match the
  * twin bit-for-bit, the five output schemas are pinned, and the per-batch
  * cost is capped: no code generation once warm, at most 8 jobs a batch. */
class MicroBatchPipelineSpec extends SparkSpec {
  import spark.implicits._
  import MicroBatchPipelineSpec._

  private def outDir(tag: String): String =
    Files.createTempDirectory(s"graft-mbp-$tag").toString

  /** Doubles by their bits, so equality is bit-equality. */
  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => ("bits", java.lang.Double.doubleToLongBits(d))
    case x => x
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(bits).toSet

  private def schemaOf(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  test("every output matches the relational twin bit-for-bit; schemas pinned") {
    val lines = seededLines(seed = 11L, posts = 300)
    val batch = lines.toDF("value")
    val out = outDir("twin")
    MicroBatchPipeline.processBatch(batch, 7L, out)

    val parsed = MicroBatchPipeline.parseBatch(batch)
    val twin = relationalSentiment(parsed)
    // the seeded batch has what it claims: >= 5 subreddits plus a null
    // one, null authors, and keepalive/malformed/short lines filtered out
    assert(twin.select($"subreddit").distinct().count() >= 6)
    assert(twin.filter($"subreddit".isNull).count() > 0)
    assert(twin.filter($"author".isNull).count() > 0)
    assert(twin.count() < lines.size && twin.count() > 200)

    val processed = spark.read.parquet(s"$out/processed/processed_*")
    assert(processed.columns.toSeq === twin.columns.toSeq)
    assert(rowsOf(processed) === rowsOf(twin))

    val sentiment = spark.read.parquet(s"$out/sentiment")
    assert(rowsOf(sentiment.drop("timestamp")) === rowsOf(
      twin.agg(Det.davg($"sentiment").as("average_sentiment"))
        .select(lit(7L).as("batch_id"), $"average_sentiment")))

    val stats = spark.read.parquet(s"$out/subreddit_stats")
    assert(rowsOf(stats.drop("timestamp")) === rowsOf(
      twin.groupBy($"subreddit")
        .agg(count(lit(1)).as("post_count"),
          approx_count_distinct($"author").as("unique_authors"),
          Det.davg($"text_length").as("avg_length"))
        .select(lit(7L).as("batch_id"), $"subreddit", $"post_count",
          $"unique_authors", $"avg_length")))

    val refs = spark.read.parquet(s"$out/references")
    val refTwin = twin
      .select(
        Text.refCount($"text", Text.userRefPattern).cast(LongType).as("u"),
        Text.refCount($"text", Text.subRefPattern).cast(LongType).as("s"),
        Text.refCount($"text", Text.urlRefPattern).cast(LongType).as("l"))
      .agg(sum($"u"), sum($"s"), sum($"l"))
    assert(rowsOf(refs.drop("timestamp")) ===
      rowsOf(refTwin.select(lit(7L) +: refTwin.columns.toSeq.map(col): _*)))
    // the seeded texts exercise every reference pattern
    assert(refs.select($"total_user_refs", $"total_sub_refs", $"total_urls")
      .as[(Long, Long, Long)].head().productIterator.forall(_ != 0L))

    // one batch, one timestamp on every metric row
    assert(Seq(sentiment, stats, refs).map(_.select($"timestamp"))
      .reduce(_ union _).distinct().count() === 1)

    val ts = "timestamp" -> "timestamp"
    val id = "batch_id" -> "bigint"
    assert(schemaOf(spark.read.parquet(s"$out/raw/*")) === Seq("value" -> "string"))
    assert(schemaOf(processed) === Seq("id" -> "string", "type" -> "string",
      "subreddit" -> "string", "text" -> "string", "created_utc" -> "double",
      "author" -> "string", "created_time" -> "timestamp",
      "text_length" -> "bigint", "sentiment" -> "double"))
    assert(schemaOf(sentiment) === Seq(ts, id, "average_sentiment" -> "double"))
    assert(schemaOf(stats) === Seq(ts, id, "subreddit" -> "string",
      "post_count" -> "bigint", "unique_authors" -> "bigint",
      "avg_length" -> "double"))
    assert(schemaOf(refs) === Seq(ts, id, "total_user_refs" -> "bigint",
      "total_sub_refs" -> "bigint", "total_urls" -> "bigint"))
  }

  test("sentiment is per post: shared ids are not pooled, a null id is scored") {
    def post(id: Option[String], text: String): String =
      s"""{"type": "submission", "subreddit": "s", ${id.map(i =>
        s""""id": "$i", """).getOrElse("")}"text": "$text", "created_utc": 1.7e9, "author": "a"}"""
    val a = "fast fast fast slow"   // 0.375
    val b = "slow slow slow slow"   // -0.75
    val c = "fast fast fast fast"   // 0.75
    val batch = Seq(post(Some("dup"), a), post(Some("dup"), b), post(None, c))
      .toDF("value")
    val out = outDir("perpost")
    MicroBatchPipeline.processBatch(batch, 0L, out)
    val got = spark.read.parquet(s"$out/processed/processed_*")
      .select($"id", $"text", $"sentiment").as[(Option[String], String, Double)]
      .collect().toSet
    assert(got === Set((Some("dup"), a, 0.375), (Some("dup"), b, -0.75),
      (None, c, 0.75)))
    assert(got.forall { case (_, t, s) => s == SentimentScore.score(t) })
    // the relational form grouped by id: it pooled the two "dup" posts'
    // tokens ((2.25 - 0.75 - 3.0) / 8) and gave the id-less post 0.0
    val pooled = relationalSentiment(MicroBatchPipeline.parseBatch(batch))
      .select($"id", $"sentiment").as[(Option[String], Double)].collect().toSet
    assert(pooled === Set((Some("dup"), -0.1875), (None, 0.0)))
    // the batch mean is over posts, not ids
    assert(spark.read.parquet(s"$out/sentiment").select($"average_sentiment")
      .as[Double].head() === 0.125)
  }

  test("a replayed batch id leaves one raw and one processed snapshot") {
    val batch = seededLines(seed = 3L, posts = 40).toDF("value")
    val out = outDir("replay")
    MicroBatchPipeline.processBatch(batch, 5L, out)
    // the snapshot names carry the second: make the replay's differ, so
    // the sweep (not a same-name overwrite) is what keeps one of each
    Thread.sleep(1100)
    MicroBatchPipeline.processBatch(batch, 5L, out)
    MicroBatchPipeline.processBatch(batch, 6L, out)
    def names(dir: String, b: Long) = new java.io.File(s"$out/$dir").listFiles()
      .map(_.getName).filter(_.endsWith(s"_b$b.parquet")).toSeq
    assert(names("raw", 5L).size === 1 && names("processed", 5L).size === 1)
    assert(names("raw", 6L).size === 1 && names("processed", 6L).size === 1)
    assert(spark.read.parquet(s"$out/processed/processed_*").count() ===
      2 * MicroBatchPipeline.parseBatch(batch).count())
  }

  test("a sink that cannot write fails the batch with its cause; no thread outlives it") {
    val batch = seededLines(seed = 5L, posts = 40).toDF("value")
    val out = outDir("fail")
    Files.write(Paths.get(out, "references"), "not a directory".getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      MicroBatchPipeline.processBatch(batch, 4242L, out)
    }
    assert(e.getMessage.contains("references failed"), e.getMessage)
    assert(e.getCause != null && e.getCause.getMessage.contains("references"),
      e.getCause)
    val left = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("MicroBatchPipeline-b4242-"))
    assert(left.isEmpty, left.map(_.getName))
  }

  test("empty batches: zero-line source file and empty batch leave nothing behind") {
    val direct = outDir("empty-direct")
    MicroBatchPipeline.processBatch(Seq.empty[String].toDF("value"), 0L, direct)
    assert(Option(new java.io.File(s"$direct/raw").list()).forall(_.isEmpty))
    assert(!Files.exists(Paths.get(direct, "processed")))
    assert(!Files.exists(Paths.get(direct, "sentiment")))

    val src = Files.createTempDirectory("graft-mbp-zero-src").toString
    val out = outDir("empty-stream")
    Files.write(Paths.get(src, "empty.txt"), Array.emptyByteArray)
    val q = MicroBatchPipeline.run(MicroBatchPipeline.fileLines(spark, src),
      out, Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    // the zero-line file did reach processBatch as an empty batch
    assert(q.recentProgress.exists(_.numInputRows == 0L))
    assert(Option(new java.io.File(s"$out/raw").list()).forall(_.isEmpty))
    for (d <- Seq("processed", "sentiment", "subreddit_stats", "references"))
      assert(!Files.exists(Paths.get(out, d)), d)
  }

  test("per-batch cost: warm batches compile no code and run at most 8 jobs") {
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val key = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
          .orElse(p.flatMap(x => Option(x.getProperty(MarkerKey))))
        key.foreach(k => jobs.merge(k, 1, Integer.sum))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val in = MemoryStream[String](spark)
    val q = MicroBatchPipeline.run(in.toDF(), outDir("cost"),
      Trigger.ProcessingTime(0))
    def compilations: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    try {
      in.addData(seededLines(seed = 21L, posts = 150): _*)
      q.processAllAvailable()
      val warm = compilations
      for (s <- Seq(22L, 23L)) {
        in.addData(seededLines(seed = s, posts = 150): _*)
        q.processAllAvailable()
      }
      assert(compilations - warm === 0L)
    } finally q.stop()
    // drain the listener bus: the marker job's start arrives after every
    // job the batches submitted
    sc.setLocalProperty(MarkerKey, "marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while (!jobs.containsKey("marker") && System.nanoTime() < deadline)
      Thread.sleep(5)
    sc.removeSparkListener(listener)
    val perBatch = (0 to 2).map(b => jobs.getOrDefault(b.toString, 0))
    // >= 5: the jobs of the sink threads are credited to their batch too
    assert(perBatch.forall(n => n >= 5 && n <= 8), perBatch)
  }
}

object MicroBatchPipelineSpec {
  val MarkerKey = "graft.spec.marker"

  /** The relational sentiment MicroBatchPipeline.withSentiment replaced:
    * tokens exploded, broadcast-joined to the lexicon, averaged per id and
    * joined back. */
  def relationalSentiment(parsed: DataFrame): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val scores = parsed
      .select($"id", explode(Text.tokens($"text")).as("term"))
      .join(broadcast(SentimentLexicon.df(spark)), Seq("term"), "left")
      .groupBy($"id")
      .agg(Det.qround(sum(coalesce($"valence", lit(0.0)).cast(DecimalType(38, Det.Scale)))
        .cast(DoubleType) / count(lit(1))).as("sentiment"))
    parsed.join(scores, Seq("id"), "left")
      .na.fill(0.0, Seq("sentiment"))
  }

  private val Words = Seq("fast", "slow", "big", "small", "spark", "stream",
    "scan", "sort", "batch", "filter", "order", "customer", "data", "hash",
    "join", "merge", "the", "of", "and", "zzyzx", "latency")

  /** Wire-format lines: `posts` submissions with unique ids over five
    * subreddits plus a null one (absent or JSON null), authors sometimes
    * null, mixed-case words, doubled and trailing spaces, short texts the
    * cleaning filter drops, and a keepalive and a malformed line every so
    * often — all drawn from `seed`. */
  def seededLines(seed: Long, posts: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val subs = Seq("\"s1\"", "\"s2\"", "\"s3\"", "\"s4\"", "\"s5\"", "null", "")
    (0 until posts).flatMap { i =>
      val words = Seq.fill(if (rnd.nextInt(15) == 0) 1 else 3 + rnd.nextInt(12)) {
        val w = Words(rnd.nextInt(Words.size))
        if (rnd.nextInt(8) == 0) w.toUpperCase else w
      }
      val text = words.mkString(if (rnd.nextInt(6) == 0) "  " else " ") +
        (if (rnd.nextInt(7) == 0) " " else "")
      val sub = subs(rnd.nextInt(subs.size))
      val subField = if (sub.isEmpty) "" else s""""subreddit": $sub, """
      val author = if (rnd.nextInt(9) == 0) "" else s""", "author": "u${rnd.nextInt(30)}""""
      val post = s"""{"type": "submission", $subField"id": "p$seed-$i", "text": "$text", "created_utc": ${1700000000L + i}.5$author}"""
      post +:
        (if (i % 50 == 0) Seq(s"""{"type": "keepalive", "timestamp": $i.0}""") else Nil) ++:
        (if (i % 97 == 0) Seq("garbage {{{ not json") else Nil)
    }
  }
}
