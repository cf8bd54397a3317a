package perfbench

import graft.{GraftQuery, Queries, SparkEntry}
import graft.functions.{F, Text}
import graft.operators.Dedup
import graft.streaming._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The JVM side of the benchmark: drives the unchanged program through its
  * public functions for one workload and writes raw observations to
  * `<work>/result.json`. `run.py` turns them into metrics and checks.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <workDir>
  *   <cores> [<port>]
  */
object Harness {
  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int, port: Int)

  /** Operations attempted and failed, each failure with its cause. Only
    * non-fatal throwables are caught; fatal ones end the run. */
  final class Ledger {
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    def attempt[T](op: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failures += op -> s"${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }
    def fail(op: String, cause: String): Unit = {
      attempted += 1
      failures += op -> cause
    }
  }

  val out = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val ledger = new Ledger
  private val jvmT0 = System.nanoTime()

  /** Seconds since start at which each phase of the run ended. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - jvmT0) / 1e9

  def main(args: Array[String]): Unit = {
    val c = Conf(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5).toInt, if (args.length > 6) args(6).toInt else 0)
    val tracer = new Tracer(c.trace)
    c.workload match {
      case "stream_burst" => streamBurst(c, tracer)
      case "batch_mix" => batchMix(c, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    phase("end")
    out("phases_s") = phases
    out("attempted") = ledger.attempted
    out("failures") = ledger.failures.map { case (o, e) =>
      Map("op" -> o, "error" -> e) }.toSeq
    out("rss_peak_mb") = rssPeakMb()
    out("layer") = layer
    if (c.trace) out("spans") = {
      val self = tracer.selfTimes
      tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> self(s.id)))
    }
    Files.writeString(Paths.get(c.work, "result.json"), Json(out))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  // ---------------------------------------------------------------- session

  def session(c: Conf): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Build a fresh session and run the workload's first operation, three
    * times; the last session is kept. Each cycle's seconds are recorded. */
  def setup(c: Conf)(first: (SparkSession, Int) => Unit): SparkSession = {
    var spark: SparkSession = null
    val cycles = (0 until 3).map { k =>
      val t0 = System.nanoTime()
      spark = session(c)
      ledger.attempt(s"setup.$k")(first(spark, k))
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_cycles_s") = cycles
    phase("setup")
    spark
  }

  def withListener(c: Conf, spark: SparkSession, tracer: Tracer,
      siteRoot: String): Option[EngineListener] =
    if (!c.trace) None
    else {
      val l = new EngineListener(siteRoot)
      spark.sparkContext.addSparkListener(l)
      tracer.attach(spark.sparkContext)
      Some(l)
    }

  /** Wait until the listener bus has delivered everything posted so far:
    * a marker job's end arrives after every earlier event. */
  def drain(spark: SparkSession, l: EngineListener): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanKey, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Tracer.SpanKey, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!l.synchronized(l.byKey.get("drain").exists(_.jobMsBySite.nonEmpty))
      && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** Heap still in use after full collections: what the run retains.
    * Collected three times, a moment apart, so that the blocks Spark's
    * ContextCleaner releases once the first collection clears their
    * references are gone too. */
  def heapLiveMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0,
        math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def progressRecords(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** Lines a socket-source batch consumed: the source's offsets count
    * lines (numInputRows counts every scan of the batch, so it overstates
    * a batch that foreachBatch reads several times). */
  def lineOffset(o: String): Long =
    Option(o).filter(_.matches("-?\\d+")).map(_.toLong).getOrElse(-1L)

  def sourceRows(p: StreamingQueryProgress): Long =
    p.sources.headOption.map(s => lineOffset(s.endOffset) -
      lineOffset(s.startOffset)).getOrElse(0L)

  def progressJson(ps: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] =
    ps.map(p => Map(
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> sourceRows(p),
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap))

  /** Per-phase medians of the engine's micro-batch loop. */
  def engineLoop(ps: Seq[StreamingQueryProgress]): Unit = {
    def ms(k: String) = ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    layer("engine.trigger_p50_s") = pct(ms("triggerExecution"), 50) / 1e3
    layer("engine.trigger_p95_s") = pct(ms("triggerExecution"), 95) / 1e3
    layer("engine.latestOffset_p50_ms") = pct(ms("latestOffset"), 50)
    layer("engine.queryPlanning_p50_ms") = pct(ms("queryPlanning"), 50)
    layer("engine.addBatch_p50_ms") = pct(ms("addBatch"), 50)
    layer("engine.walCommit_p50_ms") = pct(ms("walCommit"), 50)
  }

  def awaitFile(p: Path, seconds: Double): Boolean = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (!Files.exists(p) && System.nanoTime() < deadline) Thread.sleep(20)
    Files.exists(p)
  }

  // ----------------------------------------------------------- stream_burst

  def streamBurst(c: Conf, tracer: Tracer): Unit = {
    val spark = setup(c) { (s, k) =>
      val q = MicroBatchPipeline.run(
        MicroBatchPipeline.fileLines(s, s"${c.work}/warm_lines"),
        s"${c.work}/setup$k", Trigger.AvailableNow())
      q.awaitTermination()
    }
    val outDir = s"${c.work}/out"
    val l = withListener(c, spark, tracer, outDir)
    val cpu0 = cpuNs()
    val q = MicroBatchPipeline.run(
      MicroBatchPipeline.socketLines(spark, "127.0.0.1", c.port), outDir,
      Trigger.ProcessingTime(0))
    // the generator writes its summary once every line is sent
    val done = Paths.get(c.work, "gen_done.json")
    val sent = if (awaitFile(done, c.seconds + 120)) {
      """"lines":\s*(\d+)""".r.findFirstMatchIn(Files.readString(done))
        .map(_.group(1).toLong).getOrElse(-1L)
    } else -1L
    if (sent < 0) ledger.fail("stream.generator", "generator did not finish")
    val deadline = System.nanoTime() + 60e9.toLong
    while (sent > 0 && q.isActive &&
      progressRecords(q).map(sourceRows).sum < sent &&
      System.nanoTime() < deadline) Thread.sleep(20)
    out("cpu_window_s") = (cpuNs() - cpu0) / 1e9
    out("heap_live_mb") = heapLiveMb()
    phase("window")
    q.exception.foreach(e => ledger.fail("stream.query", e.toString))
    q.stop()
    val ps = progressRecords(q)
    val got = ps.map(sourceRows).sum
    if (sent > 0 && got != sent)
      ledger.fail("stream.drain", s"engine consumed $got of $sent lines")
    out("progress") = progressJson(ps)
    l.foreach { l =>
      drain(spark, l)
      engineLoop(ps)
      val batches = ps.map(p => l.synchronized(
        l.byKey.getOrElse(s"batch:${q.id}:${p.batchId}", new Work)))
      val n = math.max(1, batches.size).toDouble
      layer("MicroBatchPipeline.jobs_per_batch") = batches.map(_.jobs).sum / n
      layer("MicroBatchPipeline.stages_per_batch") =
        batches.map(_.stages).sum / n
      layer("MicroBatchPipeline.tasks_per_batch") =
        batches.map(_.tasks).sum / n
      for (site <- Seq("raw", "processed", "sentiment", "subreddit_stats",
          "references", "isEmpty"))
        layer(s"MicroBatchPipeline.job_ms.$site") =
          batches.map(_.jobMsBySite(site)).sum / n
      layer("MicroBatchPipeline.backlog_max_rows") =
        ps.map(sourceRows(_).toDouble).maxOption.getOrElse(0.0)
      // retention is applied inside every batch; time the same call over
      // the final metric directories
      val dirs = Seq("sentiment", "subreddit_stats", "references")
      val ms = dirs.map(d => tracer.span(s"Retention.enforce.$d") {
        secondsOf(Retention.enforce(s"$outDir/$d", 1L << 20)) * 1e3
      })
      layer("Retention.enforce_ms") = ms.sum / ms.size
      ingestLayer(spark, c, tracer, l)
    }
  }

  // ------------------------------------------------- IngestHub layer (traced)

  val Logs = Seq("vocab" -> "vocab/log", "exactdedup" -> "exactdedup/log",
    "index" -> "index/postings", "ablate" -> "ablate/counts",
    "mix" -> "mix/log", "pref" -> "pref/log")

  /** Each public readout, the hub directory it folds, and the registered
    * batch query it must equal over the replayed corpus (the pairing
    * IngestHubSpec pins, plus chao1). */
  val Readouts
      : Seq[(String, (SparkSession, String) => DataFrame, String, String)] =
    Seq(
      ("StreamVocab.zipf", StreamVocab.zipf _, "vocab", "q_zipf_fit"),
      ("StreamVocab.chao1", StreamVocab.chao1 _, "vocab", "q_chao1"),
      ("StreamExactDedup.registry", StreamExactDedup.registry _,
        "exactdedup", "q_dedup_exact"),
      ("StreamIndex.bm25", (s: SparkSession, d: String) =>
        StreamIndex.bm25(s, d), "index", "q_bm25_scores"),
      ("StreamAblate.report", StreamAblate.report _, "ablate",
        "q_filter_ablation"),
      ("StreamMix.report", StreamMix.report _, "mix", "q_mix_rebalance"),
      ("StreamPref.pairs", StreamPref.pairs _, "pref", "q_preference_pairs"))

  def sliceStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** The IngestHub state layer, traced runs only: the prepared 250-doc
    * slices admitted closed-loop, one per micro-batch, into IngestHub's six
    * delta-log writers; then two rounds of the seven public readouts over
    * the final logs (the second is reported); then each readout checked
    * against its batch twin over exactly the admitted corpus. */
  def ingestLayer(spark: SparkSession, c: Conf, tracer: Tracer,
      l: EngineListener): Unit = {
    val hub = s"${c.work}/hub"
    val src = Paths.get(c.work, "src")
    Files.createDirectories(src)
    val slices = Files.list(Paths.get(c.work, "slices")).iterator().asScala
      .toSeq.sortBy(_.getFileName.toString)
    val q = IngestHub.run(sliceStream(spark, src.toString), hub,
      Trigger.ProcessingTime(0))
    // closed loop, one client: admit the next slice only once the
    // previous one is committed
    val admitted = mutable.ArrayBuffer.empty[Path]
    var ok = true
    while (ok && admitted.size < slices.size) {
      val next = slices(admitted.size)
      Files.move(next, src.resolve(next.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
      admitted += src.resolve(next.getFileName)
      val deadline = System.nanoTime() + 120e9.toLong
      while (q.isActive && progressRecords(q).size < admitted.size &&
        System.nanoTime() < deadline) Thread.sleep(2)
      ok = q.isActive && progressRecords(q).size >= admitted.size
    }
    q.exception.foreach(e => ledger.fail("ingest.query", e.toString))
    q.stop()
    val ps = progressRecords(q)
    if (ps.size != admitted.size)
      ledger.fail("ingest.batches",
        s"${ps.size} of ${admitted.size} admitted slices committed")
    phase("ingest")

    // readout rounds over the final logs; the last round's rows are checked
    var last = Map.empty[String, Seq[Seq[Any]]]
    val rounds = (0 until 2).map { r =>
      Readouts.map { case (name, f, dir, _) =>
        tracer.span(name) {
          val t = System.nanoTime()
          ledger.attempt(s"$name.round$r") {
            last += name -> f(spark, s"$hub/$dir").collect()
              .toSeq.map(_.toSeq)
          }
          name -> (System.nanoTime() - t) / 1e9
        }
      }.toMap
    }
    phase("readouts")
    for ((name, _, _, _) <- Readouts)
      layer(s"${name}_s") = pct(rounds.drop(1).map(_(name)), 50)
    layer("IngestHub.readout_round_s") =
      pct(rounds.drop(1).map(_.values.sum), 50)
    drain(spark, l)
    val later = ps.drop(1)
    val batches = later.map(p => l.synchronized(
      l.byKey.getOrElse(s"batch:${q.id}:${p.batchId}", new Work)))
    val n = math.max(1, batches.size).toDouble
    def ms(k: String) = later.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    layer("IngestHub.batch_p50_s") = pct(ms("addBatch"), 50) / 1e3
    layer("IngestHub.docs_per_s") = SliceDocs * later.size /
      math.max(1e-9, ms("triggerExecution").sum / 1e3)
    layer("IngestHub.jobs_per_batch") = batches.map(_.jobs).sum / n
    layer("IngestHub.stages_per_batch") = batches.map(_.stages).sum / n
    layer("IngestHub.shuffle_write_bytes_per_batch") =
      batches.map(_.shuffleWrite).sum / n
    layer("DeltaLog.compactions") = l.compactions
    var files = 0L
    for ((name, rel) <- Logs) {
      val p = Paths.get(hub, rel)
      val exists = Files.isDirectory(p)
      layer(s"DeltaLog.dirs.$name") = if (!exists) 0
        else Files.list(p).iterator().asScala.count(Files.isDirectory(_))
      if (exists)
        files += Files.walk(p).iterator().asScala.count(f =>
          f.toString.endsWith(".parquet") && Files.isRegularFile(f))
    }
    layer("DeltaLog.files_total") = files

    // output checks: every readout equals its batch twin over exactly the
    // admitted corpus
    val corpus = s"${c.work}/corpus"
    ledger.attempt("ingest.corpus") {
      spark.read.parquet(admitted.map(_.toString).toSeq: _*)
        .withColumn("n_chars", length(col("text")).cast(LongType))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$corpus/documents.parquet")
    }
    for ((name, _, _, twin) <- Readouts) {
      ledger.attempt(s"check.$name") {
        val want = Queries.byName(twin).run(spark, corpus).collect()
          .toSeq.map(_.toSeq)
        val got = last.getOrElse(name, sys.error("readout never succeeded"))
        spark.catalog.clearCache()
        if (got != want)
          sys.error(s"readout differs from $twin: ${got.size} vs " +
            s"${want.size} rows")
      }
    }
    phase("ingest_checks")
  }

  val SliceDocs = 250

  // -------------------------------------------------------------- batch_mix

  def batchMix(c: Conf, tracer: Tracer): Unit = {
    val names = Files.readAllLines(Paths.get(c.work, "queries.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val qs: Seq[GraftQuery] = names.map(Queries.byName)
    val data = s"${c.work}/data"
    val spark = setup(c) { (s, _) =>
      noop(qs.head.run(s, s"${c.work}/warm"))
      s.catalog.clearCache()
    }
    // untimed check pass at the measured scale; it also warms every plan
    val checkDir = s"${c.work}/check"
    for (q <- qs) {
      ledger.attempt(s"${q.name}.check") {
        try q.run(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/${q.name}")
        finally spark.catalog.clearCache()
      }
    }
    phase("check_pass")
    out("oracle") = qs.flatMap(q => SparkEntry.oracleSql.get(q.name)
      .map(q.name -> _)).toMap
    val l = withListener(c, spark, tracer, data)
    // timed passes: whole passes until the window is spent, each in a
    // seeded query order, each query cache-cold
    val rnd = new scala.util.Random(c.seed)
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val order = rnd.shuffle(qs)
      val p = passes.size
      val ps = System.nanoTime()
      val times = tracer.span(s"pass$p") {
        order.map { q =>
          spark.catalog.clearCache()
          val t = System.nanoTime()
          ledger.attempt(s"${q.name}.pass$p") {
            tracer.span(s"query.${q.name}")(noop(q.run(spark, data)))
          }
          q.name -> (System.nanoTime() - t) / 1e9
        }.toMap
      }
      passWall += (System.nanoTime() - ps) / 1e9
      passes += times
    }
    spark.catalog.clearCache()
    out("cpu_window_s") = (cpuNs() - cpu0) / 1e9
    out("heap_live_mb") = heapLiveMb()
    phase("window")
    out("passes") = passes.toSeq
    out("pass_wall_s") = passWall.toSeq
    l.foreach { l =>
      drain(spark, l)
      val w = l.synchronized(l.byKey.toMap)
      for (q <- qs) {
        layer(s"query.${q.name}_s") = pct(passes.map(_(q.name)).toSeq, 50)
        layer(s"query.${q.name}.stages") =
          w.get(s"query.${q.name}").map(_.stages.toDouble).getOrElse(0.0) /
            passes.size
      }
      val all = w.filter(_._1.startsWith("query.")).values.toSeq
      def perPass(f: Work => Double) = all.map(f).sum / passes.size
      layer("engine.stages") = perPass(_.stages.toDouble)
      layer("engine.tasks") = perPass(_.tasks.toDouble)
      layer("engine.task_run_s") = perPass(_.runMs / 1e3)
      layer("engine.task_cpu_s") = perPass(_.cpuNs / 1e9)
      layer("engine.gc_s") = perPass(_.gcMs / 1e3)
      layer("engine.shuffle_read_bytes") = perPass(_.shuffleRead.toDouble)
      layer("engine.shuffle_write_bytes") = perPass(_.shuffleWrite.toDouble)
      layer("engine.spill_bytes") = perPass(_.spill.toDouble)
      layer("engine.input_bytes") = perPass(_.input.toDouble)
      exprProbes(spark, c, tracer)
    }
  }

  // ---------------------------------------------------- expression probes

  /** ns per row of each native expression over a cached copy of the
    * documents and embeddings columns, replicated to about [[ProbeRows]]:
    * the best of three noop writes of the expression, minus the best of
    * three of the same scan's identity projection. */
  val ProbeRows = 50000L

  def exprProbes(spark: SparkSession, c: Conf, tracer: Tracer): Unit = {
    val data = s"${c.work}/data"
    def rep(n: Long) = spark.range(math.max(1L, ProbeRows / n)).toDF("rep")
    val docs0 = spark.read.parquet(s"$data/documents.parquet")
    val docs = docs0.crossJoin(rep(docs0.count()))
      .select(col("text"),
        F.wordShingles(col("text"), 2).as("sh"))
      .repartition(c.cores).cache()
    val vecs0 = spark.read.parquet(s"$data/embeddings.parquet")
    val vecs = vecs0.crossJoin(rep(vecs0.count())).select(col("embedding"))
      .repartition(c.cores).cache()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    val dim = vecs.head().getSeq[Float](0).size
    val centroid = typedLit(Array.fill(dim)(0.125))
    def best(df: DataFrame): Double =
      (0 until 3).map(_ => secondsOf(noop(df))).min
    val text = col("text")
    val probes: Seq[(String, DataFrame, Column, Double)] = Seq(
      ("u32_md5", docs, F.u32Md5(text), nDocs),
      ("tokens_nostop", docs, F.tokensNostop(text), nDocs),
      ("rep_stats", docs, F.repStats(text), nDocs),
      ("minhash_bands", docs,
        F.minhashBands(col("sh"), Dedup.MinHashK, Dedup.BandRows), nDocs),
      ("simhash32", docs, F.simhash32(text), nDocs),
      ("word_shingles", docs, F.wordShingles(text, 2), nDocs),
      ("dot_f32", vecs, F.dotF32(col("embedding"), col("embedding")), nVecs),
      ("dist2_f32_f64", vecs, F.dist2F32F64(col("embedding"), centroid),
        nVecs),
      ("vader_score", docs, F.vaderScore(text), nDocs),
      ("ref_count", docs, Text.refCount(text, Text.userRefPattern), nDocs))
    val baseDocs = best(docs.select(text, col("sh")))
    val baseVecs = best(vecs.select(col("embedding")))
    for ((name, df, e, n) <- probes) {
      val base = if (df eq docs) baseDocs else baseVecs
      val keep = if (df eq docs) Seq(text, col("sh")) else Seq(col("embedding"))
      tracer.span(s"expr.$name") {
        ledger.attempt(s"expr.$name") {
          layer(s"expr.${name}_ns_per_row") =
            (best(df.select(keep :+ e.as("x"): _*)) - base) * 1e9 / n
        }
      }
    }
    docs.unpersist(); vecs.unpersist()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
