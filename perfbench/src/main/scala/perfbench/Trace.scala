package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One timed region of the benchmark's own code: a call into a layer's
  * public function. Times are nanoseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long)

/** In-memory span recorder. Spans nest on the calling thread; the
  * innermost open span's name is published as a Spark local property, so
  * the engine listener can key the jobs a call submits to it (local
  * properties propagate to the threads Spark starts for subqueries and
  * broadcasts). Disabled, it runs the body and records nothing. */
object Tracer {
  /** The Spark local property that carries the innermost span's name. */
  val SpanKey = "perfbench.span"
}

final class Tracer(val enabled: Boolean) {
  import Tracer.SpanKey
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 1
  private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = sc = Some(context)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name, System.nanoTime() - t0) :: open
      sc.foreach(_.setLocalProperty(SpanKey, name))
      try body
      finally {
        val (_, _, start) = open.head
        open = open.tail
        done += Span(id, parent, name, start, System.nanoTime() - t0)
        sc.foreach(_.setLocalProperty(SpanKey, open.headOption.map(_._2).orNull))
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Duration minus the union of the direct children's intervals. */
  def selfTimes: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) {
          case ((sum, reach), (a, b)) =>
            val from = math.max(a, reach)
            (sum + math.max(0L, b - from), math.max(reach, b))
        }._1
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** Work counters of one key: a span name or a streaming batch. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
  val jobMsBySite = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** Job, stage and task counts keyed by the enclosing benchmark span, or
  * by streaming query and batch for jobs a stream thread submits. Write jobs are
  * also keyed by site: the first path component under `siteRoot` that
  * their SQL execution writes to (so a pipeline's sinks are told apart by
  * where they write, not by source line), or "isEmpty" for the
  * collect-limit probes (`Dataset.isEmpty`). Compaction rewrites are counted apart. Runs on the listener
  * bus; read the maps only after `SparkContext` listeners have drained. */
final class EngineListener(siteRoot: String) extends SparkListener {
  val byKey = mutable.Map.empty[String, Work]
  var compactions = 0
  private val execSite = mutable.Map.empty[Long, String]
  private val jobKey = mutable.Map.empty[Int, (String, String, Long)]
  private val stageKey = mutable.Map.empty[Int, String]
  // formatted plans list each node's arguments below the tree
  private val Insert =
    "(?s)Execute InsertIntoHadoopFsRelationCommand\\s*\\nInput[^\\n]*\\nArguments: ([^,\\s]+)".r
  private val Probe = "(?s)== Physical Plan ==\\s*\\n(?:AdaptiveSparkPlan[^\\n]*\\n\\+- )?CollectLimit.*".r

  private def work(k: String) = byKey.getOrElseUpdate(k, new Work)

  private def siteOf(path: String): String = {
    val p = path.replaceFirst("^file:", "")
    if (p.contains(".compacting")) "compaction"
    else if (p.startsWith(siteRoot))
      p.stripPrefix(siteRoot).stripPrefix("/").takeWhile(_ != '/')
    else "other"
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit =
    synchronized {
      event match {
        case e: SparkListenerSQLExecutionStart =>
          val plan = e.physicalPlanDescription
          Insert.findFirstMatchIn(plan).map(m => siteOf(m.group(1)))
            .orElse(Some("isEmpty").filter(_ => Probe.matches(plan)))
            .foreach { s =>
              execSite(e.executionId) = s
              if (s == "compaction") compactions += 1
            }
        case _ =>
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val key = prop(Tracer.SpanKey)
      .orElse(prop("streaming.sql.batchId").map(b =>
        s"batch:${prop("sql.streaming.queryId").getOrElse("")}:$b"))
      .getOrElse("other")
    val site = prop("spark.sql.execution.id").flatMap(id =>
      execSite.get(id.toLong)).getOrElse("other")
    jobKey(e.jobId) = (key, site, e.time)

    e.stageIds.foreach(stageKey(_) = key)
    work(key).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (key, site, start) =>
      work(key).jobMsBySite(site) += e.time - start
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      work(stageKey.getOrElse(e.stageInfo.stageId, "other")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageKey.getOrElse(e.stageId, "other"))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.input += m.inputMetrics.bytesRead
    }
  }
}
