package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds with `nanoTime` resolution, so
  * the benchmark's spans line up with listener timestamps (epoch millis).
  */
final class Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
                 val startUs: Long, val tags: Map[String, String]) {
  var endUs: Long = -1L
  var nums: Map[String, Double] = Map.empty
  def durS: Double = (endUs - startUs) / 1e6
}

/** In-memory spans: run > pass > op > phase, opened and closed by the
  * benchmark's single client thread; Spark job and streaming-trigger
  * records come from listeners registered only while a traced pass runs.
  */
final class Trace(clock: Clock, spark: SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def open(kind: String, name: String, tags: Map[String, String] = Map.empty): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), kind, name,
      clock.nowUs, tags)
    spans += s
    stack = s :: stack
    s
  }

  def close(s: Span, nums: Map[String, Double] = Map.empty): Unit = {
    s.endUs = clock.nowUs
    s.nums = nums
    stack = stack.dropWhile(_ ne s).drop(1)
  }

  def phase[T](name: String)(body: => T): T = {
    val s = open("phase", name)
    try body finally close(s)
  }

  // ---- listeners ----

  final class Job(val id: Int, val startMs: Long, val site: String) {
    @volatile var endMs: Long = -1L
    @volatile var ok: Boolean = false
    val m = new ConcurrentHashMap[String, Double]()
    def add(k: String, v: Double): Unit = { m.merge(k, v, (a: Double, b: Double) => a + b); () }
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val sqlSites = new ConcurrentHashMap[Long, String]()
  private val triggers = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Double])]()
  @volatile private var lastEventNs = System.nanoTime()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      // the call site of the action that started the job: its SQL
      // execution's description (which also names the asynchronous
      // broadcast and subquery jobs), else the job's own call site, else
      // the result stage's name ("collect at X.scala:N")
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(_.toLongOption)
        .flatMap(id => Option(sqlSites.get(id)))
        .orElse(prop("callSite.short"))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("?")
      val j = new Job(e.jobId, e.time, site)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val root = x.rootExecutionId.flatMap(r => Option(sqlSites.get(r)))
        sqlSites.put(x.executionId, root.getOrElse(x.description))
        ()
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs = System.nanoTime()
      Option(jobs.get(e.jobId)).foreach { j =>
        j.ok = e.jobResult == JobSucceeded
        j.endMs = e.time
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNs = System.nanoTime()
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs = System.nanoTime()
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
        j.add("tasks", 1)
        j.add("task_s", m.executorRunTime / 1e3)
        j.add("cpu_s", m.executorCpuTime / 1e9)
        j.add("gc_s", m.jvmGCTime / 1e3)
        j.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        j.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        j.add("spill_b", m.memoryBytesSpilled.toDouble)
        j.add("disk_spill_b", m.diskBytesSpilled.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEventNs = System.nanoTime()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }.toMap
      val state = p.stateOperators.map(_.numRowsTotal.toDouble).sum
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      triggers.add((startMs, d + ("state_rows" -> state) + ("input_rows" -> p.numInputRows.toDouble)))
      ()
    }
  }

  def enable(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Let queued listener events arrive, then unregister. */
  def disable(): Unit = {
    awaitQuiet()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    def open = jobs.values().asScala.exists(_.endMs < 0)
    while (System.nanoTime() < deadline &&
           (open || System.nanoTime() - lastEventNs < 200000000L)) Thread.sleep(20)
  }

  // ---- output ----

  private def spanJson(s: Span): String = {
    val j = new Json().num("id", s.id).num("parent", s.parent).str("kind", s.kind)
      .str("name", s.name).num("start_us", s.startUs).num("dur_s", s.durS)
    s.tags.foreach { case (k, v) => j.str(k, v) }
    s.nums.foreach { case (k, v) => j.num(k, v) }
    j.render
  }

  /** The innermost phase span open at `us`. */
  private def parentAt(us: Long): Int = {
    val inner = spans.filter(s => s.kind == "phase" &&
      s.startUs <= us + 1000 && us <= s.endUs + 1000)
    if (inner.isEmpty) -1 else inner.maxBy(_.startUs).id
  }

  def spansJson(withJobs: Boolean): String = {
    val base = spans.map(spanJson)
    val extra =
      if (!withJobs) Nil
      else {
        val js = jobs.values().asScala.toSeq.sortBy(_.id).map { jb =>
          val j = new Json().num("job", jb.id).num("parent", parentAt(jb.startMs * 1000))
            .str("kind", "job").str("name", jb.site).num("start_us", jb.startMs * 1000)
            .num("dur_s", (jb.endMs - jb.startMs) / 1e3).num("ok", if (jb.ok) 1 else 0)
          jb.m.asScala.foreach { case (k, v) => j.num(k, v) }
          j.render
        }
        val ts = triggers.asScala.toSeq.sortBy(_._1).map { case (ms, d) =>
          val j = new Json().num("parent", parentAt(ms * 1000)).str("kind", "trigger")
            .str("name", "trigger").num("start_us", ms * 1000)
            .num("dur_s", d.getOrElse("triggerExecution", 0.0))
          d.foreach { case (k, v) => j.num(k, v) }
          j.render
        }
        js ++ ts
      }
    (base ++ extra).mkString("[\n", ",\n", "\n]")
  }

  def fullJson: String = new Json().raw("spans", spansJson(withJobs = true)).render
}
