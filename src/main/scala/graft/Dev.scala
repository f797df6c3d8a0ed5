package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Developer CLI over the query registry, on the same session as Bench
  * and Verify (`SPARK_GRAFT_CPUS` cores, default all):
  *
  *  - `plan <sfDir> <query...>`: the pre-execution `executedPlan`, the
  *    plan `PlanSpec` pins;
  *  - `time <sfDir> <query...>`: three passes, each split into build
  *    (eager actions while the DataFrame is built), plan (Catalyst up to
  *    the physical plan) and exec. Exec writes to the `noop` sink:
  *    `count()` would let column pruning skip work;
  *  - `profile <sfDir> <query...>`: after a warm pass, one measured pass
  *    per query with its jobs, stages, tasks, task time, GC, shuffle and
  *    spill, one line per job (wall, gap since the previous job, tasks,
  *    call site), and the final formatted plan;
  *  - `oracle <sfDir> <query...>`: the oracle SQL with `__SFTAG__`
  *    resolved exactly as `Verify` writes it.
  *
  * Run: scripts/run_class.sh graft.Dev time /path/to/sf0.1 q240_modularity
  */
object Dev {

  private val Usage =
    "usage: graft.Dev <plan|time|profile|oracle> <sfDir> <query...>"

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq(mode, dir, names @ _*)
        if names.nonEmpty && Seq("plan", "time", "profile", "oracle").contains(mode) =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty) fail(s"unknown query: ${unknown.mkString(", ")}")
      if (mode == "oracle") names.foreach { n =>
        println(s"-- $n")
        println(Verify.oracleFor(dir, n))
      } else {
        val spark = LocalSession(LocalSession.envCpus)
        try mode match {
          case "plan"    => names.foreach(n => plan(spark, dir, n))
          case "time"    => time(spark, dir, names)
          case "profile" => names.foreach(n => profile(spark, dir, n))
        } finally spark.stop()
      }
    case _ => fail(Usage)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  private def build(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  private def plan(spark: SparkSession, dir: String, name: String): Unit = {
    println(s"===== $name =====")
    println(build(spark, dir, name).queryExecution.executedPlan)
  }

  private def time(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    for (pass <- 1 to 3; name <- names) {
      val t0 = System.nanoTime()
      val df = build(spark, dir, name)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      noop(df)
      val t3 = System.nanoTime()
      println(f"$name%-32s pass$pass build ${secs(t0, t1)}%6.3f s  " +
        f"plan ${secs(t1, t2)}%6.3f s  exec ${secs(t2, t3)}%6.3f s")
    }

  private def profile(spark: SparkSession, dir: String, name: String): Unit = {
    try noop(build(spark, dir, name))
    catch { case e: Throwable => println(s"$name WARM-FAIL: ${e.getMessage}") }
    val p = new Profiler
    spark.sparkContext.addSparkListener(p)
    val t0 = System.nanoTime()
    val df = build(spark, dir, name)
    noop(df)
    val wall = secs(t0, System.nanoTime())
    Thread.sleep(300) // let the listener bus drain
    spark.sparkContext.removeSparkListener(p)
    println(f"== $name%-32s wall $wall%6.2f s  jobs ${p.jobs.size}%3d  " +
      f"stages ${p.stages.get}%3d  tasks ${p.tasks.get}%5d  " +
      f"taskTime ${p.taskMs.get / 1000.0}%7.1f s  gc ${p.gcMs.get / 1000.0}%5.1f s  " +
      f"shufR ${p.shufR.get / 1e6}%8.1f MB  shufW ${p.shufW.get / 1e6}%8.1f MB  " +
      f"spill ${p.spill.get / 1e6}%6.1f MB")
    var prevEnd = 0L
    p.jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
      val gap = if (prevEnd > 0) j.start - prevEnd else 0L
      prevEnd = math.max(prevEnd, j.end)
      println(f"  job $id%3d  ${j.end - j.start}%5d ms  gap $gap%5d ms  " +
        f"tasks ${j.tasks.get}%4d  taskTime ${j.taskMs.get}%6d ms  ${j.site}")
    }
    println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
  }

  private final class Job(val start: Long, val site: String) {
    @volatile var end = 0L
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
  }

  /** Per-query totals plus per-job attribution from one listener. */
  private final class Profiler extends SparkListener {
    val jobs = TrieMap.empty[Int, Job]
    private val stageJob = TrieMap.empty[Int, Int]
    val stages, tasks = new AtomicInteger
    val taskMs, gcMs, shufR, shufW, spill = new AtomicLong

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      // a job's result stage (its last) is named after the call site
      jobs.put(j.jobId, new Job(j.time,
        j.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name)))
      j.stageIds.foreach(stageJob.put(_, j.jobId))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobs.get(j.jobId).foreach(_.end = j.time)

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      ()
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      val job = stageJob.get(t.stageId).flatMap(jobs.get)
      job.foreach(_.tasks.incrementAndGet())
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        job.foreach(_.taskMs.addAndGet(m.executorRunTime))
      }
    }
  }
}
