package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.{TxChangesStream, TxTable}
import graft.streaming.Events

/** One benchmark run of one workload, driven by `perfbench/run.py`.
  *
  * Every layer is timed from outside, around the public calls this file
  * makes into it:
  *  - build: `SparkEntry.queries(name)(spark, dir)` (registry + `core`);
  *  - plan: `df.queryExecution.executedPlan` (`plans` + Catalyst);
  *  - exec: a full-materialising `noop` write (the Spark runtime);
  *  - table ops: direct `TxTable`, `Events.streamIntoTx` and
  *    `TxChangesStream.pipeTo` calls.
  *
  * Spans nest run > pass > op > phase; traced passes add Spark job and
  * streaming-trigger spans from the listeners in [[Trace]]. Everything
  * is kept in memory and written once, as `result.json` (and
  * `trace.json` when tracing), into the run's work directory.
  *
  * Arguments are `key=value` pairs; see `run.py` for the full list.
  */
object PerfBench {

  final case class Op(kind: String, name: String, args: Map[String, String])

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val clock = new Clock
    val work = a("work")
    val data = a("data")
    val cpus = a("cpus").toInt
    val traceOn = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val minPasses = a("min_passes").toInt
    val queries = a.get("queries").filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmBootS = (mainMs - jvmStartMs) / 1e3

    // set-up: session start plus the query registry build
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    SparkEntry.queries.size
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(clock, spark)
    val tables = if (a("kind") == "tables") Some(new TableOps(spark, work, data, a)) else None
    val orderRng = new scala.util.Random(a("seed").toLong)

    def passOps(p: Int): Seq[Op] = tables match {
      case Some(t) => t.opsOfPass(p)
      case None => orderRng.shuffle(queries).map(q => Op("query", q, Map.empty))
    }

    def runOp(op: Op, dump: Boolean): Unit = {
      val span = trace.open("op", op.name, Map("op_kind" -> op.kind))
      val ok =
        try {
          tables match {
            case Some(t) =>
              // a read hands back its frame: plan and materialise it as
              // the query workloads do
              trace.phase(op.kind)(t.run(op)).foreach { df =>
                trace.phase("plan")(df.queryExecution.executedPlan)
                trace.phase("exec")(df.write.format("noop").mode("overwrite").save())
              }
            case None =>
              val df = trace.phase("build")(SparkEntry.queries(op.name)(spark, data))
              trace.phase("plan")(df.queryExecution.executedPlan)
              // the cold pass's sink is the correctness dump; warm passes
              // materialise every column into the noop sink
              trace.phase("exec") {
                if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"$work/check/${op.name}")
                else df.write.format("noop").mode("overwrite").save()
              }
          }
          true
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] FAILED ${op.name}: ${e.getClass.getName}: " +
              String.valueOf(e.getMessage).replace('\n', ' ').take(400))
            false
        }
      trace.close(span, Map("ok" -> (if (ok) 1.0 else 0.0)))
    }

    def runPass(label: String, ops: Seq[Op], traced: Boolean, dump: Boolean): Unit = {
      if (traced) trace.enable()
      val span = trace.open("pass", label, Map("traced" -> (if (traced) "1" else "0")))
      val cpu0 = processCpuS()
      val jit0 = jitCpuS()
      ops.foreach(runOp(_, dump))
      trace.close(span, Map("cpu_s" -> (processCpuS() - cpu0), "jit_cpu_s" -> (jitCpuS() - jit0)))
      if (traced) trace.disable()
    }

    // cold pass; for query workloads it writes each result for the
    // oracle check
    val run = trace.open("run", a("workload"), Map("seed" -> a("seed")))
    runPass("warmup", passOps(0), traced = traceOn, dump = tables.isEmpty)

    // untimed settle passes: the first warm passes still carry JIT work
    var p = 0
    for (_ <- 0 until a("settle_passes").toInt if tables.forall(_.hasPass(p + 1))) {
      p += 1
      runPass(s"settle$p", passOps(p), traced = false, dump = false)
    }

    // timed window: `min_passes` whole passes, then more whole passes
    // while one more still fits in `seconds`. When tracing, passes
    // alternate traced / untraced so the overhead is measured.
    val windowStart = System.nanoTime()
    var w = 0
    var more = true
    val need = if (traceOn) math.max(minPasses, 2) else minPasses
    while (more && tables.forall(_.hasPass(p + 1))) {
      p += 1
      w += 1
      val t = System.nanoTime()
      runPass(s"pass$w", passOps(p), traced = traceOn && w % 2 == 1, dump = false)
      val now = System.nanoTime()
      more = w < need || (now - windowStart) + (now - t) <= seconds * 1e9
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val peakRssMb = procStatusKb("VmHWM") / 1024.0
    trace.close(run)

    // untimed correctness dumps
    val extra = tables match {
      case Some(t) => t.finish()
      case None =>
        writeOracle(work, data, queries)
        Map.empty[String, Double]
    }
    trace.awaitQuiet()

    val out = new Json
    out.num("jvm_boot_s", jvmBootS).num("session_s", sessionS)
      .num("window_s", windowS).num("peak_rss_mb", peakRssMb).num("cpus", cpus)
      .str("spark", spark.version).str("scala", scala.util.Properties.versionNumberString)
      .str("jdk", System.getProperty("java.version"))
      .num("heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
      .str("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
      .str("time_zone", spark.conf.get("spark.sql.session.timeZone"))
    extra.foreach { case (k, v) => out.num(k, v) }
    out.raw("spans", trace.spansJson(withJobs = false))
    Files.writeString(Paths.get(work, "result.json"), out.render)
    if (traceOn) Files.writeString(Paths.get(work, "trace.json"), trace.fullJson)
    spark.stop()
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The oracle SQL of the workload's queries, `__SFTAG__` resolved as
    * `graft.Verify` does, for `scripts/check_oracle.py`.
    */
  private def writeOracle(work: String, data: String, queries: Seq[String]): Unit = {
    val tag = SparkEntry.sfTag(data)
    val oracle = SparkEntry.oracleSql
    val j = new Json
    queries.foreach(q => j.str(q, oracle(q).replace("__SFTAG__", tag)))
    Files.writeString(Paths.get(work, "check", "oracle_sql.json"), j.render)
  }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds of the JIT compiler threads, summed from
    * `/proc/self/task/<tid>/stat` (where thread names are cut to 15
    * characters). `run.py` fixes the number of compiler threads for the
    * JVM's life, so no compiler thread exits and takes its time with it.
    */
  private def jitCpuS(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { d =>
      try {
        val st = new String(Files.readAllBytes(Paths.get(d.getPath, "stat")))
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!name.matches("C[12] CompilerThre.*")) 0.0
        else {
          // utime and stime, fields 14 and 15, in USER_HZ (100) ticks
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          (f(11).toDouble + f(12).toDouble) / 100.0
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum
  }

  private def procStatusKb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
}

/** The `tables` workload: a seeded op stream over one TxTable. The op
  * list and every batch payload come from `ops.json` and `ops/` in the
  * input directory, written by `gen.py`.
  */
final class TableOps(spark: SparkSession, work: String, data: String, a: Map[String, String]) {
  import PerfBench.Op

  val opsPerPass: Int = a("ops_per_pass").toInt
  private val table = s"$work/tx/table"
  private val mirror = s"$work/tx/mirror"
  private val mirrorCkpt = s"$work/tx/mirror_ckpt"
  private val ops: IndexedSeq[Op] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(s"$data/ops.json"), classOf[Array[java.util.Map[String, Object]]])
      .toIndexedSeq.zipWithIndex.map { case (m, i) =>
        val g = m.asScala.map { case (k, v) => k -> v.toString }.toMap
        Op(g("op"), g("op"), g + ("index" -> i.toString))
      }
  private val log = ArrayBuffer.empty[String] // one JSON line per executed op

  def hasPass(p: Int): Boolean = (p + 1) * opsPerPass + 1 <= ops.size

  /** Pass 0 is the create op plus the first `opsPerPass` ops. */
  def opsOfPass(p: Int): Seq[Op] =
    if (p == 0) ops.take(opsPerPass + 1)
    else ops.slice(p * opsPerPass + 1, (p + 1) * opsPerPass + 1)

  private def batch(file: String): DataFrame = spark.read.parquet(s"$data/ops/$file")
  private def versionAt(frac: Double): Int = {
    val cur = TxTable.currentVersion(spark, table)
    1 + math.min(cur - 1, (frac * cur).toInt)
  }

  /** Runs one op; a read returns its frame for the caller to plan and
    * materialise.
    */
  def run(op: Op): Option[DataFrame] = {
    val g = op.args
    var detail = ""
    val out: Option[DataFrame] = op.kind match {
      case "create" | "append" =>
        TxTable.commit(batch(g("file")), table, statsCols = Seq("event_id"), countRows = true)
        None
      case "merge" =>
        TxTable.mergeInto(spark, table, batch(g("file")), "event_id", "seq", "op",
          statsCols = Seq("event_id"))
        None
      case "delete" =>
        TxTable.deleteKeysMor(spark, table, "event_id", batch(g("file")))
        None
      case "compact" =>
        TxTable.compact(spark, table)
        None
      case "ingest" =>
        Events.streamIntoTx(spark, s"$data/ops/${g("dir")}", table,
          appId = s"ingest${g("index")}", runs = 1)
        None
      case "read" => Some(TxTable.read(spark, table))
      case "point_read" =>
        val n = TxTable.readWhereKey(spark, table, "event_id", g("key")).count()
        detail = s""","rows":$n"""
        None
      case "version_read" =>
        Some(TxTable.readVersion(spark, table, versionAt(g("frac").toDouble)))
      case "asof_read" =>
        val v = versionAt(g("frac").toDouble)
        Some(TxTable.readAsOf(spark, table, TxTable.commitMsOf(spark, table, v)))
      case "changes" =>
        val cur = TxTable.currentVersion(spark, table)
        Some(TxTable.changes(spark, table, math.max(0, cur - g("span").toInt), cur))
      case "meta_count" =>
        // metaCount refuses while key tombstones or uncounted files are
        // live; its documented fallback is a scan count
        val (n, how) =
          try (TxTable.metaCount(spark, table), "meta")
          catch { case _: IllegalArgumentException => (TxTable.read(spark, table).count(), "scan") }
        detail = s""","rows":$n,"how":"$how""""
        None
      case "mirror" =>
        TxChangesStream.pipeTo(spark, table, mirror, "mirror", _.drop("_change"), mirrorCkpt)
        detail = s""","mirror_upto":${TxTable.currentVersion(spark, table)}"""
        None
    }
    log += s"""{"index":${g("index")},"op":"${op.kind}","version":${
      TxTable.currentVersion(spark, table)}$detail}"""
    out
  }

  /** Untimed end of run: dump the final snapshot, the CDC feed and the
    * mirror for the DuckDB replay, and measure the table's footprint.
    */
  def finish(): Map[String, Double] = {
    val v = TxTable.currentVersion(spark, table)
    val check = s"$work/check"
    TxTable.read(spark, table).coalesce(1).write.mode("overwrite").parquet(s"$check/snapshot")
    TxTable.changes(spark, table, 0, v).coalesce(1).write.mode("overwrite").parquet(s"$check/cdc")
    if (Files.exists(Paths.get(mirror)))
      TxTable.read(spark, mirror).coalesce(1).write.mode("overwrite").parquet(s"$check/mirror")
    Files.writeString(Paths.get(check, "oplog.jsonl"), log.mkString("", "\n", "\n"))
    def tree(p: String): Seq[java.nio.file.Path] =
      Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val files = tree(table)
    Map(
      "table_bytes" -> files.map(Files.size(_).toDouble).sum,
      "table_files" -> files.count(_.toString.endsWith(".parquet")).toDouble,
      "snapshot_bytes" -> tree(s"$check/snapshot")
        .filter(_.toString.endsWith(".parquet")).map(Files.size(_).toDouble).sum,
      "versions" -> v.toDouble,
      "files_per_snapshot" -> TxTable.filesOf(spark, table, v).size.toDouble)
  }
}

/** A small JSON object builder (numbers keep all their digits). */
final class Json {
  private val parts = ArrayBuffer.empty[String]
  private def key(k: String) = Json.quote(k) + ":"
  def num(k: String, v: Double): Json = { parts += key(k) + Json.number(v); this }
  def str(k: String, v: String): Json = { parts += key(k) + Json.quote(v); this }
  def arr(k: String, vs: Seq[Double]): Json = {
    parts += key(k) + vs.map(Json.number).mkString("[", ",", "]"); this
  }
  def raw(k: String, json: String): Json = { parts += key(k) + json; this }
  def render: String = parts.mkString("{", ",", "}")
}

object Json {
  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
