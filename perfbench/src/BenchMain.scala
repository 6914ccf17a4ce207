package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.CodeFiles
import graft.data.SynthGen
import graft.drift.Drift
import graft.refint.RefIntegrity
import graft.resume.{Checkpoint, ValidationRun}
import graft.stats.ColumnStats
import graft.streaming.StreamingValidator
import graft.unique.Uniqueness
import graft.validate.Validator
import graft.verdict.Verdict
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** JVM side of the benchmark: generates the inputs, runs one workload
  * through the engine's public entry points for a fixed time, and
  * writes everything it saw to one JSON report. `run.py` checks the
  * outputs against an independent oracle and turns the report into
  * metrics.
  *
  * {{{
  * BenchMain --workload run|checks|stream --seed N --seconds S
  *           --trace 0|1 --work DIR --report FILE
  * }}}
  */
object BenchMain {

  // Input sizing; README.md explains the choices.
  val Cpus = 4
  val ShufflePartitions = 8
  val Rows = 100000L
  // Broadcast threshold scaled down with the input (Spark's 10 MB default
  // for 2M rows), so the keyed checks keep the shuffle joins they would
  // plan at full size.
  val BroadcastThreshold = "512k"
  val InputFiles = 8
  val StreamFiles = 4
  val StreamRowsPerFile = 5000
  val GenReps = 2
  val WarmupOps = 5
  val ProbeReps = 3
  val StatsCols = Seq("repo", "path", "commit", "content")
  val DriftBins = 20
  val DriftHi = 1000.0

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold)
      .config("spark.local.dir", s"${opts("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bench = new Bench(spark, opts("workload"), opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", opts("work"))
    try bench.run(sessionS)
    finally {
      bench.report("peak_rss_mb") = peakRssMb()
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      mapper.writeValue(new File(opts("report")), bench.report.toMap)
      spark.stop()
    }
  }

  /** High-water mark of this JVM's resident set, from /proc. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  def loadavg(): String =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim

  /** CPU time the hypervisor gave to other guests, machine-wide (s). */
  def stealS(): Double =
    scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").lift(8).map(_.toDouble / 100.0).getOrElse(0.0)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def rowMap(r: Row): Map[String, Any] = r.getValuesMap[Any](r.schema.fieldNames.toSeq)
}

final class Bench(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String) {
  import BenchMain._

  val report = mutable.LinkedHashMap[String, Any]()
  private val ops = mutable.ArrayBuffer[Map[String, Any]]()
  private val calls = mutable.ArrayBuffer[Map[String, Any]]()
  private val probeErrors = mutable.ArrayBuffer[String]()
  private var tracing = false

  private val input = s"$work/input-0"
  private def codeDir = s"$input/code_files"
  private def dimDir = s"$input/dim_commits"
  private def streamDir = s"$input/stream_in"
  private val recorder = new Recorder(Seq(codeDir, streamDir))

  private def cfg(rows: Long, parts: Int) =
    SynthGen.Config(rows = rows, seed = seed, partitions = parts)

  // ---- inputs --------------------------------------------------------

  private def genCode(dir: String): Unit =
    SynthGen.codeFiles(spark, cfg(Rows, InputFiles)).write.parquet(s"$dir/code_files")

  private def genDim(dir: String): Unit =
    SynthGen.dimCommits(spark, cfg(Rows, InputFiles)).write.parquet(s"$dir/dim_commits")

  /** The first StreamFiles × StreamRowsPerFile rows of the same table,
    * one file per generator partition.
    */
  private def genStream(dir: String): Unit =
    SynthGen.codeFiles(spark, cfg(StreamFiles.toLong * StreamRowsPerFile, StreamFiles))
      .write.parquet(s"$dir/stream_in")

  private def generate(dir: String): Unit = workload match {
    case "run" => genCode(dir)
    case "checks" => genCode(dir); genDim(dir)
    case "stream" => genStream(dir)
  }

  // ---- ops -----------------------------------------------------------

  private def call[T](name: String)(f: => T): T = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally if (tracing) calls += Map(
      "name" -> name, "op" -> ops.size, "start_ms" -> startMs,
      "end_ms" -> System.currentTimeMillis(), "dur_s" -> (System.nanoTime() - t0) / 1e9)
  }

  private def op(kind: String, block: String)(body: mutable.Map[String, Any] => Unit): Unit = {
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> ops.size, "kind" -> kind, "block" -> block)
    val gc0 = gcMs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try { body(rec); rec("ok") = true }
    catch {
      case NonFatal(e) =>
        rec("ok") = false
        rec("error") = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
    }
    rec("wall_s") = (System.nanoTime() - t0) / 1e9
    rec("start_ms") = startMs
    rec("end_ms") = System.currentTimeMillis()
    rec("gc_ms") = gcMs() - gc0
    ops += rec.toMap
  }

  private def runOp(block: String): Unit = op("run", block) { r =>
    val out = s"$work/out/op-${ops.size}"
    r("out") = out
    r("rows") = Rows
    ValidationRun.run(spark.read.parquet(codeDir), CodeFiles.schema, "lang",
      CodeFiles.keyCols, out)
  }

  private def unique(df: DataFrame) = call("unique.summary") {
    Uniqueness.summary(df, CodeFiles.keyCols).collect().map(rowMap).head
  }
  private def refint(df: DataFrame, dim: DataFrame) = call("refint.summary") {
    RefIntegrity.summary(df, dim, Seq("repo", "commit"), broadcastDim = false)
      .collect().map(rowMap).head
  }
  private def stats(df: DataFrame) = call("stats.compute") {
    ColumnStats.compute(df, StatsCols, Seq("lang")).collect().map(rowMap).toSeq
  }
  private def drift(df: DataFrame) = call("drift.against_global") {
    Drift.againstGlobal(df.withColumn("content_len", length(col("content"))),
      "content_len", Seq("lang"), DriftBins, 0.0, DriftHi).collect().map(rowMap).toSeq
  }

  private def checksOp(block: String): Unit = op("checks", block) { r =>
    r("rows") = Rows
    val df = spark.read.parquet(codeDir)
    val dim = spark.read.parquet(dimDir)
    r("result") = Map(
      "unique" -> unique(df),
      "refint" -> refint(df, dim),
      "stats" -> stats(df),
      "drift" -> drift(df))
  }

  /** One AvailableNow query over the stream files: one micro-batch per
    * file, each batch reported with its StreamingQueryProgress durations.
    */
  private def streamOp(block: String): Unit = op("query", block) { r =>
    val out = s"$work/out/op-${ops.size}"
    r("out") = out
    val schema = spark.read.parquet(streamDir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val q = StreamingValidator.verdictSink(src, CodeFiles.schema, "lang", out,
      Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq.map { p =>
      Map(
        "batch_id" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
    r("batches") = batches
    r("rows") = batches.map(_("rows").asInstanceOf[Long]).sum
  }

  private def oneOp(block: String): Unit = workload match {
    case "run" => runOp(block)
    case "checks" => checksOp(block)
    case "stream" => streamOp(block)
  }

  private def measure(block: String, secs: Double): Unit = {
    val end = System.nanoTime() + (secs * 1e9).toLong
    do oneOp(block) while (System.nanoTime() < end)
  }

  /** Register the recorder around `f`; on the way out wait until the
    * listener has seen every job and execution end.
    */
  private def listening(f: => Unit): Unit = {
    spark.sparkContext.addSparkListener(recorder)
    try f
    finally {
      val deadline = System.nanoTime() + 5000000000L
      var settled = 0
      while (settled < 2 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        settled = if (recorder.quiet) settled + 1 else 0
      }
      spark.sparkContext.removeSparkListener(recorder)
    }
  }

  /** Listen, and record the benchmark's own spans around layer calls. */
  private def traced(f: => Unit): Unit = listening {
    tracing = true
    try f finally tracing = false
  }

  // ---- per-layer probe (traced runs only) -----------------------------

  private def probeStep(name: String)(f: => Unit): Unit =
    try f
    catch { case NonFatal(e) => probeErrors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(500) }

  private def dirStats(dir: String): (Long, Long) = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val fs = files(new File(dir))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  /** Calls each layer's public function on the shared input so every
    * per-layer metric is measured on every workload.
    */
  private def probe(): Map[String, Any] = {
    val p = mutable.LinkedHashMap[String, Any]()
    def df = spark.read.parquet(codeDir)
    val schema = CodeFiles.schema
    val keys = CodeFiles.keyCols :+ "lang"

    probeStep("compile") {
      val reps = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        val plans = Seq(Validator.violations(df, schema, keys), Verdict.compute(df, schema, "lang"))
        plans.foreach(_.queryExecution.executedPlan)
        val ms = (System.nanoTime() - t0) / 1e6
        val rules = plans.map(_.queryExecution.tracker.rules.values
          .map(_.numEffectiveInvocations).sum).sum
        val phases = plans.flatMap(_.queryExecution.tracker.phases.toSeq)
          .groupMapReduce(_._1)(_._2.durationMs)(_ + _)
        (ms, rules, phases)
      }
      p("compile.plan_ms") = reps.map(_._1)
      p("compile.rules") = reps.map(_._2)
      p("compile.tracker_phase_ms") = reps.last._3
      p("compile.missing_kernels") = Seq(
        Validator.violations(df, schema, keys), Verdict.compute(df, schema, "lang"))
        .map(x => PlanGuard.missing(x.queryExecution.executedPlan.toString))
    }
    probeStep("scan") {
      p("sources.scan_bytes") = df.inputFiles.map(f => new File(new java.net.URI(f)).length).sum
      (1 to ProbeReps).foreach(_ => call("sources.scan") {
        df.write.format("noop").mode("overwrite").save()
      })
    }
    probeStep("violations") {
      p("validate.violation_rows") = (1 to ProbeReps).map { _ =>
        val obs = Observation("violations")
        call("validate.violations") {
          Validator.violations(df, schema, keys).observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
        }
        obs.get("n")
      }
    }
    probeStep("verdict") {
      (1 to ProbeReps).foreach(_ => call("verdict.compute") {
        Verdict.compute(df, schema, "lang").collect()
      })
    }
    probeStep("resume") {
      val out = s"$work/probe/run"
      call("resume.run") { ValidationRun.run(df, schema, "lang", CodeFiles.keyCols, out) }
      val (nFiles, nBytes) = dirStats(out)
      p("resume.files_written") = nFiles
      p("resume.bytes_written") = nBytes
      (1 to ProbeReps).foreach(_ => call("resume.pending") {
        Checkpoint.pending(df, "lang", out)
      })
      (1 to ProbeReps).foreach(_ => call("resume.manifest_read") {
        Checkpoint.processed(spark, out).collect()
      })
      val manifest = Checkpoint.processed(spark, out)
      val entries = spark.createDataFrame(manifest.collect().toSeq.asJava, manifest.schema)
      (1 to ProbeReps).foreach(i => call("resume.commit") {
        Checkpoint.commit(spark, s"$work/probe/commit-$i", entries)
      })
    }
    probeStep("checks") {
      val dim = spark.read.parquet(dimDir)
      (1 to ProbeReps).foreach { _ =>
        unique(df); refint(df, dim); stats(df); drift(df)
      }
    }
    if (workload != "stream") probeStep("stream")(streamOp("probe"))
    p.toMap
  }

  // ---- run -----------------------------------------------------------

  def run(sessionS: Double): Unit = {
    report("workload") = workload
    report("env") = Map(
      "cpus" -> Cpus,
      "shuffle_partitions" -> ShufflePartitions,
      "broadcast_threshold" -> BroadcastThreshold,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "jvm_name" -> System.getProperty("java.vm.name"),
      "seed" -> seed,
      "rows" -> Rows,
      "input_files" -> InputFiles,
      "stream_files" -> StreamFiles,
      "stream_rows_per_file" -> StreamRowsPerFile,
      "trace" -> trace)
    report("inputs") = Map("code_files" -> codeDir, "dim_commits" -> dimDir, "stream_in" -> streamDir)
    report("ops") = ops
    report("calls") = calls
    report("setup") = Map("session_s" -> sessionS)

    val genS = (0 until GenReps).map { i =>
      val t0 = System.nanoTime()
      generate(s"$work/input-$i")
      (System.nanoTime() - t0) / 1e9
    }
    // The warm-up ops run with the listener on, so every run can check
    // that the timed plans still evaluate the rule kernels.
    listening((0 until WarmupOps).foreach(_ => oneOp("warmup")))
    report("setup") = Map(
      "session_s" -> sessionS,
      "gen_s" -> genS,
      "warmup_s" -> ops.map(_("wall_s")))

    val tMeasure = System.nanoTime()
    report("loadavg_start") = loadavg()
    val steal0 = stealS()
    if (!trace) measure("measure", seconds)
    else {
      // Untraced, traced, traced, untraced blocks: the traced run measures
      // its own overhead on the same JVM, and a steady warm-up trend
      // weighs on both sides alike.
      measure("untraced", seconds / 4)
      traced(measure("traced", seconds / 2))
      measure("untraced", seconds / 4)
    }
    report("loadavg_end") = loadavg()
    report("steal_s") = stealS() - steal0
    report("measure_s") = (System.nanoTime() - tMeasure) / 1e9

    if (trace) {
      if (workload == "stream") { genCode(input); genDim(input) }
      else if (workload == "run") { genDim(input); genStream(input) }
      else genStream(input)
      val before = calls.size
      val tProbe = System.nanoTime()
      traced { report("probe") = probe() }
      report("probe_s") = (System.nanoTime() - tProbe) / 1e9
      report("probe_calls_from") = before
      report("probe_errors") = probeErrors
    }
    report("events") = Map(
      "jobs" -> recorder.jobs.asScala.toSeq,
      "stages" -> recorder.stages.asScala.toSeq,
      "execs" -> recorder.execs.asScala.toSeq)
  }
}

/** The rule kernels a timed plan must still contain: if an action lets
  * Catalyst prune them (as `.count()` does on a projection), the timing
  * no longer covers rule evaluation.
  */
object PlanGuard {
  val kernels = Seq("sha2", "rlike")

  /** Kernels absent from the plan string (case-insensitive). */
  def missing(plan: String): Seq[String] = {
    val p = plan.toLowerCase
    kernels.filterNot(k => p.contains(k))
  }
}
