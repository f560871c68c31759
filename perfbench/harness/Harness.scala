package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One benchmark run inside one JVM, driven by a JSON config that
  * `perfbench/run.py` writes: cold setup (the JVM's one session start,
  * provisioning into the empty warehouse, untimed warm-up passes, the
  * first of which is the check execution of every query op), then timed
  * passes for `seconds`.
  *
  * The engine is reached only through its public entry points:
  * `GraftSession.local`, `SparkEntry.queries`/`oracleSql`, the
  * provisioning calls below and the four `graft.jobs.*.run`.
  *
  * Usage: Harness <config.json>. Writes `result` (JSON) and, when
  * traced, `trace.json` beside it.
  */
object Harness {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** A query op's construction: start and end (nanoTime), end (epoch ms). */
  final case class Construct(startNs: Long, endNs: Long, endMs: Long)
  /** An op; `run(spark, checkDir)` writes its result under `checkDir` when
    * given (the check execution), else to the noop sink, and returns its
    * construction interval when it builds a DataFrame.
    */
  final case class Op(name: String, run: (SparkSession, Option[String]) => Option[Construct])
  final case class OpSample(name: String, wallMs: Double, ok: Boolean)
  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
                        ops: Seq[OpSample], layers: Map[String, Double])

  /** Provisioning calls the workloads make, by `graft.Bench`'s step names. */
  def provisioning(sf: String): Map[String, SparkSession => Unit] = Map(
    "zoned_shipdate" -> (s => { graft.queries.Layout.ensureShipdateZoned(s, sf); () }))

  def main(args: Array[String]): Unit = {
    val code = try run(new ObjectMapper().readTree(new File(args(0)))) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        2
    }
    sys.exit(code)
  }

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def run(cfg: JsonNode): Int = {
    val workload = cfg.get("workload").asText
    val kind = cfg.get("kind").asText
    val runDir = cfg.get("run_dir").asText
    val seconds = cfg.get("seconds").asDouble
    val traced = cfg.get("trace").asBoolean
    val minPasses = cfg.get("min_passes").asInt
    val cores = cfg.get("cores").asInt
    val rng = new scala.util.Random(cfg.get("seed").asLong)
    val sf = cfg.get("sf_dir").asText

    val (ops, oracle) = kind match {
      case "queries" => resolveQueries(workload, strings(cfg.get("ops")), sf)
      case "etl" => (etlOps(cfg.get("etl")), Map.empty[String, String])
    }
    println(s"[perfbench] $workload: ${ops.size} ops resolved")
    val steps = strings(cfg.get("provision")).map { n =>
      n -> provisioning(sf).getOrElse(n, sys.error(s"unknown provisioning step $n"))
    }

    val t0 = System.nanoTime()
    val spans = new Spans(t0)
    val runSpan = spans.open(-1, "run", workload)
    val tracer = new Tracer

    /** One op: construct, then execute. */
    def runOp(spark: SparkSession, op: Op, parent: Int, trace: Boolean,
              check: Option[String]): OpSample = {
      val span = spans.open(parent, "op", op.name)
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      val construct = try Right(op.run(spark, check)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        Left(e)
      }
      val end = System.nanoTime()
      val wall = end - start
      spans.close(span)
      val Construct(c0, c1, constructEndMs) =
        construct.toOption.flatten.getOrElse(Construct(start, start, startMs))
      if (c1 > c0) spans.add(span.id, "construct", op.name, c0, c1)
      spans.add(span.id, "execute", op.name, c1, end)
      if (trace) {
        org.apache.spark.perfbench.Drain(spark.sparkContext)
        opLayers += OpLayers(wall / 1e6, (c1 - c0) / 1e6, startMs, constructEndMs, tracer.harvest())
      }
      OpSample(op.name, wall / 1e6, construct.isRight)
    }

    val passCount = mutable.Map.empty[String, Int]
    def pass(spark: SparkSession, kindName: String, trace: Boolean,
             check: Option[String] = None): Pass = {
      // the seed permutes query ops; the ETL jobs keep their order (their
      // seed generates the inputs instead)
      val order = if (kind == "queries") rng.shuffle(ops) else ops
      if (trace) tracer.attach(spark)
      opLayers.clear()
      val n = passCount.getOrElse(kindName, 0)
      passCount(kindName) = n + 1
      val span = spans.open(runSpan.id, kindName, s"$kindName-$n")
      val c0 = osBean.getProcessCpuTime
      val p0 = System.nanoTime()
      val samples = order.map(op => runOp(spark, op, span.id, trace, check))
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      spans.close(span)
      if (trace) tracer.detach(spark)
      Pass(trace, wall, cpu, samples, if (trace) passLayers(cores) else Map.empty)
    }

    // ---- setup, from JVM start to the first timed op: the JVM's one
    // (cold) session start into the empty warehouse run.py names, cold
    // provisioning, then the untimed warm-up passes
    val s0 = System.nanoTime()
    val spark = spans.timed(runSpan.id, "setup-call", "session.start") { _ =>
      GraftSession.local("perfbench")
    }
    val sessionMs = (System.nanoTime() - s0) / 1e6
    if (traced) tracer.attach(spark)
    var setupOk = true
    val provisionCalls = steps.map { case (name, step) =>
      val c0 = System.nanoTime()
      try spans.timed(runSpan.id, "setup-call", s"provision.$name") { _ => step(spark) }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] provisioning $name failed: $e"); setupOk = false
      }
      (name, (System.nanoTime() - c0) / 1e6)
    }
    if (traced) { org.apache.spark.perfbench.Drain(spark.sparkContext); tracer.detach(spark) }
    tracer.harvest()
    // untimed warm-up passes; for the query workloads the first one is the
    // check execution: each op once more, its result kept for the oracle
    val checkDir = s"$runDir/check"
    new File(checkDir).mkdirs()
    val warm = (0 until cfg.get("warmup_passes").asInt).map { i =>
      pass(spark, "warmup", trace = false,
        check = if (kind == "queries" && i == 0) Some(checkDir) else None)
    }
    if (!warm.drop(if (kind == "queries") 1 else 0).forall(_.ops.forall(_.ok))) setupOk = false
    val (whBytes, whFiles) = dirSize(new File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")))
    val setupMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- timed passes; a traced run alternates traced and untraced passes
    val tm0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - tm0) / 1e9 < seconds) {
      val trace = traced && passes.size % 2 == 0
      passes += pass(spark, "pass", trace)
    }

    if (kind == "queries")
      Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
        oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}"))
    spans.close(runSpan)
    spark.stop()

    val out = new StringBuilder
    out ++= "{"
    out ++= s""""workload":${q(workload)},"ops":${ops.size},"setup_ok":$setupOk,"""
    out ++= s""""setup_ms":$setupMs,"session_start_ms":$sessionMs,"""
    out ++= provisionCalls.map { case (n, ms) => s"${q(n)}:$ms" }.mkString("\"provision_calls\":{", ",", "},")
    out ++= s""""warehouse_bytes":$whBytes,"warehouse_files":$whFiles,"""
    out ++= s""""peak_rss_mb":${peakRssMb()},"""
    out ++= passes.map { p =>
      val samples = p.ops.map(o =>
        s"""{"name":${q(o.name)},"wall_ms":${o.wallMs},"ok":${o.ok}}""")
      val layers = p.layers.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      s"""{"traced":${p.traced},"wall_s":${p.wallS},"cpu_s":${p.cpuS},"ops":${samples.mkString("[", ",", "]")},"layers":$layers}"""
    }.mkString("\"passes\":[", ",\n", "],")
    out ++= (if (kind == "queries") warm.headOption.map(_.ops).getOrElse(Nil) else Nil).map(o => s"${q(o.name)}:${o.ok}")
      .mkString("\"checks\":{", ",", "}")
    out ++= "}\n"
    Files.writeString(Paths.get(cfg.get("result").asText), out.toString)
    if (traced) Files.writeString(Paths.get(s"$runDir/trace.json"), spans.toJson)
    0
  }

  private val passes = mutable.ArrayBuffer.empty[Pass]
  private final case class OpLayers(wallMs: Double, constructMs: Double,
                                    startMs: Long, constructEndMs: Long, layers: Layers)
  private val opLayers = mutable.ArrayBuffer.empty[OpLayers]

  /** Per-pass layer sums over the traced ops just run. */
  private def passLayers(cores: Int): Map[String, Double] = {
    val ls = opLayers.map(_.layers)
    def sum(f: Layers => Double) = ls.map(f).sum
    val inJob = ls.map(_.inJobMs()).sum
    // jobs submitted after construction ended belong to execution
    val execInJob = opLayers.map(o => o.layers.inJobMs(o.constructEndMs + 1)).sum
    val constructJobs = opLayers.map(o =>
      o.layers.jobIntervals.count(j => j._1 >= o.startMs && j._1 <= o.constructEndMs)).sum
    val wall = opLayers.map(_.wallMs).sum
    val construct = opLayers.map(_.constructMs).sum
    val streamOps = opLayers.filter(_.layers.streamQueries > 0)
    val mb = 1024.0 * 1024.0
    Map(
      "queries.construct_ms" -> construct,
      "queries.construct_jobs" -> constructJobs.toDouble,
      "plans.analysis_ms" -> sum(_.analysisMs),
      "plans.optimization_ms" -> sum(_.optimizationMs),
      "plans.planning_ms" -> sum(_.planningMs),
      "plans.executions" -> sum(_.executions.toDouble),
      "spark.jobs" -> sum(_.jobs.toDouble),
      "spark.stages" -> sum(_.stages.toDouble),
      "spark.tasks" -> sum(_.tasks.toDouble),
      "spark.in_job_ms" -> inJob,
      "spark.driver_gap_ms" -> (wall - construct - execInJob),
      "operators.task_run_ms" -> sum(_.taskRunMs),
      "operators.task_cpu_ms" -> sum(_.taskCpuMs),
      "operators.task_gc_ms" -> sum(_.taskGcMs),
      "operators.core_busy" -> (if (inJob > 0) sum(_.taskRunMs) / (inJob * cores) else 0.0),
      "operators.shuffle_write_mb" -> sum(_.shuffleWriteBytes / mb),
      "operators.shuffle_read_mb" -> sum(_.shuffleReadBytes / mb),
      "operators.spill_mb" -> sum(_.spillBytes / mb),
      "io.scan_mb" -> sum(_.scanBytes / mb),
      "io.scan_rows" -> sum(_.scanRows.toDouble),
      "io.write_mb" -> sum(_.writeBytes / mb),
      "io.load_ms" -> sum(_.loadMs),
      "streaming.queries" -> sum(_.streamQueries.toDouble),
      "streaming.batches" -> sum(_.batches.toDouble),
      "streaming.trigger_ms" -> sum(_.triggerMs),
      "streaming.add_batch_ms" -> sum(_.addBatchMs),
      "streaming.query_planning_ms" -> sum(_.queryPlanningMs),
      "streaming.wal_commit_ms" -> sum(_.walCommitMs),
      "streaming.commit_offsets_ms" -> sum(_.commitOffsetsMs),
      "streaming.start_stop_ms" -> streamOps.map(o => o.wallMs - o.layers.triggerMs).sum,
      "streaming.input_rows" -> sum(_.inputRows.toDouble),
      "streaming.state_rows" -> sum(_.stateRows.toDouble))
  }

  /** Resolve the frozen query names; a missing name or oracle aborts. */
  def resolveQueries(workload: String, names: Seq[String], sf: String)
      : (Seq[Op], Map[String, String]) = {
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = names.filterNot(fns.contains)
    val noOracle = names.filter(fns.contains).filterNot(oracle.contains)
    if (missing.nonEmpty || noOracle.nonEmpty)
      throw new IllegalStateException(
        s"workload $workload: not in SparkEntry.queries: ${missing.mkString(",")}; " +
          s"no oracleSql entry: ${noOracle.mkString(",")}")
    val sfOps = names.map { n =>
      val fn = fns(n)
      Op(n, (spark, check) => {
        val c0 = System.nanoTime()
        val df: DataFrame = fn(spark, sf)
        val built = Construct(c0, System.nanoTime(), System.currentTimeMillis())
        // noop sink: every output column through the full plan, nothing
        // collected (the engine's own bench discipline)
        try check match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
        } finally dropStreamViews(spark)
        Some(built)
      })
    }
    (sfOps, names.map(n => n -> oracle(n)).toMap)
  }

  /** The four ETL jobs on the generated inputs; each pass overwrites
    * the same output directories.
    */
  def etlOps(etl: JsonNode): Seq[Op] = {
    val out = etl.get("out").asText
    def job(name: String)(body: (SparkSession, String) => Unit): Op =
      Op(name, (spark, _) => { body(spark, s"$out/$name"); None })
    val research = etl.get("research").elements().asScala
      .map(p => (p.get(0).asText, p.get(1).asText)).toSeq
    Seq(
      job("cases_time")((s, o) => graft.jobs.CasesTimeAnalysis.run(s, etl.get("cases").asText, o)),
      job("clinical")((s, o) => graft.jobs.ClinicalAnalysis.run(s, etl.get("clinical").asText, o)),
      job("research")((s, o) => graft.jobs.ResearchChallengeAnalysis.run(s, research, o)),
      job("radiography")((s, o) =>
        graft.jobs.RadiographyAnalysis.run(s, etl.get("radiography").asText, o)))
  }

  /** Streaming ops leave their memory-sink view behind; drop it so
    * earlier results do not pile up on the heap.
    */
  def dropStreamViews(spark: SparkSession): Unit =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))

  def dirSize(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else {
      val files = Files.walk(dir.toPath).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  /** Peak resident memory (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
