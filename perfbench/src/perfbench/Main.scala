package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{Config, Notifier, Pipeline, Sessions, SparkEntry, Tables}
import graft.io.{JsonArraySource, ParquetSource}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. Drives the program through its public entry
  * points only (`Pipeline.run`, `Config.parseTenants`,
  * `SparkEntry.queries`) from one calling thread — a closed loop with
  * one client — and writes what it measured, plus the outputs the
  * Python checker verifies, as one JSON file.
  *
  * usage: Main <workload> <manifest.json> <seconds> <trace 0|1> <out.json>
  */
object Main {

  /** Registry rows timed by the `registry` workload: oracle-gated, every
    * ops module represented, no stream rows. Why each is in the set is
    * in the benchmark README.
    */
  val RegistryRows: Seq[String] = Seq(
    "merge_firstmatch", "q_json_quarantine", "q1_agg", "q6_forecast", "q_events_session",
    "text_stats", "dedup_simhash", "sim_topk_brute", "mm_decode")

  /** The module of each registry row, from each module's public list. */
  lazy val moduleOf: Map[String, String] = Seq(
    "merge" -> graft.ops.MergeQueries.queries,
    "pipeline" -> graft.ops.PipelineQueries.queries,
    "relational" -> graft.ops.RelationalOps.queries,
    "tpch" -> graft.ops.TpchOps.queries,
    "event" -> graft.ops.EventOps.queries,
    "text" -> graft.ops.TextOps.queries,
    "dedup" -> graft.ops.DedupOps.queries,
    "similarity" -> graft.ops.SimilarityOps.queries,
    "multimodal" -> graft.ops.MultimodalOps.queries,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  private val mapper = new ObjectMapper()
  private val cores = Runtime.getRuntime.availableProcessors()

  /** The settings `graft.Bench` gives its own session. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.requireAqe(spark)
    spark
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Records the program's notifications of one `Pipeline.run`. */
  final class Capture extends Notifier {
    val messages = mutable.ArrayBuffer.empty[String]
    def notify(text: String): Unit = messages += text
    /** The sample ids of the unmatched report, if one was sent. */
    def unmatchedSample: Seq[Long] =
      messages.collectFirst { case Capture.Sample(ids) => ids }.toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong))
  }
  object Capture { val Sample = """(?s)Unmatched .* records: \d+; sample ids: ([0-9, ]*).*""".r }

  // ── the per-op and per-round records ───────────────────────────────

  final case class Op(name: String, round: Int, seconds: Double, ok: Boolean,
      check: Map[String, Any], layers: Map[String, Double])

  final case class Round(wall: Double, cpu: Double, rows: Long, parseS: Double)

  trait Workload {
    /** The untimed warm-up of a set-up; `first` on the run's first set-up. */
    def warm(spark: SparkSession, first: Boolean): Unit
    /** Untimed rounds between the set-ups and the timed section: the
      * JIT is still compiling the driver's hot paths after the set-ups,
      * and timed rounds on that slope vary most from run to run.
      */
    def settleRounds: Int = 1
    /** One round of operations; `ops` receives each finished operation. */
    def round(spark: SparkSession, k: Int, tracer: Option[Tracer], ops: Op => Unit): (Long, Double)
    /** What the checker needs beyond the operations' own records. */
    def checks: Map[String, Any] = Map.empty
  }

  /** Additive layer numbers of one span; the checker side takes medians
    * (etl) or per-round sums (registry) and derives `engine.slot_util`.
    */
  private def layers(a: Acc, startMs: Long, endMs: Long, inputFileBytes: Long): Map[String, Double] =
    Map(
      "io.read_amplification" -> a.inputBytes.toDouble / inputFileBytes,
      "io.input_mb" -> a.inputBytes / 1e6,
      "io.infer_s" -> a.fileJobS("Sources.scala"),
      "io.csv_s" -> a.fileJobS("CsvSink.scala"),
      "merge.report_s" -> a.fileJobS("MergeOps.scala"),
      "merge.report_jobs" -> a.fileJobs("MergeOps.scala").toDouble,
      "pipeline.jobs" -> a.jobs.toDouble,
      "pipeline.stages" -> a.stages.toDouble,
      "pipeline.tasks" -> a.tasks.toDouble,
      "pipeline.outside_jobs_s" ->
        (math.max(endMs - startMs, 0L) - a.coveredMs(startMs, endMs)) / 1e3,
      "plan.analysis_s" -> a.analysisMs / 1e3,
      "plan.optimization_s" -> a.optimizationMs / 1e3,
      "plan.planning_s" -> a.planningMs / 1e3,
      "engine.task_s" -> a.taskMs / 1e3,
      "engine.task_cpu_s" -> a.taskCpuNs / 1e9,
      "engine.gc_s" -> a.gcMs / 1e3,
      "engine.shuffle_write_mb" -> a.shuffleWriteBytes / 1e6,
      "engine.shuffle_read_mb" -> a.shuffleReadBytes / 1e6,
      "engine.spill_mb" -> a.spillBytes / 1e6)

  private def fileReport(a: Acc): Map[String, Any] =
    (a.jobsByFile.keySet ++ a.workByFile.keySet ++ a.planByFile.keySet).toSeq.sorted.map { f =>
      val (jobs, jobMs) = a.jobsByFile(f)
      val (stages, tasks, taskMs, in) = a.workByFile(f)
      f -> Map("jobs" -> jobs, "job_s" -> jobMs / 1e3, "stages" -> stages,
        "tasks" -> tasks, "task_s" -> taskMs / 1e3, "input_mb" -> in / 1e6,
        "plan_s" -> a.planByFile(f) / 1e3)
    }.toMap

  /** Runs one `Pipeline.run` as an operation. */
  private def pipelineOp(spark: SparkSession, spec: Pipeline.PipelineSpec, notifier: Capture,
      name: String, k: Int, tracer: Option[Tracer], fileBytes: Long, primary: String,
      secondary: String, rows: Long, ops: Op => Unit): Long = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = Pipeline.run(spark, spec, notifier)
    val dt = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val spanLayers = tracer.map { t =>
      BusDrain(spark.sparkContext)
      val a = t.take()
      total.add(a)
      layers(a, startMs, endMs, fileBytes)
    }.getOrElse(Map.empty)
    val check: Map[String, Any] = res match {
      case Right(r) => Map("csv" -> r.csvPath.toString, "merged_rows" -> r.mergedRows,
        "unmatched" -> r.unmatchedRows, "sample" -> notifier.unmatchedSample,
        "primary" -> primary, "secondary" -> secondary)
      case Left(e) => Map("error" -> s"${e.stage}: ${e.message}")
    }
    ops(Op(name, k, dt, res.isRight, check, spanLayers))
    if (res.isRight) rows else 0L
  }

  /** Every traced span's counters, for the per-file report. */
  private val total = new Acc

  private def size(p: String): Long = Files.size(Paths.get(p))

  final class EtlLarge(m: Manifest, out: String) extends Workload {
    private val schema = StructType(m.primaryCols.map { case (c, t) => StructField(c, sqlType(t)) })
    private def spec(tag: String, file: String) = Pipeline.PipelineSpec(
      primary = JsonArraySource(m.str(tag, "primary"), Some(schema)),
      secondary = ParquetSource(m.str(tag, "secondary")),
      key = "id", destDir = s"$out/$tag", destFile = file)
    def warm(spark: SparkSession, first: Boolean): Unit =
      Pipeline.run(spark, spec("warm", "merged.csv"), new Capture)
      .left.foreach(e => throw new IllegalStateException(s"warm-up failed: $e"))
    def round(spark: SparkSession, k: Int, tracer: Option[Tracer], ops: Op => Unit): (Long, Double) = {
      val bytes = size(m.str("main", "primary")) + size(m.str("main", "secondary"))
      (pipelineOp(spark, spec("main", s"merged_$k.csv"), new Capture, "pipeline_run", k, tracer,
        bytes, m.str("main", "primary"), m.str("main", "secondary"),
        m.num("main", "primary_rows"), ops), 0.0)
    }
  }

  final class EtlTenants(m: Manifest, out: String) extends Workload {
    private val template = new String(Files.readAllBytes(Paths.get(m.str("config"))), "UTF-8")
    private val warmConfig = new String(Files.readAllBytes(Paths.get(m.str("warm_config"))), "UTF-8")
    private val tenants = m.tenants
    override def settleRounds: Int = 4
    def warm(spark: SparkSession, first: Boolean): Unit =
      Config.parseTenants(warmConfig.replace("{OUT}", s"$out/warm")).foreach {
        case Right(t) => Pipeline.run(spark, t.toSpec, new Capture)
          .left.foreach(e => throw new IllegalStateException(s"warm-up failed: $e"))
        case Left(e) => throw new IllegalStateException(s"warm config invalid: $e")
      }
    def round(spark: SparkSession, k: Int, tracer: Option[Tracer], ops: Op => Unit): (Long, Double) = {
      val text = template.replace("{OUT}", s"$out/r$k")
      val t0 = System.nanoTime()
      val parsed = Config.parseTenants(text)
      val parseS = (System.nanoTime() - t0) / 1e9
      var rows = 0L
      parsed.foreach {
        case Right(t) =>
          val info = tenants(t.name)
          rows += pipelineOp(spark, t.toSpec, new Capture, t.name, k, tracer,
            size(info("primary").toString), info("primary").toString,
            info("secondary").toString, info("primary_rows").toString.toLong, ops)
        case Left((name, err)) =>
          ops(Op(name, k, 0.0, ok = false, Map("error" -> err), Map.empty))
      }
      (rows, parseS)
    }
  }

  final class Registry(m: Manifest, out: String) extends Workload {
    private val dir = m.str("dir")
    private val queries = SparkEntry.queries
    private val tableBytes = Tables.names.map(t => size(s"$dir/$t.parquet")).sum
    override def settleRounds: Int = 3

    /** Each row once on the timed tables. The first set-up writes each
      * result for the oracle check (the timed runs write to the noop
      * sink); the others write to the noop sink as the timed runs do.
      */
    def warm(spark: SparkSession, first: Boolean): Unit = RegistryRows.foreach { n =>
      val df = queries(n)(spark, dir)
      if (first) df.repartition(1).write.mode("overwrite").parquet(s"$out/results/$n")
      else df.write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }

    def round(spark: SparkSession, k: Int, tracer: Option[Tracer], ops: Op => Unit): (Long, Double) = {
      RegistryRows.foreach { n =>
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var ok = true
        var err = ""
        var build: Option[Acc] = None
        var buildS = 0.0
        try {
          val df = queries(n)(spark, dir)
          buildS = (System.nanoTime() - t0) / 1e9
          build = tracer.map { t => BusDrain(spark.sparkContext); t.take() }
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => ok = false; err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val dt = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        spark.catalog.clearCache()
        val spanLayers = tracer.map { t =>
          BusDrain(spark.sparkContext)
          val b = build.getOrElse(new Acc)
          val all = new Acc().add(b).add(t.take())
          total.add(all)
          layers(all, startMs, endMs, tableBytes) ++ Map(
            "registry.build_s" -> buildS,
            "registry.build_jobs" -> b.jobs.toDouble,
            "registry.exec_s" -> (dt - buildS),
            "registry.jobs" -> all.jobs.toDouble,
            s"registry.${moduleOf(n)}_s" -> dt)
        }.getOrElse(Map.empty)
        ops(Op(n, k, dt, ok, if (ok) Map.empty else Map("error" -> err), spanLayers))
      }
      (RegistryRows.size.toLong, 0.0)
    }

    override def checks: Map[String, Any] = {
      val oracle = SparkEntry.oracleSql
      Map("registry_results" -> RegistryRows.map(n =>
        n -> Map("path" -> s"$out/results/$n", "oracle" -> oracle(n))).toMap)
    }
  }

  private def sqlType(t: String): DataType = t match {
    case "BIGINT" => LongType
    case "DOUBLE" => DoubleType
    case "VARCHAR" => StringType
  }

  /** The generator's manifest, read with Jackson's tree model. */
  final class Manifest(path: String) {
    private val root = mapper.readTree(Files.readAllBytes(Paths.get(path)))
    def str(keys: String*): String = keys.foldLeft(root)(_.get(_)).asText()
    def num(keys: String*): Long = keys.foldLeft(root)(_.get(_)).asLong()
    def primaryCols: Seq[(String, String)] =
      root.get("primary_cols").elements().asScala.map(c => c.get(0).asText() -> c.get(1).asText()).toSeq
    def tenants: Map[String, Map[String, Any]] =
      (root.get("tenants").elements().asScala.toSeq :+ root.get("warm")).map { t =>
        t.get("name").asText() -> t.properties().asScala.map(e => e.getKey -> (e.getValue.asText(): Any)).toMap
      }.toMap
  }

  /** Loads every tenant's secondary into in-process Derby (the stand-in
    * for the reference's RDS), before any set-up is timed.
    */
  private def loadDerby(m: Manifest, work: String): Unit = {
    System.setProperty("derby.system.home", s"$work/derby")
    System.setProperty("derby.stream.error.file", s"$work/derby/derby.log")
    Files.createDirectories(Paths.get(s"$work/derby"))
    val conn = java.sql.DriverManager.getConnection("jdbc:derby:memory:perfbench;create=true", "app", "app")
    try m.tenants.values.foreach { t =>
      val table = t("table").toString
      val st = conn.createStatement()
      st.execute(s"""CREATE TABLE $table ("id" BIGINT, "cname" VARCHAR(64), "balance" DOUBLE, """ +
        """"segment" VARCHAR(32), "region" VARCHAR(32))""")
      st.close()
      val ins = conn.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?)")
      Files.readAllLines(Paths.get(t("tsv").toString)).asScala.foreach { line =>
        val f = line.split("\t", -1)
        def cell(i: Int): Option[String] = Option(f(i)).filter(_ != "\\N")
        cell(0) match { case Some(v) => ins.setLong(1, v.toLong); case None => ins.setNull(1, java.sql.Types.BIGINT) }
        cell(1) match { case Some(v) => ins.setString(2, v); case None => ins.setNull(2, java.sql.Types.VARCHAR) }
        cell(2) match { case Some(v) => ins.setDouble(3, v.toDouble); case None => ins.setNull(3, java.sql.Types.DOUBLE) }
        cell(3) match { case Some(v) => ins.setString(4, v); case None => ins.setNull(4, java.sql.Types.VARCHAR) }
        cell(4) match { case Some(v) => ins.setString(5, v); case None => ins.setNull(5, java.sql.Types.VARCHAR) }
        ins.addBatch()
      }
      ins.executeBatch()
      ins.close()
    } finally conn.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, manifestPath, secondsArg, traceArg, outPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val m = new Manifest(manifestPath)
    val work = Paths.get(outPath).getParent.toString
    val out = s"$work/out"
    if (workload == "etl_tenants") loadDerby(m, work)
    def make(): Workload = workload match {
      case "etl_large" => new EtlLarge(m, out)
      case "etl_tenants" => new EtlTenants(m, out)
      case "registry" => new Registry(m, out)
    }
    // set-up, three times: a fresh session plus the untimed warm-up; the
    // last session stays up for the timed section
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    (1 to 3).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      w = make()
      w.warm(spark, first = i == 1)
      setups += (System.nanoTime() - t0) / 1e9
    }
    (1 to w.settleRounds).foreach { i =>
      w.round(spark, -i, None, op =>
        if (!op.ok) throw new IllegalStateException(s"settle round failed: ${op.name} ${op.check}"))
    }
    val tracer = if (traced) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      BusDrain(spark.sparkContext)
      t.take()
      Some(t)
    } else None

    val ops = mutable.ArrayBuffer.empty[Op]
    val rounds = mutable.ArrayBuffer.empty[Round]
    val start = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      val (rows, parseS) = w.round(spark, k, tracer, ops += _)
      rounds += Round((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9, rows, parseS)
      k += 1
    }
    val timedWall = (System.nanoTime() - start) / 1e9

    val result = Map[String, Any](
      "workload" -> workload,
      "cores" -> cores,
      "setup_s" -> setups.toSeq,
      "timed_wall_s" -> timedWall,
      "rounds" -> rounds.map(r => Map("wall_s" -> r.wall, "cpu_s" -> r.cpu, "rows" -> r.rows,
        "parse_s" -> r.parseS)).toSeq,
      "ops" -> ops.map(o => Map("name" -> o.name, "round" -> o.round, "seconds" -> o.seconds,
        "ok" -> o.ok, "check" -> o.check, "layers" -> o.layers)).toSeq,
      "peak_rss_mb" -> peakRssMb()) ++ w.checks ++
      tracer.map(_ => "by_file" -> fileReport(total))
    Files.writeString(Paths.get(outPath), mapper.writeValueAsString(toJava(result)))
    spark.stop()
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }
}
