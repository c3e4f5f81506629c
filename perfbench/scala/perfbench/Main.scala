package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.perfbench.Bus
import graft.SparkEntry
import graft.queries._

/** One operation of a workload: a query or a DAG layer. `construct`
  * calls the program's public constructor (which may land eager
  * Materialize boundaries); `act` runs the final action on its frames
  * and returns the bytes it landed; `prep` lands inputs the benchmark
  * itself builds, untimed, before the operation. */
final case class Op(name: String, group: String,
    construct: () => Seq[(String, DataFrame)],
    act: Seq[(String, DataFrame)] => Long,
    prep: () => Unit = () => ())

/** The benchmark's JVM side. Sets the session up; for the query
  * workload runs every query once untimed (the warm pass, which also
  * writes the results the oracle check reads); then runs the operation list in a closed loop, one
  * operation at a time, until the measuring time is spent. Writes one
  * JSON result file (and, traced, a span file); `perfbench/run.py`
  * turns it into the reported metrics.
  *
  * Arguments (all `--key value`): workload (`dag`, or any other value
  * for the query workload), data, ops (comma list of query names),
  * seconds, trace (0|1), seed, run (scratch dir for landings), check
  * (query results dir), out (result file), min-passes (timed passes at
  * least, default 1), churn-ceiling (DAG only). */
object Main {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3
  private def nowS: Double = System.nanoTime() / 1e9
  /** Time spent in Catalyst rule executors (analyzer, optimizer), JVM-wide. */
  private def ruleS: Double =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time / 1e9

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => scala.util.Try(Files.size(f)).getOrElse(0L)).sum
      finally s.close()
    }
  }

  private def loadavg: String = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim finally src.close()
  }.getOrElse("")

  /** (steal, total) jiffies of all CPUs: time the hypervisor ran
    * other guests while this VM had work. */
  private def cpuTicks: (Long, Long) = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    (f.lift(7).getOrElse(0L), f.sum)
  }.getOrElse((0L, 0L))

  private def peakRssMb: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toDouble / 1024 finally src.close()
  }.getOrElse(Double.NaN)

  /** Query name → the query family (the `queries` object) that owns it. */
  val families: Map[String, String] = Seq(
    "relational" -> RelationalQueries.queries, "domain" -> DomainQueries.queries,
    "text" -> TextQueries.queries, "vector" -> VectorQueries.queries,
    "works" -> WorksQueries.queries, "ingest" -> IngestQueries.queries,
    "entity" -> EntityQueries.queries, "award" -> AwardQueries.queries,
    "pipeline" -> PipelineQueries.queries, "topicapi" -> TopicApiQueries.queries,
    "snapshot" -> SnapshotQueries.queries,
    "funderingest" -> FunderIngestQueries.queries)
    .flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap

  def session(runDir: String): SparkSession = {
    val spark = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.ArrayDotProduct.register(spark)
    graft.plans.CharHash.register(spark)
    graft.plans.SortedIntersectCount.register(spark)
    graft.plans.RLikeCached.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data"); val runDir = a("run")
    val seconds = a("seconds").toDouble
    val minPasses = a.getOrElse("min-passes", "1").toInt
    val traced = a("trace") == "1"
    val tmp = System.getProperty("java.io.tmpdir")
    Codegen.install()
    val load0 = loadavg

    // set-up: JVM start, session start, native registration and a scan
    // of every input; for the query workload also the warm pass below
    def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val churnCeiling = a.getOrElse("churn-ceiling", "0").toLong
    val jvmStartS = uptimeS
    val spark = session(runDir)
    val sessionS = uptimeS - jvmStartS
    val tScan = nowS
    if (workload == "dag") {
      new Dag(spark, data, s"$runDir/scan", churnCeiling).raw.count()
      Seq("id_map", "sources", "author_registry", "institutions")
        .foreach(n => spark.read.parquet(s"$data/$n.parquet").count())
    } else graft.core.Tables.names.foreach(n => graft.core.Tables(spark, data, n).count())
    val scanS = nowS - tScan
    val sc = spark.sparkContext

    val out = s"$runDir/out"
    var guardFailures: Seq[String] = Nil
    /** The operations; `check` makes the query actions write their
      * results for the oracle instead of discarding them. */
    def opsFor(check: Boolean): (Seq[Op], Dag) = workload match {
      case "dag" =>
        val dag = new Dag(spark, data, out, churnCeiling)
        val ops = dag.layers.map { case (name, build) =>
          Op(name, name, build, outs => {
            outs.foreach { case (n, df) => graft.core.Materialize.parquet(df, s"$out/$n") }
            if (name == "serve") guardFailures = dag.export().map(_.name)
            outs.map { case (n, _) => dirBytes(s"$out/$n") }.sum +
              (if (name == "serve") dirBytes(s"$out/export") else 0L)
          }, prep = () =>
            if (name == "entities") graft.core.Materialize.parquet(dag.enriched, s"$out/enriched"))
        }
        (ops, dag)
      case _ =>
        val names = a("ops").split(",").toSeq
        (names.map { n =>
          Op(n, families.getOrElse(n, "unknown"),
            () => Seq("result" -> SparkEntry.queries(n)(spark, data)),
            outs => {
              outs.foreach { case (_, df) =>
                if (check) df.coalesce(1).write.mode("overwrite").parquet(s"${a("check")}/$n")
                else df.write.format("noop").mode("overwrite").save()
              }
              0L
            })
        }, null)
    }

    val failures = mutable.Map.empty[String, String]
    val rec = new Recorder(s"$workload-${a.getOrElse("seed", "0")}")
    val opCpu = mutable.Map.empty[Int, Double]
    /** Run one operation; returns (ok, bytes landed). Traced, it opens
      * op → construct/action spans and drains the listener bus at each
      * boundary so every event lands under the span that caused it. */
    def runOp(op: Op, parent: Span): (Boolean, Long) = {
      val traced = parent != null
      val c0 = cpuS
      val opSpan = if (traced) rec.open(op.name, "op", parent) else null
      def phase[T](kind: String)(body: Span => T): T = {
        val span = if (traced) rec.open(kind, kind, opSpan) else null
        rec.current = span
        val (g0, t0, r0) = if (traced) (gcS, dirBytes(tmp), ruleS) else (0.0, 0L, 0.0)
        try body(span) finally if (traced) {
          span.add("gc_s", gcS - g0)
          span.add("rule_s", ruleS - r0)
          span.add("landed_bytes", (dirBytes(tmp) - t0).toDouble)
          rec.close(span); Bus.drain(sc)
          rec.current = null
        }
      }
      val t0 = dirBytes(tmp)
      var landed = 0L
      val ok = try {
        val built = phase("construct")(_ => op.construct())
        landed = phase("action") { span =>
          val b = op.act(built)
          if (span != null) span.add("landed_bytes", b.toDouble)
          b
        }
        true
      } catch {
        case e: Throwable =>
          failures.getOrElseUpdate(op.name,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          false
      }
      if (traced) { rec.close(opSpan); opCpu(opSpan.id) = cpuS - c0 }
      val leaked = sc.getPersistentRDDs.nonEmpty
      if (leaked) {
        failures.getOrElseUpdate(op.name, "left persistent RDDs behind")
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
      spark.catalog.clearCache()
      (ok && !leaked, landed + dirBytes(tmp) - t0)
    }

    // warm pass of the query workloads: every query once, untimed, on
    // the measured inputs (JIT, codegen cache, and the results the
    // oracle check reads). The DAG runs as a night does: its first pass
    // in a fresh JVM is the measured one.
    val tWarm = nowS
    if (workload != "dag") opsFor(check = true)._1.foreach { op => op.prep(); runOp(op, null) }
    val warmS = nowS - tWarm
    val setupS = uptimeS
    val (ops, dag) = opsFor(check = false)
    if (traced) {
      sc.addSparkListener(rec.listener)
      spark.listenerManager.register(rec.queryListener)
    }
    val runSpan = if (traced) rec.open("run", "run", null) else null
    val cg0 = Codegen.snapshot
    val ticks0 = cpuTicks
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tStart = nowS
    do {
      var passLanded = 0L
      val times = ops.map { op =>
        scala.util.Try(op.prep()).failed.foreach(e => failures.getOrElseUpdate(op.name,
          s"input step: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
        if (traced) Bus.drain(sc)
        val t = nowS; val c = cpuS
        val (ok, landed) = runOp(op, runSpan)
        passLanded += landed
        Map("name" -> op.name, "s" -> (nowS - t), "cpu_s" -> (cpuS - c), "ok" -> ok)
      }
      passes += Map("landed_bytes" -> passLanded, "ops" -> times)
    } while (nowS - tStart < seconds || passes.size < minPasses)
    val runWall = nowS - tStart
    if (traced) rec.close(runSpan)
    val cg1 = Codegen.snapshot
    val ticks1 = cpuTicks
    val load1 = loadavg

    // correctness inputs, outside the timed region
    val tCheck = nowS
    val outcome: Map[String, Double] =
      if (workload == "dag") dag.outcome()
      else {
        Files.createDirectories(Paths.get(a("check")))
        Files.writeString(Paths.get(s"${a("check")}/oracle_sql.json"),
          Json.obj(ops.map(o => o.name -> SparkEntry.oracleSql.getOrElse(o.name, null))))
        Map.empty
      }

    val layers: Map[String, Double] =
      if (traced) perLayer(rec, ops, opCpu.toMap, cg1 - cg0, cg1.fallbacks - cg0.fallbacks)
      else Map.empty
    val result = Seq(
      "workload" -> workload, "setup_s" -> setupS, "jvm_start_s" -> jvmStartS,
      "session_s" -> sessionS, "scan_s" -> scanS, "warm_s" -> warmS,
      "passes" -> passes.toSeq,
      "failures" -> failures.toMap, "guard_failures" -> guardFailures,
      "outcome" -> outcome, "layers" -> layers, "peak_rss_mb" -> peakRssMb,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "steal_share" -> (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "run_wall_s" -> runWall, "check_s" -> (nowS - tCheck),
      "jvm_uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    Files.writeString(Paths.get(a("out")), Json.obj(result))
    if (traced) Files.writeString(Paths.get(a("out") + ".spans.json"), rec.spansJson)
    spark.stop()
  }

  /** Per-layer sums of a traced run (see perfbench/README.md). */
  def perLayer(rec: Recorder, ops: Seq[Op], opCpu: Map[Int, Double],
      compileS: Double, fallbacks: Long): Map[String, Double] = {
    val spans = rec.spans.toSeq
    val byKind = spans.groupBy(_.kind).withDefaultValue(Nil)
    def sum(kind: String, k: String) = byKind(kind).map(_.acc(k)).sum
    def wall(kind: String) = byKind(kind).map(_.dur).sum / 1e3
    val actionIds = byKind("action").map(_.id).toSet
    val skews = rec.skews.collect { case (id, xs) if actionIds(id) => xs }.flatten
    val m = mutable.LinkedHashMap[String, Double](
      "construct.wall_s" -> wall("construct"),
      "construct.jobs" -> sum("construct", "jobs"),
      "construct.landed_bytes" -> sum("construct", "landed_bytes"),
      "construct.task_cpu_s" -> sum("construct", "task_cpu_s"),
      // a constructor's frames are analysed eagerly but never executed
      // as themselves, so no planning tracker sees that analysis: it is
      // the rule time spent in construct minus the tracked analysis and
      // optimisation of the queries the constructor ran (its landings),
      // which are added once, from the tracker
      "catalyst.analysis_s" -> (byKind("construct").map(s => math.max(0.0,
        s.acc("rule_s") - s.acc("analysis_s") - s.acc("optimization_s"))).sum +
        sum("construct", "analysis_s") + sum("action", "analysis_s")),
      "catalyst.optimization_s" ->
        (sum("construct", "optimization_s") + sum("action", "optimization_s")),
      "catalyst.planning_s" -> (sum("construct", "planning_s") + sum("action", "planning_s")),
      "exec.wall_s" -> wall("action"),
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "codegen.compile_s" -> compileS,
      "codegen.fallbacks" -> fallbacks.toDouble)
    Seq("task_cpu_s", "task_run_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
      "spill_bytes", "jobs", "stages", "tasks", "failed_tasks", "scheduler_delay_s",
      "fetch_wait_s").foreach(k => m(s"exec.$k") = sum("action", k))
    val group = ops.map(o => o.name -> o.group).toMap
    val kids = spans.groupBy(_.parent)
    byKind("op").groupBy(s => group(s.name)).foreach { case (g, opSpans) =>
      val layerSpans = opSpans.flatMap(s => kids.getOrElse(s.id, Nil))
      // a DAG layer is its own group (`ingest.*`); queries group by family
      val prefix = if (ops.exists(_.name == g)) g else s"family.$g"
      m(s"$prefix.wall_s") = opSpans.map(_.dur).sum / 1e3
      m(s"$prefix.cpu_s") = opSpans.map(s => opCpu.getOrElse(s.id, 0.0)).sum
      m(s"$prefix.task_cpu_s") = layerSpans.map(_.acc("task_cpu_s")).sum
      m(s"$prefix.shuffle_bytes") = layerSpans.map(_.acc("shuffle_write_bytes")).sum
      m(s"$prefix.landed_bytes") = layerSpans.map(_.acc("landed_bytes")).sum
      m(s"$prefix.jobs") = layerSpans.map(_.acc("jobs")).sum
    }
    val self = rec.selfTimes
    m("trace.layer_self_s") = spans.filter(s => Set("op", "construct", "action")(s.kind))
      .map(s => self(s.id)).sum / 1e3
    m("trace.run_wall_s") = spans.find(_.kind == "run").map(_.dur / 1e3).getOrElse(0.0)
    m.toMap
  }
}
