package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** The benchmark's JVM side: sets up a graft session over seeded tables,
  * runs one workload as a closed loop with one client, and writes raw
  * timings (and, when traced, spans and per-layer counters) to JSON files
  * that `perfbench/run.py` turns into metrics.
  *
  * Phases: set-up (JVM start until the session is ready and every table
  * is resolved), one cold pass in registry order that writes each op's
  * result for the output check, warm-up passes, then a steady window of
  * whole passes in a seeded op order.
  *
  * Usage: BenchMain --workload W --data DIR --work DIR --seconds S
  *   --trace 0|1 --seed N
  */
object BenchMain {

  val Workloads: Map[String, Seq[String]] = Map(
    // The reference's community-analytics surface: the README SQL over
    // commits, mails, Jira and pull requests, and the event-analytics
    // rows. Small interactive queries whose cost is the per-query floor
    // (construction, Catalyst, codegen, scheduling).
    "community" -> Seq(
      "q_commit_activity_component", "q_component_activity", "q_emails_no_reply",
      "q_component_activity_month", "q_distinct_users_per_window",
      "q_session_windows", "q_jira_tickets_per_month", "q_explode_files",
      "q_pull_request_stats", "q_email_threads",
      "q_funnel", "q_event_transitions", "q_hll_users", "q_cohort_retention",
      "q_asof_join", "q_sample_quota"),
    // The LLM-data-pipeline user: the dedup joins and the served stores,
    // built and appended in the cold pass, probed after.
    "pipeline" -> Seq(
      "q_dedup_minhash", "q_simjoin_prefix",
      "q_sim_ivfpq_incremental", "q_dedup_substr_served", "q_text_perplexity_served"))

  /** Unmeasured passes after the cold pass. Passes keep getting faster
    * while the JIT catches up, by 20-30% from the first of them to the
    * fifth; later passes stay within a few percent of each other. */
  val WarmupPasses = 4
  /** The steady window is at least this many passes and `--seconds` long,
    * so its median can set aside one pass slowed by the host or by a late
    * JIT compile. */
  val MinSteadyPasses = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val data = a("data")
    System.setProperty("graft.bench.storeRoot",
      Files.createDirectories(Paths.get(s"$work/stores")).toString)
    val spark = session(work)
    resolveTables(spark, data)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val result = new Run(spark, a("workload"), data, work, a("seconds").toDouble,
      a("trace") == "1", a("seed").toLong).execute()
    spark.stop()
    writeJson(s"$work/result.json", mutable.LinkedHashMap(("setup_s" -> setupS) +: result: _*))
  }

  def session(work: String): SparkSession = {
    // Seed Hadoop's FileSystem cache with the redirecting `file:` FS before
    // Spark creates one of its own.
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[TmpRedirectFs].getName)
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), conf)
    val spark = GraftSession
      .builder("graft-bench", Runtime.getRuntime.availableProcessors().toString)
      .config("spark.hadoop.fs.file.impl", classOf[TmpRedirectFs].getName)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def resolveTables(spark: SparkSession, data: String): Unit = {
    val t = Tables(spark, data)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem,
      t.documents, t.embeddings, t.events)
    ()
  }

  // ---- minimal JSON writer (maps, sequences, strings, numbers) ----------

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def writeJson(path: String, v: Any): Unit =
    Files.write(Paths.get(path), json(v).getBytes("UTF-8"))
}

/** One measured run of a workload. */
final class Run(spark: SparkSession, workload: String, data: String, work: String,
    seconds: Double, trace: Boolean, seed: Long) {
  import BenchMain._
  import Tracer.median

  private val ops = Workloads.getOrElse(workload,
    throw new IllegalArgumentException(s"unknown workload $workload"))
  private val cores = Runtime.getRuntime.availableProcessors()
  private val tracer = if (trace) new Tracer(spark) else null
  private val sc = spark.sparkContext

  private var attempted = 0
  private var failed = 0
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val host = mutable.ArrayBuffer.empty[(Double, Double)]
  private val gcPerPass = mutable.ArrayBuffer.empty[Double]
  private val storeBuild = mutable.LinkedHashMap.empty[String, Double]
  private var storeBuildTotal = 0.0

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Runs the workload; returns the raw record for `run.py`. */
  def execute(): Seq[(String, Any)] = {
    if (trace) tracer.install()
    // The cold pass writes every op's result for the output check.
    Files.createDirectories(Paths.get(s"$work/out"))
    val cold = pass(0, ops, check = true, countStores = trace)
    for (w <- 1 to WarmupPasses) pass(w, ops)
    val steady = mutable.ArrayBuffer.empty[(Int, Double)]
    val rng = new scala.util.Random(seed)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (steady.size < MinSteadyPasses || System.nanoTime() < deadline) {
      val p = 1 + WarmupPasses + steady.size
      steady += p -> pass(p, rng.shuffle(ops), steadySample = true)
    }

    val stores = storeSizes()
    val record = Seq(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "cold_s" -> cold, "pass_s" -> steady.map(_._2), "steady_passes" -> steady.map(_._1),
      "op_ms" -> samples,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "ops" -> ops, "oracle" -> ops.flatMap(o => SparkEntry.oracleSql.get(o).map(o -> _)).toMap,
      "store_mb" -> stores.values.map(_._1).sum / Tracer.MB,
      "host_others_cores" -> median(host.map(_._1).toSeq),
      "host_steal_cores" -> median(host.map(_._2).toSeq))
    if (!trace) record
    else {
      writeSpans(s"$work/spans.jsonl")
      record ++ Seq("per_layer" -> perLayer(cold, steady.toSeq, stores),
        "spans" -> s"$work/spans.jsonl")
    }
  }

  /** One pass over `order`; returns its wall time in seconds. */
  private def pass(idx: Int, order: Seq[String], steadySample: Boolean = false,
      check: Boolean = false, countStores: Boolean = false): Double = {
    val (b0, st0, s0) = cpuJiffies()
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    for (op <- order) {
      val before = if (countStores) storeSizes() else Map.empty[String, (Long, Int)]
      val ms = runOp(op, idx, check)
      if (steadySample) samples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
      if (countStores) {
        val built = storeSizes().collect {
          case (fam, (bytes, _)) if bytes != before.get(fam).map(_._1).getOrElse(0L) => fam
        }
        for (fam <- built) storeBuild(fam) = storeBuild.getOrElse(fam, 0.0) + ms / 1e3
        if (built.nonEmpty) storeBuildTotal += ms / 1e3
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (b1, st1, s1) = cpuJiffies()
    if (b0 >= 0 && b1 >= 0 && steadySample)
      host += ((((b1 - b0) - (s1 - s0)) / 100.0 / wall, (st1 - st0) / 100.0 / wall))
    if (steadySample) gcPerPass += (gcMs() - gc0) / 1e3
    wall
  }

  /** Runs one op (constructs its DataFrame, then executes it into the
    * no-op sink, or into parquet on the cold pass); returns milliseconds. */
  private def runOp(op: String, passIdx: Int, check: Boolean): Double = {
    attempted += 1
    val id = if (trace) tracer.newId() else 0L
    var c0, ct0 = 0L
    if (trace) {
      tracer.pass = passIdx
      tracer.op = id
      sc.setLocalProperty(Tracer.OpProp, id.toString)
      c0 = compiles(); ct0 = compileNs()
    }
    def phase(p: String): Unit = if (trace) sc.setLocalProperty(Tracer.PhaseProp, p)
    val t0 = nowMs
    var t1 = t0
    try {
      phase("construct")
      val df = SparkEntry.queries(op)(spark, data)
      t1 = nowMs
      phase("execute")
      if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$op")
      else df.write.mode("overwrite").format("noop").save()
    } catch {
      case e: Throwable =>
        failed += 1
        errors.getOrElseUpdate(op, String.valueOf(e).take(300))
    }
    val t2 = nowMs
    if (trace) {
      tracer.drain()
      tracer.add("queries.construct_ms", t1 - t0)
      tracer.add("plans.compiles", (compiles() - c0).toDouble)
      tracer.add("plans.compile_ms", (compileNs() - ct0) / 1e6)
      tracer.span(Span(id, 0, op, "bench", t0, t2, Map("pass" -> passIdx)))
      if (t1 > t0) tracer.span(Span(tracer.newId(), id, "construct", "queries", t0, t1))
      tracer.span(Span(tracer.newId(), id, "execute", "execute", t1, t2))
      sc.setLocalProperty(Tracer.OpProp, null)
      sc.setLocalProperty(Tracer.PhaseProp, null)
    }
    t2 - t0
  }

  // ---- per-layer metrics of the traced run --------------------------------

  private def perLayer(coldS: Double, steady: Seq[(Int, Double)],
      stores: Map[String, (Long, Int)]): Map[String, Double] = {
    val per = steady.map { case (p, wall) => (tracer.passCounters(p), wall, p) }
    def med(k: String) = median(per.map(_._1.getOrElse(k, 0.0)))
    val cold = tracer.passCounters(0)
    val keys = Seq("queries.construct_ms", "queries.eager_jobs",
      "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
      "plans.compiles", "plans.compile_ms",
      "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.task_run_s",
      "exec.gc_s", "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms",
      "spill.mb", "sources.scan_mb", "sources.scan_rows")
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Tracer.MB
    keys.map(k => k -> med(k)).toMap ++ Map(
      "plans.cold_compiles" -> cold.getOrElse("plans.compiles", 0.0),
      "plans.cold_compile_ms" -> cold.getOrElse("plans.compile_ms", 0.0),
      "exec.core_busy_ratio" ->
        median(per.map { case (c, wall, _) => c.getOrElse("exec.task_run_s", 0.0) / (wall * cores) }),
      "exec.stage_skew" -> median(per.map(x => tracer.passSkew(x._3))),
      "store.mb" -> stores.values.map(_._1).sum / Tracer.MB,
      "store.files" -> stores.values.map(_._2).sum.toDouble,
      "store.build_s" -> storeBuildTotal,
      "jvm.peak_rss_mb" -> peakRssMb(),
      "jvm.retained_heap_mb" -> heap,
      "jvm.gc_s" -> median(gcPerPass.toSeq),
      "host.others_cores" -> median(host.map(_._1).toSeq),
      "host.steal_cores" -> median(host.map(_._2).toSeq),
      "trace.cold_s" -> coldS,
      "trace.pass_s" -> median(steady.map(_._2))) ++
      stores.map { case (f, (b, _)) => s"store.mb.$f" -> b / Tracer.MB } ++
      storeBuild.map { case (f, s) => s"store.build_s.$f" -> s }
  }

  private def writeSpans(path: String): Unit = {
    val lines = tracer.spans.map { s =>
      json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  // ---- measurements read from the JVM and /proc ----------------------------

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Bytes and files per store family (`graft_<family>`) of this run. */
  private def storeSizes(): Map[String, (Long, Int)] = {
    val root = Paths.get(s"$work/stores")
    if (!Files.isDirectory(root)) Map.empty
    else Files.list(root).iterator().asScala.toSeq.map { fam =>
      val files = Files.walk(fam).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      fam.getFileName.toString.stripPrefix("graft_") -> ((files.map(Files.size).sum, files.size))
    }.toMap
  }

  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  /** (machine busy jiffies, steal jiffies, this process's jiffies), the
    * host-context method of graft.Bench: busy is user+nice+system+irq+
    * softirq; others = busy − self. (-1, -1, -1) without /proc. */
  private def cpuJiffies(): (Long, Long, Long) =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+")
      val busy = (cpu.slice(1, 4) ++ cpu.slice(6, 8)).map(_.toLong).sum
      val st = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
      (busy, cpu(8).toLong, rest(11).toLong + rest(12).toLong)
    } catch { case _: Exception => (-1L, -1L, -1L) }
}
