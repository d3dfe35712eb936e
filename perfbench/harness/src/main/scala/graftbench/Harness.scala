package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftBenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry

/** One benchmark run in one JVM: session and data set-up, a cold pass, a
  * warm-up pass that also writes every query's result for the DuckDB
  * oracle gate, then warm passes for a fixed time, each after a run of the
  * reference kernel. Load is one closed-loop client: one query at a time
  * through `SparkEntry.queries`.
  *
  * Each query is timed in three phases: build (the `SparkEntry` closure,
  * including any eager actions it runs), plan (analysis, optimization and
  * physical planning of the returned DataFrame) and exec (that planned
  * DataFrame run to the end, every column, rows counted; written as
  * parquet in the warm-up pass).
  * With `--trace 1` the warm passes alternate between untraced passes and
  * passes with the span recorder's listeners attached, so the same run
  * gives the listeners' overhead.
  *
  * Writes one JSON record to `--out`; statistics are computed by the
  * Python runner.
  */
object Harness {

  /** Stops a run whose passes are far shorter than `--seconds`. */
  val MaxPasses = 40

  /** Passes between the cold pass and the warm ones. */
  val WarmupPasses = 1

  /** Runs of the reference kernel before each warm pass; the pass records
    * their median.
    */
  val RefReps = 3

  /** Materialisations of the input per run; `setup_s` is their median. */
  val SetupReps = 3

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Conf(
      src: String, queries: Seq[String], seed: Long, seconds: Double,
      trace: Boolean, work: Path, t0Us: Long, out: Path, cpus: Int) {
    /** Warm passes of each kind needed before a run may stop. */
    def minWarm: Int = if (trace) 2 else 3
  }

  def parse(argv: Array[String]): Conf = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Conf(
      src = need("src"),
      queries = need("queries").split(',').toSeq.filter(_.nonEmpty),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = Paths.get(need("work")),
      t0Us = need("t0-us").toLong,
      out = Paths.get(need("out")),
      cpus = need("cpus").toInt)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .config("spark.local.dir", c.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Copies the workload's input into `dir`, so that every run reads a
    * fresh directory and derives fresh side paths from it.
    */
  def prepareData(c: Conf, dir: Path): String = {
    val src = Paths.get(c.src)
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = dir.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** Process-wide counters read before and after each pass. */
  final case class JvmSnapshot(gcMs: Long, jitMs: Long, codegenNs: Long, codegenCount: Long)

  def snapshot(): JvmSnapshot = JvmSnapshot(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val spark = session(c)
    val sessionMs = (epochUs() - c.t0Us) / 1000.0
    val dir = prepareData(c, c.work.resolve("data"))
    val firstDataMs = (epochUs() - c.t0Us) / 1000.0 - sessionMs

    val sc = spark.sparkContext
    val trace = new Trace
    val runSpan = trace.open(0L, "run", "run")
    val rng = new Random(c.seed)
    val oracleDir = c.work.resolve("oracle")
    Files.createDirectories(oracleDir)

    /** Runs one query; with `dumpTo` its exec phase writes the result there
      * as parquet instead of counting it. Unlike Verify the write keeps the
      * query's partitioning: coalesce(1) would run the whole query in one
      * task.
      */
    def runQuery(name: String, passSpan: Option[Trace.Span], dumpTo: Option[Path]): Map[String, Any] = {
      val qSpan = passSpan.map(p => trace.open(p.id, "query", name))
      def phase[T](kind: String)(body: => T): (T, Double) = {
        val span = qSpan.map(q => trace.open(q.id, kind, name))
        span.foreach(s => sc.setLocalProperty(Trace.SpanProperty, s.id.toString))
        val t0 = System.nanoTime()
        try (body, (System.nanoTime() - t0) / 1e6)
        finally span.foreach(trace.close)
      }
      val rec = mutable.LinkedHashMap[String, Any]("name" -> name)
      var at = "build"
      try {
        val (df, buildMs) = phase("build")(SparkEntry.queries(name)(spark, dir))
        rec("build_ms") = buildMs
        at = "plan"
        val (_, planMs) = phase("plan")(df.queryExecution.executedPlan)
        rec("plan_ms") = planMs
        at = "exec"
        // The plan built above, run as it stands: `df.count()` would plan
        // a new aggregate over `df` and let column pruning drop unused
        // output from the timed run.
        val qe = df.queryExecution
        dumpTo match {
          case Some(path) =>
            rec("exec_ms") = phase("exec")(df.write.mode("overwrite").parquet(path.toString))._2
          case None =>
            val (rows, execMs) = phase("exec")(SQLExecution.withNewExecutionId(qe)(qe.toRdd.count()))
            rec("exec_ms") = execMs
            rec("rows") = rows
        }
        val phases = df.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          rec(s"${p}_ms") = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        }
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
          rec("error") = s"$at: ${e.getClass.getName}: ${msg.take(300)}"
      } finally {
        sc.setLocalProperty(Trace.SpanProperty, null)
        qSpan.foreach(trace.close)
      }
      rec.toMap
    }

    def runPass(idx: Int, kind: String, traced: Boolean): Map[String, Any] = {
      // The host's speed at this pass, measured before its listeners and timed region.
      val refMs = if (kind == "warm") Some(median(Seq.fill(RefReps)(Reference.timeParallelMs(c.cpus)))) else None
      if (traced) {
        GraftBenchBus.drain(sc)
        sc.addSparkListener(trace.sparkListener)
        spark.streams.addListener(trace.streamListener)
      }
      val order = rng.shuffle(c.queries)
      val passSpan = if (traced) Some(trace.open(runSpan.id, "pass", s"$kind $idx")) else None
      trace.currentPass = passSpan
      heapPools.foreach(_.resetPeakUsage())
      val before = snapshot()
      val t0 = System.nanoTime()
      val queries = order.map(q => runQuery(q, passSpan, Some(oracleDir.resolve(q)).filter(_ => kind == "warmup")))
      val wallMs = (System.nanoTime() - t0) / 1e6
      val after = snapshot()
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      passSpan.foreach(trace.close)
      if (traced) {
        GraftBenchBus.drain(sc)
        spark.streams.removeListener(trace.streamListener)
        sc.removeSparkListener(trace.sparkListener)
        trace.currentPass = None
      }
      System.err.println(f"[graftbench] pass $idx%2d $kind%-6s traced=$traced%-5s ${wallMs / 1000}%8.3f s")
      refMs.map(r => Map("ref_ms" -> r)).getOrElse(Map.empty) ++ Map(
        "index" -> idx, "kind" -> kind, "traced" -> traced, "wall_ms" -> wallMs,
        "span_id" -> passSpan.map(_.id).getOrElse(0L), "queries" -> queries,
        "jvm" -> Map(
          "gc_ms" -> (after.gcMs - before.gcMs),
          "jit_ms" -> (after.jitMs - before.jitMs),
          "heap_peak_mb" -> heapPeakMb,
          "codegen_compiles" -> (after.codegenCount - before.codegenCount),
          "codegen_ms" -> (after.codegenNs - before.codegenNs) / 1e6))
    }

    // The first passes after the cold one are still the slowest and the
    // most variable of a run (JIT tiers settling), so they are timed and
    // checked but kept out of the warm statistics.
    val passes = mutable.ArrayBuffer(runPass(0, "cold", c.trace))
    (1 to WarmupPasses).foreach(i => passes += runPass(i, "warmup", false))
    val warmStart = System.nanoTime()
    def warmCount(traced: Boolean): Int =
      passes.count(p => p("kind") == "warm" && p("traced") == traced)
    def enough: Boolean = {
      val counts = if (c.trace) Seq(warmCount(true), warmCount(false)) else Seq(warmCount(false))
      val elapsed = (System.nanoTime() - warmStart) / 1e9
      (counts.min >= c.minWarm && elapsed >= c.seconds) || passes.size > MaxPasses
    }
    while (!enough) {
      val idx = passes.size
      // Traced and untraced passes alternate as U T T U U T T U ..., so a
      // linear warm-up trend biases neither side of the overhead ratio.
      val n = idx - 1 - WarmupPasses
      passes += runPass(idx, "warm", c.trace && (n % 4 == 1 || n % 4 == 2))
    }
    trace.close(runSpan)
    System.err.println(f"[graftbench] passes done at ${(epochUs() - c.t0Us) / 1e6}%.1f s")

    // A JVM starts once, but the input can be materialised again: further
    // samples of that part of the set-up, taken after the passes so that
    // the cold pass stays the first work of the JVM.
    val dataReadyMs = firstDataMs +: (1 until SetupReps).map { i =>
      val rep = c.work.resolve(s"setup-rep$i")
      val t0 = System.nanoTime()
      prepareData(c, rep)
      val ms = (System.nanoTime() - t0) / 1e6
      deleteTree(rep)
      ms
    }

    // The oracle SQL next to the warm-up pass's results, with the
    // side-path tag substituted as Verify does.
    val tag = SparkEntry.sfTag(dir)
    val sqls = SparkEntry.oracleSql
    val oracle = c.queries.map(n => n -> sqls(n).replace("__SFTAG__", tag)).toMap
    Files.writeString(oracleDir.resolve("oracle_sql.json"), json.writeValueAsString(oracle))

    val record = mutable.LinkedHashMap[String, Any](
      "session_ms" -> sessionMs, "data_ready_ms" -> dataReadyMs, "data_dir" -> dir,
      "sf_tag" -> tag, "cpus" -> c.cpus, "seed" -> c.seed, "passes" -> passes.toSeq,
      "oracle_dir" -> oracleDir.toString,
      "peak_rss_mb" -> vmHwmMb())
    if (c.trace) record("trace") = trace.json
    Files.writeString(c.out, json.writeValueAsString(record))
    System.err.println(f"[graftbench] record written at ${(epochUs() - c.t0Us) / 1e6}%.1f s")
    spark.stop()
  }
}
