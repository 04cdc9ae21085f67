package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{Bench, Main, SparkEntry}
import graft.config.PipelineConfig
import graft.meds.MedsIO

/** JVM side of the benchmark; perfbench/run.py generates the inputs,
  * launches this and checks the outputs.
  *
  * {{{
  * perfbench.Harness <workload> <seconds> <trace 0|1> <inputs> <work> <result.json> [gate,...]
  * }}}
  *
  * One closed-loop client runs one operation at a time on one session:
  *  1. `Setups` session set-ups, each a fresh SparkSession with a private
  *     java.io.tmpdir that opens the workload's inputs;
  *  2. an untimed warm-up on the last session, which fills the program's
  *     caches and staged inputs, JIT-compiles the hot paths and writes the
  *     outputs the checks read;
  *  3. timed operations until `seconds` have passed, at least `minOps`,
  *     each after `clearCache` and a full GC. In a traced run, operations
  *     run untraced and traced in the order U T T U U T T U ..., so the
  *     tracing overhead is measured in the same run without favouring the
  *     side that runs later.
  */
object Harness {
  val Setups = 3

  trait Workload {
    /** Opens the inputs the way an operation first touches them. */
    def prepare(spark: SparkSession): Unit
    /** The untimed warm-up; also writes what the output checks read. */
    def warmUp(spark: SparkSession): Unit
    /** One timed operation; returns named wall times in seconds. */
    def op(spark: SparkSession, spans: Spans): Map[String, Double]
    /** The pipeline config the operation parses. */
    def configFile: String
    def attemptsPerOp: Int
    def minOps: Int
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seconds, trace, inputs, work, result) = argv.take(6)
    val gates = argv.lift(6).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val traced = trace == "1"
    val workDir = Paths.get(work).toAbsolutePath
    val prog = workDir.resolve("prog")
    val checks = workDir.resolve("checks")
    Files.createDirectories(checks)
    val cpus = Runtime.getRuntime.availableProcessors()
    val errors = mutable.ArrayBuffer.empty[String]

    val collector = new Collector
    val w: Workload = workload match {
      case "meds_etl" =>
        new MedsEtl(s"$inputs/meds", s"$inputs/meds_preprocess.yaml", prog, errors)
      case "gate_suite" =>
        new GateRun(s"$inputs/tables", gates, checks, errors, collector)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    var spark: SparkSession = null
    val sessionS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      rmTree(prog)
      // staged inputs live under java.io.tmpdir: a private one per set-up
      // makes every set-up and run stage its own
      val tmp = prog.resolve("tmp")
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      w.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp(spark)
    val warmUpS = (System.nanoTime() - w0) / 1e9
    val setupErrors = errors.toList
    errors.clear()

    val spans = new Spans
    val ops = mutable.ArrayBuffer.empty[Map[String, Double]]
    val layerRecords = mutable.ArrayBuffer.empty[Map[String, Double]]
    val parseS = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    val minOps = if (traced) 2 * w.minOps else w.minOps
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) {
      val traceThis = traced && (i % 4 == 1 || i % 4 == 2)
      spark.catalog.clearCache()
      System.gc()
      spans.op = i
      spans.enabled = traceThis
      if (traceThis) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        collector.reset()
        spark.sparkContext.addSparkListener(collector.sparkListener)
        spark.listenerManager.register(collector.queryListener)
      }
      val lo = Clock.nowMs()
      val times = spans("op") { w.op(spark, spans) }
      val hi = Clock.nowMs()
      if (traceThis) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(collector.sparkListener)
        spark.listenerManager.unregister(collector.queryListener)
        val builds = spans.of(i, "queries.build").map(s => (s.start, s.end))
        val actions = spans.of(i, "queries.action").map(s => (s.start, s.end))
        layerRecords += collector.summary(lo, hi, builds, actions) ++ Map(
          "queries.build_s" -> builds.map { case (a, b) => b - a }.sum / 1000,
          "queries.action_s" -> actions.map { case (a, b) => b - a }.sum / 1000)
        // the config layer, called directly with the operation's arguments
        val p0 = System.nanoTime()
        spans("config.parse") { PipelineConfig.fromFile(w.configFile) }
        parseS += (System.nanoTime() - p0) / 1e9
      }
      ops += times ++ Map("traced" -> (if (traceThis) 1.0 else 0.0),
        "footprint_bytes" -> dirBytes(prog).toDouble)
      i += 1
    }
    spark.catalog.clearCache()
    val liveHeap = liveHeapMb()
    val opErrors = errors.toList
    spark.stop()

    import Json._
    def nums(xs: Seq[Double]) = xs.map(num).mkString("[", ", ", "]")
    def strs(xs: Seq[String]) = xs.map(str).mkString("[", ", ", "]")
    def objs(ms: Seq[Map[String, Double]]) = ms.map(numObj).mkString("[", ", ", "]")
    Files.writeString(Paths.get(result), Seq(
      s""""workload": ${str(workload)}""",
      s""""cpus": $cpus""",
      s""""heap_max_mb": ${Runtime.getRuntime.maxMemory >> 20}""",
      s""""session_s": ${nums(sessionS)}""",
      s""""warmup_s": ${num(warmUpS)}""",
      s""""ops": ${objs(ops.toSeq)}""",
      s""""attempts_per_op": ${w.attemptsPerOp}""",
      s""""setup_errors": ${strs(setupErrors)}""",
      s""""op_errors": ${strs(opErrors)}""",
      s""""layers": ${objs(layerRecords.toSeq)}""",
      s""""config_parse_s": ${nums(parseS.toSeq)}""",
      s""""live_heap_mb": ${num(liveHeap)}""",
      s""""peak_rss_mb": ${num(vmHwmMb())}""").mkString("{", ", ", "}\n"))
    Files.write(workDir.resolve("spans.jsonl"), spans.all.map { s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}, "self_ms": ${num(spans.selfMs(s))}}"""
    }.asJava)
  }

  /** The MEDS preprocessing pipeline through `graft.Main.run`, with a
    * checkpoint root so every stage is persisted. An operation is the
    * checkpointed run followed by its re-invocation over the completed
    * checkpoint root (every stage skipped, the output written again), as a
    * resumable run is re-invoked.
    */
  final class MedsEtl(input: String, yaml: String, prog: Path,
      errors: mutable.ArrayBuffer[String]) extends Workload {
    private val root = prog.resolve("meds")
    def configFile: String = yaml
    def attemptsPerOp: Int = 2
    // one operation is ~100 Spark jobs; a second would not fit a run
    def minOps: Int = 1

    def prepare(spark: SparkSession): Unit = {
      PipelineConfig.fromFile(yaml)
      MedsIO.read(spark, input)
    }

    def warmUp(spark: SparkSession): Unit = op(spark, new Spans)

    private def run(spark: SparkSession, out: String, ckpt: String, spans: Spans): Unit =
      try spans("main.run") { Main.run(Array(yaml, input, out, ckpt), spark) }
      catch { case e: Throwable => errors += s"meds_etl: $e" }

    def op(spark: SparkSession, spans: Spans): Map[String, Double] = {
      rmTree(root)
      val ckpt = root.resolve("ckpt").toString
      val t0 = System.nanoTime()
      run(spark, root.resolve("out").toString, ckpt, spans)
      val t1 = System.nanoTime()
      run(spark, root.resolve("resumed").toString, ckpt, spans)
      val t2 = System.nanoTime()
      Map("run_s" -> (t1 - t0) / 1e9, "resume_s" -> (t2 - t1) / 1e9,
        "op_s" -> (t2 - t0) / 1e9)
    }
  }

  /** Gates of `SparkEntry.queries` over a table directory. An operation
    * builds each gate once and forces it once with `Bench.force`, after
    * `clearCache` and a GC, as `graft.Bench` times them.
    */
  final class GateRun(dir: String, gates: Seq[String], checks: Path,
      errors: mutable.ArrayBuffer[String], collector: Collector) extends Workload {
    private val queries = SparkEntry.queries
    require(gates.nonEmpty && gates.forall(queries.contains),
      s"unknown gate in ${gates.mkString(",")}")
    // no gate of the suite parses a pipeline config: the committed curation
    // YAML is the config layer's control
    def configFile: String = "config/curation_pipeline.yaml"
    def attemptsPerOp: Int = gates.size
    // the median of three passes leaves out one slow pass
    def minOps: Int = 3

    def prepare(spark: SparkSession): Unit =
      Files.list(Paths.get(dir)).iterator().asScala.toSeq.sortBy(_.toString)
        .foreach(p => spark.read.parquet(p.toString).schema)

    def warmUp(spark: SparkSession): Unit = {
      gates.foreach { g =>
        try queries(g)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(checks.resolve(g).toString)
        catch { case e: Throwable => errors += s"$g: $e" }
      }
      val oracle = SparkEntry.oracleSql
      Files.writeString(checks.resolve("oracle_sql.json"),
        Json.strObj(gates.flatMap(g => oracle.get(g).map(g -> _)).toMap))
      // the passes right after the output pass still speed up pass by pass
      op(spark, new Spans)
    }

    def op(spark: SparkSession, spans: Spans): Map[String, Double] = {
      val times = gates.map { g =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try spans(s"gate.$g") {
          val df = spans("queries.build") { queries(g)(spark, dir) }
          spans("queries.action") { Bench.force(df) }
          // a forced plan is not a Dataset action: no listener sees its phases
          if (spans.enabled) collector.addPlanMs(collector.phaseMs(df.queryExecution))
        } catch { case e: Throwable => errors += s"$g: $e" }
        s"gate.$g" -> (System.nanoTime() - t0) / 1e9
      }
      times.toMap + ("op_s" -> times.map(_._2).sum)
    }
  }

  object Json {
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def strObj(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    def numObj(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Heap the program retains after its operations, in MB: in use after
    * full GCs, with pauses that let Spark's cleaner drop what the first GC
    * made unreachable.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
}
