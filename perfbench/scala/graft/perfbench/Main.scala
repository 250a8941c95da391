package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{DedupConfig, DedupPipeline, GraftSession, SparkEntry}

/** Benchmark process: `run` executes one workload and writes its result
  * JSON; `selftest` checks the generator; `metric-names` lists the
  * workloads and the metric names `run` emits. perfbench/run.py builds the
  * classpath and calls it. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cpus: Int, out: String, spans: String)

  val EndToEnd: Seq[String] = Seq(
    "setup_s", "docs_per_s", "latency_p50_s", "cpu_s_per_kdoc", "dup_recall")

  val Counters: Seq[String] = Seq(
    "lsh_candidates.pairs", "lsh_candidates.dropped", "lsh_verify.pass_rate",
    "substr_candidates.pairs", "substr_verify.pass_rate", "cc.edges", "cc.distributed",
    "checkpoint.write_s", "checkpoint.write_mb", "checkpoint.resume_s", "trace.overhead_s",
    "layers.spill_mb", "engine.retained_cache_mb", "decisions.false_delete_share")

  val PerLayer: Seq[String] =
    Staged.Layers.flatMap(l => Tracer.StageFields.map(f => s"$l.$f")) ++ Counters ++
      Workloads.Queries.flatMap(q => Tracer.QueryFields.map(f => s"$q.$f"))

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: rest => run(parse(rest))
    case "selftest" :: Nil => sys.exit(if (SelfTest.run()) 0 else 1)
    case "metric-names" :: Nil =>
      println(s"""{"workloads":${jsonList(Workloads.Names)},""" +
        s""""end_to_end":${jsonList(EndToEnd)},"per_layer":${jsonList(PerLayer)}}""")
    case _ =>
      System.err.println("usage: Main run --workload W --seed N --seconds S --trace 0|1 " +
        "--work DIR --cpus N --out FILE --spans FILE | selftest | metric-names")
      sys.exit(2)
  }

  private def parse(args: List[String]): Opts = {
    val m = args.grouped(2).collect { case List(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("cpus").toInt, m("out"), m("spans"))
  }

  private def jsonList(xs: Seq[String]): String = xs.map(jsonStr).mkString("[", ",", "]")

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def session(cpus: Int): SparkSession = {
    val s = GraftSession.build(cpus, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Storage still pinned (memory + disk), in MiB. */
  def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Tracer.MiB

  /** Drops every cached frame and persisted RDD, so the next operation
    * cannot be served from this one's pins. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  final case class OpStat(wallS: Double, cpuS: Double, retainedMb: Double,
      ok: Boolean, outcome: Option[Outcome])

  /** Times `body`, then (untimed) reads the retained cache, runs the
    * outcome's checks (unless `check` is false, as for warm-ups) and clears
    * the caches. */
  def measure(spark: SparkSession, check: Boolean = true)(body: => Outcome): OpStat = {
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val res = scala.util.Try(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - c0) / 1e9
    val retained = retainedMb(spark)
    res.failed.foreach { e =>
      System.err.println(s"[perfbench] operation failed: $e")
      e.printStackTrace()
    }
    val ok = res.toOption.exists { o =>
      try !check || o.check()
      catch { case e: Throwable => System.err.println(s"[perfbench] check threw: $e"); false }
    }
    clearCaches(spark)
    OpStat(wall, cpu, retained, ok, res.toOption)
  }

  /** A workload's inputs (generated before any timing), its set-up action
    * and its timed operation. Truth tables and doc counts are read once,
    * before anything is timed. */
  private final class Plan(o: Opts) {
    val in: String = Paths.get(o.work, "in").toString
    val pipeline: Boolean = o.workload == "bulk-mixed"
    /** Warm-up input: 200 pages, or a 60-row documents table. */
    val warm: String = Paths.get(o.work, "warm").toString
    /** Inputs of the untimed full operations before timing. Query passes
      * keep getting faster over the first few (JIT): the second took about
      * half the first's time, and the next ones were 10-20% faster again.
      * So doc-queries warms up twice: on the small table, where the cold
      * pass costs less, then on the measured one, whose rows it keeps for
      * the oracle check. */
    val warmRoots: Seq[String] = if (pipeline) Seq(warm) else Seq(warm, in)
    /** Timed operations of an untraced run, at the least: a 100k-doc pass
      * fills the run on its own; query passes are short, and the reported
      * times are medians over three or more of them. */
    val minOps: Int = if (pipeline) 1 else 3
    /** Input of a traced bulk-mixed run's cluster-configuration passes. */
    val cluster: String = Paths.get(o.work, "cluster").toString
    private val parts = o.cpus * 2

    def generate(s: SparkSession, seed: Long): Unit =
      if (pipeline) {
        val spec = Workloads.BulkMixed
        Corpus.writePipeline(s, spec.copy(docs = 200), Workloads.subSeed(seed, -1),
          Workloads.pagesDir(warm), parts)
        Corpus.writePipeline(s, spec, seed, Workloads.pagesDir(in), parts)
        if (o.trace) Corpus.writePipeline(s, spec.copy(docs = Workloads.ClusterDocs),
          Workloads.subSeed(seed, -2), Workloads.pagesDir(cluster), parts)
      } else {
        Corpus.writeDocuments(s, Workloads.Documents.copy(docs = 60), Workloads.subSeed(seed, -1),
          warm, parts)
        Corpus.writeDocuments(s, Workloads.Documents, seed, in, parts)
      }

    private val truths = mutable.Map.empty[String, Truth]
    def truthOf(s: SparkSession, root: String): Truth =
      truths.getOrElseUpdate(root, new Truth(s, Workloads.pagesDir(root)))
    private val counts = mutable.Map.empty[String, Long]
    private def rowsOf(s: SparkSession, path: String): Long =
      counts.getOrElseUpdate(path, s.read.parquet(path).count())

    def prepare(s: SparkSession): Unit =
      if (pipeline) truthOf(s, in) else { docs(s); plantedCopies(s) }

    /** Input docs of one operation over the measured inputs. */
    def docs(s: SparkSession): Long =
      if (pipeline) truthOf(s, in).docs else rowsOf(s, s"$in/documents.parquet")

    /** Planted duplicate copies in the documents table. */
    def plantedCopies(s: SparkSession): Long = rowsOf(s, s"$in/copies")

    /** The set-up action timed after each session start: an exact-only
      * pipeline run over the 200 warm-up pages, or q_lang_stats. */
    def setUp(s: SparkSession): Unit =
      if (pipeline) Workloads.noop(DedupPipeline.run(s, Corpus.pagesOf(s, Workloads.pagesDir(warm)),
        DedupConfig(enableNear = false, enableSubstr = false)).decisions)
      else Workloads.noop(SparkEntry.queries("q_lang_stats")(s, in))

    /** One operation over `root` (the measured inputs or the warm-up ones).
      * A query pass sends its rows to a noop sink, or with `keepRows` writes
      * them as parquet under `root/query_out` for the oracle check. */
    def op(s: SparkSession, root: String, keepRows: Boolean = false): Outcome =
      if (pipeline) Workloads.pipelinePass(s, Workloads.pagesDir(root), truthOf(s, root))
      else new Workloads.QueryPass(s, root,
        if (keepRows) Some(Paths.get(root, "query_out").toString) else None)
  }

  def run(o: Opts): Unit = {
    require(Workloads.Names.contains(o.workload), s"unknown workload ${o.workload}")
    var spark = session(o.cpus)
    val firstSessionS = secondsSinceStart()
    val plan = new Plan(o)

    // inputs first, untimed: the warm-up corpus and the measured one
    plan.generate(spark, o.seed)
    plan.prepare(spark)
    phase("inputs generated")

    // set-up = session start (the first from process start) + the set-up
    // action; repeated in fresh sessions, reported as the median
    def setUp(sessionS: Double): Double = {
      val t0 = System.nanoTime()
      plan.setUp(spark)
      clearCaches(spark)
      sessionS + (System.nanoTime() - t0) / 1e9
    }
    val setups = mutable.ArrayBuffer(setUp(firstSessionS))
    (1 until (if (o.trace) 1 else SetupCycles)).foreach { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session(o.cpus)
      setups += setUp((System.nanoTime() - t0) / 1e9)
    }
    // full, unchecked operations let JIT and first planning finish before
    // anything is timed
    val warmS = plan.warmRoots.map { root =>
      measure(spark, check = false)(plan.op(spark, root, keepRows = root == plan.in)).wallS
    }
    phase(s"set-ups ${setups.map(v => f"$v%.2f").mkString(" ")} s; warm-up operations " +
      warmS.map(v => f"$v%.2f").mkString(" ") + " s")
    val result =
      if (o.trace) traced(spark, plan, o)
      else timed(spark, plan, o, setups.toSeq)
    phase("operations and checks done")
    spark.stop()
    Files.write(Paths.get(o.out), result.getBytes(StandardCharsets.UTF_8))
  }

  /** Set-up cycles of an untraced run (the traced run sets up once). */
  val SetupCycles = 3

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  private def secondsSinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Progress line on stderr: seconds since process start. */
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${secondsSinceStart()}%7.2f s: $what")

  private def resultJson(ok: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double)], info: Seq[(String, String)]): String = {
    val ms = metrics.map { case (k, v) => s"${jsonStr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    val is = info.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")
    s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":$ms,"info":$is}"""
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Untraced run: at least `plan.minOps` operations back to back, and
    * more while the next one is expected to end within `seconds`. The
    * reported times are medians over the operations. */
  private def timed(spark: SparkSession, plan: Plan, o: Opts, setups: Seq[Double]): String = {
    val ops = mutable.ArrayBuffer.empty[OpStat]
    val t0 = System.nanoTime()
    while (ops.size < plan.minOps ||
        (System.nanoTime() - t0) / 1e9 + ops.map(_.wallS).sum / ops.size <= o.seconds)
      ops += measure(spark)(plan.op(spark, plan.in))

    val opDocs = plan.docs(spark).toDouble
    // a failed operation found nothing but still counts in the base
    val (found, planted) =
      if (plan.pipeline) {
        val passes = ops.flatMap(_.outcome).collect { case p: Workloads.PipelineOutcome => p }
        (passes.flatMap(_.report).map(_.found).sum, plan.truthOf(spark, plan.in).planted * ops.size)
      } else {
        // the warm-up pass's rows go to the DuckDB oracle comparison
        // run.py makes; recall reads q_dup_states
        val out = Paths.get(plan.in, "query_out").toString
        writeOracleSql(out)
        (scala.util.Try(Workloads.docQueryRecall(spark, plan.in, out)).getOrElse(0L),
          plan.plantedCopies(spark))
      }
    val failed = ops.count(!_.ok)
    val metrics = Seq(
      "setup_s" -> median(setups),
      "docs_per_s" -> opDocs / median(ops.map(_.wallS).toSeq),
      "latency_p50_s" -> median(ops.map(_.wallS).toSeq),
      "cpu_s_per_kdoc" -> median(ops.map(_.cpuS).toSeq) / (opDocs / 1000.0),
      "dup_recall" -> found.toDouble / planted)
    val info = Seq(
      "operations" -> ops.size.toString,
      "latencies_s" -> ops.map(s => f"${s.wallS}%.3f").mkString(" "),
      "setup_s" -> s"median of $SetupCycles set-ups: ${setups.map(v => f"$v%.3f").mkString(" ")}",
      "dup_recall_base" -> s"$found of $planted planted duplicate ${
        if (plan.pipeline) "pairs (exact, near at J >= 0.8, substring)" else "copies"}",
      "retained_cache_mb" -> ops.map(s => f"${s.retainedMb}%.1f").mkString(" "))
    resultJson(failed == 0, ops.size, failed, metrics, info)
  }

  /** `out/oracle_sql.json`: the DuckDB oracle SQL of each document query. */
  def writeOracleSql(out: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = Workloads.Queries.map(q => s"${jsonStr(q)}:${jsonStr(oracle(q))}")
      .mkString("{", ",", "}")
    Files.write(Paths.get(out, "oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  /** Traced run: one untraced operation, then the same input through the
    * traced composition (bulk-mixed) or one span per query (doc-queries).
    * trace.overhead_s = traced wall - untraced wall. bulk-mixed then runs
    * CC's distributed path over the composition's edges (layer
    * cc_distributed) and, on a fixed sub-corpus, a pass in the cluster
    * configuration plus a resume pass, for the checkpoint.* metrics. */
  private def traced(spark: SparkSession, plan: Plan, o: Opts): String = {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach(metrics(_) = 0.0)
    // every output check and guard of the run; each counts as one attempt
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      checks += name -> ok
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $name $detail")
    }

    val plain = measure(spark)(plan.op(spark, plan.in))
    check("untraced operation", plain.ok)
    metrics("engine.retained_cache_mb") = plain.retainedMb
    val tr = new Tracer(spark.sparkContext)
    if (!plan.pipeline) {
      tr.span("op", tagJobs = false) {
        Workloads.Queries.foreach { q =>
          tr.span(q, "op")(Workloads.noop(SparkEntry.queries(q)(spark, plan.in)))
        }
      }
    } else {
      val truth = plan.truthOf(spark, plan.in)
      val reference = plain.outcome.collect { case p: Workloads.PipelineOutcome => p.report }
        .flatten.map(_.digest)
      try {
        val staged = tr.span("op", tagJobs = false) {
          Staged.run(spark, Corpus.pagesOf(spark, Workloads.pagesDir(plan.in)), DedupConfig(), tr, "op")
        }
        val rep = truth.report(staged.decisions)
        check("traced composition", rep.ok && reference.contains(rep.digest),
          s"$rep, DedupPipeline.run gave digest ${reference.getOrElse("nothing")}")
        val c = staged.counters
        metrics("lsh_candidates.pairs") = c.lshPairs.toDouble
        metrics("lsh_candidates.dropped") = c.lshDropped.toDouble
        metrics("lsh_verify.pass_rate") = c.lshVerified.toDouble / math.max(c.lshPairs, 1L)
        metrics("substr_candidates.pairs") = c.substrPairs.toDouble
        metrics("substr_verify.pass_rate") = c.substrVerified.toDouble / math.max(c.substrPairs, 1L)
        metrics("cc.edges") = c.ccEdges.toDouble
        metrics("cc.distributed") = if (c.ccDistributed) 1.0 else 0.0
        metrics("decisions.false_delete_share") =
          rep.falseDeletes.toDouble / math.max(truth.uniques, 1L)
        val differing = Staged.distributedCc(spark, staged, tr)
        check("distributed CC labels", differing == 0,
          s"$differing urls labelled otherwise than by the cc layer")
        clearCaches(spark)

        val cluster = tr.span("cluster_pass") {
          new Workloads.ClusterPass(spark, Workloads.pagesDir(plan.cluster),
            plan.truthOf(spark, plan.cluster), Paths.get(o.work, "run"))
        }
        check("cluster input, default configuration", cluster.reference.ok, cluster.reference.toString)
        Seq("cluster configuration" -> cluster.written, "resume" -> cluster.resumed)
          .foreach { case (name, r) =>
            check(name, r.ok && r.digest == cluster.reference.digest,
              s"$r, the default configuration gave digest ${cluster.reference.digest}")
          }
        metrics("checkpoint.write_s") = cluster.writeS
        metrics("checkpoint.write_mb") = cluster.writeBytes / Tracer.MiB
        metrics("checkpoint.resume_s") = cluster.resumeS
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] traced run failed: $e")
          e.printStackTrace()
          check("traced run completed", ok = false)
      }
    }
    tr.close()
    val tracedS = tr.spans.find(_.name == "op").map(s => (s.endMs - s.startMs) / 1e3)
    metrics("trace.overhead_s") = tracedS.map(_ - plain.wallS).getOrElse(0.0)
    val (names, fields) =
      if (plan.pipeline) (Staged.Layers, Tracer.StageFields)
      else (Workloads.Queries, Tracer.QueryFields)
    names.foreach(n => fields.foreach(f => metrics(s"$n.$f") = tr.metrics(n)(f)))
    if (plan.pipeline) metrics("layers.spill_mb") = names.map(tr.metrics(_)("spill_mb")).sum
    Files.write(Paths.get(o.spans), tr.spansJson.getBytes(StandardCharsets.UTF_8))
    clearCaches(spark)
    val failed = checks.count(!_._2)
    resultJson(failed == 0, checks.size, failed, metrics.toSeq,
      Seq("spans" -> o.spans,
        "checks" -> checks.map { case (n, ok) => s"$n ${if (ok) "passed" else "FAILED"}" }
          .mkString(", "),
        "untraced_wall_s" -> f"${plain.wallS}%.3f",
        "traced_wall_s" -> tracedS.map(v => f"$v%.3f").getOrElse("n/a")))
  }
}
