package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DedupConfig, DedupPipeline, SparkEntry}
import graft.functions.Hash64

/** One timed operation's output, checked after the clock stops. */
trait Outcome {
  /** Runs the correctness checks (untimed); false = a failed operation. */
  def check(): Boolean
}

/** Checks of one decisions frame: it holds one row per input doc, every
  * short doc is `ignored`, no planted-unique doc is `delete`, and the
  * repeated boilerplate text forms one cluster. */
final case class Report(found: Long, shortNotIgnored: Long, falseDeletes: Long,
    skewTogether: Boolean, rows: Long, expectedRows: Long, digest: String) {
  def ok: Boolean =
    shortNotIgnored == 0 && falseDeletes == 0 && skewTogether && rows == expectedRows
}

/** Planted-duplicate recall and pipeline output checks against the truth
  * tables the generator wrote next to a pages input. Recall comes from
  * per-group cluster co-membership counts (a group of n members spread as
  * c_1 .. c_k over clusters has sum c_i(c_i-1)/2 of its n(n-1)/2 pairs
  * together), never from listing pairs; near groups count only the pairs
  * whose exact Jaccard reached tau, at most six per group. The base is the
  * exact, near and substring pairs: the one repeated boilerplate text
  * would otherwise outweigh them all (5,008 copies are 12.5M pairs), so it
  * is checked on its own. */
final class Truth(spark: SparkSession, dir: String) {
  private val grouped = Seq("exact", "substring")
  private def truth(s: SparkSession): DataFrame = s.read.parquet(s"$dir/truth")
  private def near(s: SparkSession): DataFrame = s.read.parquet(s"$dir/near_pairs")

  /** Sum of n(n - 1)/2 over the `n` column. */
  private def pairs(n: Column): Column = coalesce(sum(n * (n - 1) / 2), lit(0L)).cast("long")

  private val counts = truth(spark)
    .groupBy(col("cls"), col("grp")).agg(count(lit(1)).as("n"))
    .agg(
      sum(col("n")).cast("long"),
      coalesce(sum(when(col("cls") === "unique", col("n"))), lit(0L)).cast("long"),
      pairs(when(col("cls").isin(grouped: _*), col("n"))),
      pairs(when(col("cls") === "skew", col("n"))))
    .head()
  val docs: Long = counts.getLong(0)
  val uniques: Long = counts.getLong(1)
  val planted: Long = counts.getLong(2) + near(spark).count()
  private val skewPairs: Long = counts.getLong(3)

  def report(decisions: DataFrame): Report = {
    val s = decisions.sparkSession
    val d = decisions.select(col("url"), col("cluster"), col("state"))
    val r = d.join(truth(s), "url")
      .groupBy(col("cls"), col("grp"), col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("cls") === "short" && col("state") =!= "ignored", 1)).as("short_bad"),
        count(when(col("cls") === "unique" && col("state") === "delete", 1)).as("false_del"))
      .agg(
        sum(col("n")).cast("long"),
        pairs(when(col("cls").isin(grouped: _*), col("n"))),
        pairs(when(col("cls") === "skew", col("n"))),
        sum(col("short_bad")).cast("long"),
        sum(col("false_del")).cast("long"))
      .head()
    val x = d.select(col("url").as("a"), col("cluster").as("ca"))
    val y = d.select(col("url").as("b"), col("cluster").as("cb"))
    val inNear = near(s).join(x, "a").join(y, "b").where(col("ca") === col("cb")).count()
    Report(r.getLong(1) + inNear, r.getLong(3), r.getLong(4), r.getLong(2) == skewPairs,
      r.getLong(0), docs, Workloads.digest(decisions))
  }
}

object Workloads {

  import Corpus.{Mix, Spec, DocSpec}

  val Names: Seq[String] = Seq("bulk-mixed", "doc-queries")

  /** FIXTURES §A shares: 40% unique, 20% exact, 20% near, 10% substring,
    * 5% short, 5% one repeated boilerplate text. */
  val FixtureMix: Mix = Mix(unique = 40, exact = 20, near = 20, substr = 10, short = 5)

  /** At DedupPipeline.EagerCountMinDocs, so the eager persist+count path
    * runs. Short texts keep one pass near twenty seconds on four cores;
    * near-duplicate bases are long enough that 1 and 3% edits stay above
    * tau (a 40-word text loses J >= 0.8 to a single edit). */
  val BulkMixed: Spec = Spec(docs = 100000, FixtureMix, minWords = 10, maxWords = 30,
    nearWords = (60, 120))
  /** Bodies of 16 to 110 words straddle q_span_dedup_keep's 250-char cut;
    * 15 sources give each host about 40 docs, so LineDedup's per-host
    * strip sets (lines in more than 10 docs of a host) are not empty. At
    * 600 rows a pass takes about 7.5 s at local[2], so three timed passes
    * fit in a run. */
  val Documents: DocSpec = DocSpec(docs = 600, sources = 15, minWords = 16, maxWords = 110)

  val Queries: Seq[String] = Seq(
    "q_lang_stats", "q_exact_dup_groups", "q_dup_states", "q_gopher_repetition",
    "q_host_boilerplate", "q_span_dedup_keep", "q_perplexity_bucket")

  def clusterConfig(runDir: String): DedupConfig =
    DedupConfig(ccMaxDriverEdges = 0L, runDir = Some(runDir))

  def subSeed(seed: Long, k: Int): Long = Hash64.combine(seed, k.toLong)

  /** Order-independent digest of a decisions frame. */
  def digest(decisions: DataFrame): String = {
    val h = xxhash64(col("url"), col("cluster"), col("cluster_size"), col("state"))
    val r = decisions.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), bit_xor(h)).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** One pipeline operation over `pagesDir`, checked against its truth. */
  final class PipelineOutcome(val decisions: DataFrame, truthOf: => Truth) extends Outcome {
    private lazy val truth = truthOf
    var report: Option[Report] = None
    def check(): Boolean = {
      val r = truth.report(decisions)
      report = Some(r)
      if (!r.ok) System.err.println(s"[perfbench] check failed: $r")
      r.ok
    }
  }

  def pipelinePass(spark: SparkSession, dir: String, truth: => Truth,
      cfg: DedupConfig = DedupConfig()): PipelineOutcome = {
    val r = DedupPipeline.run(spark, Corpus.pagesOf(spark, dir), cfg)
    noop(r.decisions)
    new PipelineOutcome(r.decisions, truth)
  }

  /** Pages of the cluster-configuration input: a fixed sub-corpus, so the
    * three passes below cost the same on every seed. */
  val ClusterDocs = 10000

  /** Over its own input, in order: a pass with the default configuration
    * (the reference); a pass in the cluster configuration (every stage
    * committed through CheckpointIO, distributed CC); one resume pass over
    * the committed run dir, which is removed afterwards. The caches are
    * cleared after each pass, so a pass is not served from the previous
    * one's pins. */
  final class ClusterPass(spark: SparkSession, dir: String, truth: Truth, runDir: Path) {
    private def pass(cfg: DedupConfig): Report = {
      val o = pipelinePass(spark, dir, truth, cfg)
      o.check()
      Main.clearCaches(spark)
      o.report.get
    }
    val reference: Report = pass(DedupConfig())
    private val t0 = System.nanoTime()
    val written: Report = pass(clusterConfig(runDir.toString))
    val writeS: Double = (System.nanoTime() - t0) / 1e9
    val writeBytes: Long = treeBytes(runDir)
    private val t1 = System.nanoTime()
    val resumed: Report = try pass(clusterConfig(runDir.toString)) finally deleteTree(runDir)
    val resumeS: Double = (System.nanoTime() - t1) / 1e9
  }

  /** One pass over the seven document queries. Each query's rows go to a
    * noop sink, or, given `out`, are written as parquet under `out/<name>`,
    * to be compared with their DuckDB oracles after the run (run.py). */
  final class QueryPass(spark: SparkSession, dir: String, out: Option[String]) extends Outcome {
    Queries.foreach { q =>
      val rows = SparkEntry.queries(q)(spark, dir)
      out match {
        case Some(o) => rows.write.mode("overwrite").parquet(s"$o/$q")
        case None => noop(rows)
      }
    }
    def check(): Boolean = true
  }

  /** Planted duplicate copies (the `copies` truth of the documents table
    * under `in`) that q_dup_states under `outDir` marks `delete`. */
  def docQueryRecall(spark: SparkSession, in: String, outDir: String): Long =
    spark.read.parquet(s"$outDir/q_dup_states").where(col("state") === "delete")
      .join(spark.read.parquet(s"$in/copies"), Seq("doc_id"), "left_semi").count()

  def pagesDir(root: String): String = Paths.get(root, "pages").toString
}
