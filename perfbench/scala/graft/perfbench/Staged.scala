package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.DedupConfig
import graft.functions.{gf, NaturalKey}
import graft.operators._

/** The traced composition: `DedupPipeline.run`'s layers called in the same
  * order through the same public operators, each inside its own span and
  * materialized there (persist + count), so a layer's jobs, tasks and
  * driver time land on its span. It covers the default scope ("all"),
  * sha256 digests, html input and no run dir — the configuration the
  * bulk-mixed workload uses — and refuses any other.
  *
  * This is a hand copy of the pipeline, so it can drift: every traced run
  * compares its decisions digest with `DedupPipeline.run` on the same input
  * and fails if they differ. Tracing inside the pipeline's own stages would
  * replace this file.
  *
  * `distributedCc` then runs CC's distributed path over the same nodes and
  * edges, as layer `cc_distributed`, whatever path the `cc` layer took.
  */
object Staged {

  val Layers: Seq[String] = Seq(
    "docs", "exact", "reps", "signatures", "lsh_candidates", "lsh_verify",
    "substr_candidates", "substr_verify", "cc", "decisions", "cc_distributed")

  final case class Counters(
      lshPairs: Long, lshDropped: Long, lshVerified: Long,
      substrPairs: Long, substrVerified: Long, ccEdges: Long, ccDistributed: Boolean)

  /** The decisions plus the pinned CC input and output, for `distributedCc`. */
  final case class Result(decisions: DataFrame, counters: Counters, nodes: DataFrame,
      edges: DataFrame, labels: DataFrame)

  private def pinned(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  def run(spark: SparkSession, pages: DataFrame, cfg: DedupConfig, tr: Tracer,
      parent: String): Result = {
    require(cfg.scope == "all" && cfg.algo == "sha256" && cfg.sourcePriority.isEmpty &&
      !cfg.verifyExtract && cfg.enableNear && cfg.enableSubstr && cfg.runDir.isEmpty,
      s"the traced composition covers the default pipeline shape only: $cfg")
    def layer[A](name: String)(body: => A): A = tr.span(name, parent)(body)

    val (docs, _) = layer("docs") {
      pinned(Scope.withScopeCols(
        pages.withColumn("etext", gf.extract_text(col("html")))
          .withColumn("extract_ok", lit(true))
          .select(col("url"), col("warc_ts"), col("lang"), col("etext").as("text"),
            col("extract_ok"))
          .where(col("text").isNotNull && col("url").isNotNull)
          .withColumn("len", length(col("text")))
          .withColumn("nk", gf.natural_sort_key(col("url")))
          .withColumn("sha", sha2(col("text"), 256)))
        .withColumn("bscope", lit("")))
    }
    val live = docs.where(col("len") >= cfg.minLen)

    val (exactEdges, nExact) = layer("exact") {
      val (_, edges) = ExactDedup.repsAndEdges(
        live.select(col("url"), col("nk"), col("sha"), col("bscope")),
        blockCols = Seq("sha", "bscope"))
      pinned(edges.withColumn("kind", lit("exact")))
    }

    val (reps, _) = layer("reps") {
      val elected = live
        .groupBy(col("sha"), col("bscope"))
        .agg(min_by(col("url"), col("nk")).as("url"), min(col("nk")).as("nk"))
      pinned(elected
        .hint("shuffle_hash")
        .join(live.select(col("url"), col("text")), Seq("url"))
        .select(col("url"), col("nk"), col("text"), col("bscope")))
    }

    val (sigs, _) = layer("signatures") { pinned(Lsh.withSignatures(reps, cfg.lshConfig)) }

    val (cands, nCands, nDropped) = layer("lsh_candidates") {
      val (c, n) = pinned(Lsh.candidatePairs(spark, sigs, cfg.lshConfig, scopeCol = col("bscope")))
      val dropped = c.agg(coalesce(sum(col("dropped")), lit(0L))).head().getLong(0)
      (c, n, dropped)
    }
    val (nearEdges, nNear) = layer("lsh_verify") {
      pinned(Lsh.verifiedEdges(cands, sigs, cfg.lshConfig, cfg.jaccardTau)
        .select(col("src"), col("dst"))
        .withColumn("kind", lit("near")))
    }

    val (scands, nScands) = layer("substr_candidates") {
      pinned(SubstringDup.candidatePairs(spark, reps, cfg.substrConfig, scopeCol = col("bscope")))
    }
    val (substrEdges, nSubstr) = layer("substr_verify") {
      pinned(SubstringDup.verifiedEdges(scands, reps, cfg.substrConfig)
        .withColumn("kind", lit("substring")))
    }

    val edges = exactEdges.unionByName(nearEdges).unionByName(substrEdges)
      .select(col("src"), col("dst"))
    val nEdges = nExact + nNear + nSubstr
    val nodes = live.select(col("url"), col("nk"))
    val (labels, _) = layer("cc") {
      pinned(ConnectedComponents.run(
        spark,
        nodes,
        edges,
        maxDriverEdges = cfg.ccMaxDriverEdges,
        driverNk = Some(NaturalKey.key _)))
    }

    val decisions = layer("decisions") {
      val (d, _) = pinned(Decisions.decide(
        docs.select(col("url"), col("warc_ts"), col("lang"), col("host"),
          col("dir"), col("len"), col("sha"), col("extract_ok")),
        labels.select(col("url"), col("cluster_url")),
        cfg.minLen))
      Decisions.stats(d).collect()
      d
    }
    Result(decisions, Counters(nCands, nDropped, nNear, nScands, nSubstr, nEdges,
      ccDistributed = nEdges > cfg.ccMaxDriverEdges), nodes, edges, labels)
  }

  /** CC's distributed RDD loop (maxDriverEdges = 0) over `r`'s nodes and
    * edges, in span `cc_distributed`. Returns the number of urls whose
    * label differs from the `cc` layer's (0 when both paths agree). */
  def distributedCc(spark: SparkSession, r: Result, tr: Tracer): Long = {
    val (dist, _) = tr.span("cc_distributed") {
      pinned(ConnectedComponents.run(spark, r.nodes, r.edges, maxDriverEdges = 0L))
    }
    r.labels.select(col("url"), col("cluster_url").as("a"))
      .join(dist.select(col("url"), col("cluster_url").as("b")), Seq("url"), "full_outer")
      .where(!col("a").eqNullSafe(col("b")))
      .count()
  }
}
