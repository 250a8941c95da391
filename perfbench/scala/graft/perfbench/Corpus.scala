package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{Hash64, MinHashImpl, TextExtract}
import graft.sources.{Page, SyntheticCorpus}

/** Seeded input generator. Everything is a pure function of (spec, seed,
  * doc index), so a corpus can be produced on executors (bench scale) or
  * in-process (self-test) with identical bytes, and the same seed always
  * gives the same corpus.
  *
  * Pages follow the FIXTURES §A class mix: unique docs, exact-duplicate
  * groups of 2 to 5, near-duplicate groups (a base plus clones at 1, 3 and
  * 8% token edits), substring pairs sharing a >= 200-char passage, short
  * docs below `minLen`, and one boilerplate text repeated `skew` times. The
  * class of a doc is decided by a seeded affine permutation of its index,
  * so classes are spread over urls and partitions.
  */
object Corpus {

  val MinLen = 20
  val ShingleK = 5
  val ShingleSeed = 42L
  val JaccardTau = 0.8
  private val baseEpoch = 1767225600L // 2026-01-01T00:00:00Z
  private val langs = Array("en", "de", "fr")

  /** Class shares in percent (skew takes the remainder). */
  final case class Mix(unique: Int, exact: Int, near: Int, substr: Int, short: Int)

  /** Word counts: near-duplicate bases draw from `nearWords`, every other
    * class from minWords..maxWords. */
  final case class Spec(docs: Int, mix: Mix, minWords: Int, maxWords: Int,
      nearWords: (Int, Int), hosts: Int = 7)

  final case class Slot(cls: String, group: Int, member: Int)

  final case class Layout(spec: Spec, seed: Long) {
    val n: Int = spec.docs
    val nUnique: Int = n * spec.mix.unique / 100
    // whole groups only: 14 slots hold one group each of sizes 2, 3, 4, 5
    val nExact: Int = n * spec.mix.exact / 100 / 14 * 14
    val nNear: Int = n * spec.mix.near / 100 / 4 * 4
    val nSub: Int = n * spec.mix.substr / 100 / 2 * 2
    val nShort: Int = n * spec.mix.short / 100
    val nSkew: Int = n - nUnique - nExact - nNear - nSub - nShort
    require(nSkew >= 0, s"class shares exceed 100%: $spec")
    def nearGroups: Int = nNear / 4

    // slot = (a * i + b) mod n with gcd(a, n) = 1: a seeded bijection
    private val a: Long = {
      var c = (mixed(seed, 0xA11L) & 0x7fffffffL) % n.max(1) | 1L
      while (BigInt(c).gcd(BigInt(n)) != 1) c += 1
      c
    }
    private val b: Long = (mixed(seed, 0xB22L) & 0x7fffffffL) % n.max(1)
    private val aInv: Long = if (n <= 1) 1L else BigInt(a).modInverse(BigInt(n)).toLong

    def slotOf(i: Int): Int = ((a * i + b) % n).toInt
    def indexOf(slot: Int): Int = ((((slot - b) % n + n) % n) * aInv % n).toInt

    def slot(i: Int): Slot = {
      var j = slotOf(i)
      if (j < nUnique) return Slot("unique", j, 0)
      j -= nUnique
      if (j < nExact) {
        val block = j / 14
        val in = j % 14
        return if (in < 2) Slot("exact", block * 4, in)
        else if (in < 5) Slot("exact", block * 4 + 1, in - 2)
        else if (in < 9) Slot("exact", block * 4 + 2, in - 5)
        else Slot("exact", block * 4 + 3, in - 9)
      }
      j -= nExact
      if (j < nNear) return Slot("near", j / 4, j % 4)
      j -= nNear
      if (j < nSub) return Slot("substring", j / 2, j % 2)
      j -= nSub
      if (j < nShort) return Slot("short", j, 0)
      Slot("skew", 0, j - nShort)
    }

    /** Doc index of member `m` of near group `g`. */
    def nearIndex(g: Int, m: Int): Int = indexOf(nUnique + nExact + g * 4 + m)
  }

  private def mixed(parts: Long*): Long = parts.foldLeft(0x5EEDL)(Hash64.combine)

  private def rng(seed: Long, parts: Long*): scala.util.Random =
    new scala.util.Random(mixed(seed +: parts: _*))

  private def words(r: scala.util.Random, n: Int): String = {
    val v = SyntheticCorpus.vocab
    val sb = new java.lang.StringBuilder(n * 8)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(v(r.nextInt(v.length)))
      k += 1
    }
    sb.toString
  }

  private def base(L: Layout, tag: Long, group: Int, range: (Int, Int)): String = {
    val r = rng(L.seed, tag, group.toLong)
    words(r, range._1 + r.nextInt(range._2 - range._1 + 1))
  }

  /** ~pct% token substitutions, at least one. */
  private def edit(L: Layout, text: String, pct: Int, group: Int, member: Int): String = {
    val toks = text.split(' ')
    val r = rng(L.seed, 0xED17L, group.toLong, member.toLong)
    val v = SyntheticCorpus.vocab
    (0 until math.max(1, toks.length * pct / 100)).foreach { _ =>
      toks(r.nextInt(toks.length)) = v(r.nextInt(v.length))
    }
    toks.mkString(" ")
  }

  private val editPct = Array(0, 1, 3, 8)

  def text(L: Layout, i: Int): String = {
    val s = L.slot(i)
    val plain = (L.spec.minWords, L.spec.maxWords)
    s.cls match {
      case "unique" => base(L, 1L, s.group, plain)
      case "exact" => base(L, 2L, s.group, plain)
      case "near" =>
        val t = base(L, 3L, s.group, L.spec.nearWords)
        if (s.member == 0) t else edit(L, t, editPct(s.member), s.group, s.member)
      case "substring" =>
        val r = rng(L.seed, 4L, s.group.toLong, s.member.toLong)
        val p = rng(L.seed, 5L, s.group.toLong)
        var passage = words(p, 40)
        while (passage.length < 220) passage = passage + " " + words(p, 1)
        words(r, 10 + r.nextInt(40)) + " " + passage + " " + words(r, 10 + r.nextInt(40))
      case "short" =>
        val r = rng(L.seed, 6L, s.group.toLong)
        words(r, 1 + r.nextInt(2)).take(MinLen - 1)
      case "skew" => base(L, 7L, 0, plain)
    }
  }

  def url(L: Layout, i: Int): String = {
    val h = L.spec.hosts
    s"https://host${i % h}.example/d${(i / h) % 5}/doc$i.html"
  }

  def page(L: Layout, i: Int): Page = {
    val t = text(L, i)
    val html = ("<html><head><title></title><style>.a{x}</style></head><body>" +
      "<script>var x=1;</script><p>  " + TextExtract.escape(t) +
      "  </p></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Page(url(L, i), new Timestamp((baseEpoch + i) * 1000L), html, t, langs(i % 3))
  }

  /** Near pairs of group g whose exact shingle Jaccard is at least tau:
    * only those count as planted near duplicates. */
  def nearPairs(L: Layout, g: Int): Seq[(String, String)] = {
    val idx = (0 until 4).map(L.nearIndex(g, _))
    val texts = idx.map(text(L, _))
    for {
      x <- 0 until 4; y <- x + 1 until 4
      if MinHashImpl.exactJaccard(texts(x), texts(y), ShingleK, ShingleSeed) >= JaccardTau
    } yield (url(L, idx(x)), url(L, idx(y)))
  }

  final case class TruthRow(url: String, cls: String, grp: Int)
  final case class NearPair(a: String, b: String)

  /** Writes pages, truth (url, cls, grp) and near pairs under `dir`. */
  def writePipeline(spark: SparkSession, spec: Spec, seed: Long, dir: String, parts: Int): Unit = {
    import spark.implicits._
    val L = Layout(spec, seed)
    spark.range(0, spec.docs, 1, parts).mapPartitions { it =>
      it.map(i => page(L, i.toInt))
    }.write.mode("overwrite").parquet(s"$dir/pages")
    spark.range(0, spec.docs, 1, parts).map { i =>
      val s = L.slot(i.toInt)
      TruthRow(url(L, i.toInt), s.cls, s.group)
    }.write.mode("overwrite").parquet(s"$dir/truth")
    spark.range(0, L.nearGroups.toLong, 1, parts).flatMap { g =>
      nearPairs(L, g.toInt).map { case (x, y) => NearPair(x, y) }
    }.write.mode("overwrite").parquet(s"$dir/near_pairs")
  }

  // ---- documents table (doc-queries) ----------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  final case class DocSpec(docs: Int, sources: Int, minWords: Int, maxWords: Int)

  /** Planted exact-duplicate groups: doc ids 10g .. 10g+k-1 with k = 2 + g % 3
    * for every g divisible by 4 share one text. */
  def docDupGroup(id: Long): Option[Long] = {
    val g = id / 10
    if (g % 4 == 0 && id % 10 < 2 + g % 3) Some(g) else None
  }

  /** A planted copy: a member of a planted group other than its first doc. */
  def isPlantedCopy(id: Long): Boolean = id % 10 != 0 && docDupGroup(id).isDefined

  /** A document: an optional per-source header line (8 words, the unit the
    * boilerplate queries chunk text into) and a body whose length straddles
    * the 250-char cut of q_span_dedup_keep. */
  def doc(spec: DocSpec, seed: Long, id: Long): Doc = {
    // duplicate-group members draw source and text from the group's key
    val key = docDupGroup(id).map(g => -1L - g).getOrElse(id)
    val source = s"site${(mixed(seed, 0x50L, key) & 0x7fffffffL) % spec.sources}.example"
    val r = rng(seed, 0xD0CL, key)
    val header = if (r.nextInt(2) == 0) {
      val h = rng(seed, 0x4EADL, source.hashCode.toLong)
      words(h, 8) + " "
    } else ""
    val t = header + words(r, spec.minWords + r.nextInt(spec.maxWords - spec.minWords + 1))
    Doc(id, t, langs((id % 3).toInt), source, t.length.toLong)
  }

  /** Writes the documents table and its truth, `copies` (doc_id of every
    * planted copy), under `dir`. */
  def writeDocuments(spark: SparkSession, spec: DocSpec, seed: Long, dir: String, parts: Int): Unit = {
    import spark.implicits._
    spark.range(0, spec.docs, 1, parts).map(id => doc(spec, seed, id))
      .coalesce(1) // one file, like the sf testdata documents tables
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(0, spec.docs, 1, parts).filter(id => isPlantedCopy(id)).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$dir/copies")
  }

  def pagesOf(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/pages")
}
