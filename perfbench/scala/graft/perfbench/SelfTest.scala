package graft.perfbench

import java.security.MessageDigest

import graft.functions.MinHashImpl

/** Generator checks on tiny corpora, in-process (no Spark):
  *
  *   - the same seed gives the same bytes, another seed different bytes
  *     (pages and documents);
  *   - the truth is right, by brute force over every pair: identical texts
  *     are planted exact/skew groups, every near pair at Jaccard >= tau
  *     across the corpus is a recorded near pair (and the reverse), every
  *     substring pair shares a >= 200-char window, short docs are exactly
  *     the docs below minLen, and planted document copies equal their
  *     group's first doc.
  */
object SelfTest {

  private val spec = Workloads.BulkMixed.copy(docs = 500)

  def pagesDigest(seed: Long): String = {
    val L = Corpus.Layout(spec, seed)
    val md = MessageDigest.getInstance("SHA-256")
    (0 until spec.docs).foreach { i =>
      val p = Corpus.page(L, i)
      md.update(s"${p.url}\u0000${p.warc_ts.getTime}\u0000${p.lang}\u0000${p.text}\u0000".getBytes("UTF-8"))
      md.update(p.html)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def docsDigest(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    (0L until 300L).foreach { id =>
      val d = Corpus.doc(Workloads.Documents, seed, id)
      md.update(s"${d.doc_id}\u0000${d.text}\u0000${d.lang}\u0000${d.source}\u0000${d.n_chars}\u0000"
        .getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def sharesWindow(a: String, b: String, w: Int): Boolean =
    (0 to a.length - w).exists(i => b.contains(a.substring(i, i + w)))

  def truthErrors(seed: Long): Seq[String] = {
    val L = Corpus.Layout(spec, seed)
    val n = spec.docs
    val slots = (0 until n).map(L.slot)
    val texts = (0 until n).map(Corpus.text(L, _))
    val urls = (0 until n).map(Corpus.url(L, _))
    val near = (0 until L.nearGroups).flatMap(Corpus.nearPairs(L, _)).toSet
    val sets = texts.map(t => MinHashImpl.shingleSet(t, Corpus.ShingleK, Corpus.ShingleSeed))
    def jaccard(i: Int, j: Int): Double = {
      val (a, b) = (sets(i).toSet, sets(j).toSet)
      val inter = a.count(b.contains)
      if (a.isEmpty && b.isEmpty) 0.0 else inter.toDouble / (a.size + b.size - inter)
    }
    val errs = Seq.newBuilder[String]
    for (i <- 0 until n) {
      val short = texts(i).length < Corpus.MinLen
      if (short != (slots(i).cls == "short")) errs += s"doc $i: length ${texts(i).length} vs ${slots(i)}"
    }
    val live = (0 until n).filter(i => slots(i).cls != "short")
    for (x <- live.indices; y <- x + 1 until live.size) {
      val (i, j) = (live(x), live(y))
      val (si, sj) = (slots(i), slots(j))
      val sameGroup = si.cls == sj.cls && si.group == sj.group
      if (texts(i) == texts(j)) {
        if (!sameGroup || !Set("exact", "skew").contains(si.cls))
          errs += s"identical texts outside a planted group: $si $sj"
      } else if (sameGroup && Set("exact", "skew").contains(si.cls))
        errs += s"planted exact group with differing texts: $si $sj"
      val j8 = jaccard(i, j) >= Corpus.JaccardTau
      val recorded = near.contains((urls(i), urls(j))) || near.contains((urls(j), urls(i)))
      if (si.cls == "near" && sameGroup) {
        if (j8 != recorded) errs += s"near truth wrong for $si $sj (jaccard ${jaccard(i, j)})"
      } else if (recorded) errs += s"recorded near pair outside a near group: $si $sj"
      else if (j8 && !(sameGroup && si.cls != "unique"))
        errs += s"unplanted pair at Jaccard >= tau: $si $sj"
      if (si.cls == "substring" && sameGroup && !sharesWindow(texts(i), texts(j), 200))
        errs += s"substring pair without a 200-char shared window: $si $sj"
    }
    for (id <- 0L until 300L if Corpus.isPlantedCopy(id); g <- Corpus.docDupGroup(id)) {
      val first = Corpus.doc(Workloads.Documents, seed, g * 10)
      if (Corpus.doc(Workloads.Documents, seed, id).text != first.text)
        errs += s"document $id differs from its planted group's first doc"
    }
    errs.result()
  }

  def run(): Boolean = {
    val checks = Seq(
      "pages: same seed, same bytes" -> (pagesDigest(7L) == pagesDigest(7L)),
      "pages: another seed, other bytes" -> (pagesDigest(7L) != pagesDigest(8L)),
      "documents: same seed, same bytes" -> (docsDigest(7L) == docsDigest(7L)),
      "documents: another seed, other bytes" -> (docsDigest(7L) != docsDigest(8L)))
    val truth = Seq(7L, 8L).flatMap(truthErrors)
    checks.foreach { case (name, ok) => println(s"SELFTEST ${if (ok) "ok  " else "FAIL"} $name") }
    truth.take(20).foreach(e => println(s"SELFTEST FAIL truth: $e"))
    println(s"SELFTEST ${if (truth.isEmpty) "ok  " else "FAIL"} truth on two tiny corpora")
    checks.forall(_._2) && truth.isEmpty
  }
}
