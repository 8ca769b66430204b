package e2ebench

/** One sink row as the benchmark collects it through `GraftSink.read`. */
final case class SinkRow(id: String, source: String, chunkIndex: Int, text: String,
                         vector: Array[Float]) {
  /** Identity of the row's full content, vector bits included. */
  def key: (String, String, Int, String, Seq[Int]) =
    (id, source, chunkIndex, text, vector.toSeq.map(java.lang.Float.floatToIntBits))
}

/** One search result row: (source, text, score), as `Searcher.search` returns. */
final case class Hit(source: String, text: String, score: Double)

/** Output checks. Each compares the program's output with the generator's
  * own record of the inputs, or with a property the method must have; none
  * compares a value with what it was made from. Each returns the failures
  * it found, empty when the output passes.
  */
object Checks {

  /** Chunks of the documents in `docs` (keyed by sink `source`): every chunk
    * is a substring of its document, no longer than `chunkSize`, indexed
    * densely 1..n with n the document's paragraph count, and carries a
    * `dim`-dimensional vector of unit or zero L2 norm. A document without
    * rows is a failure; rows of other sources are one only if `exhaustive`.
    */
  def chunks(rows: Seq[SinkRow], docs: Map[String, Doc], dim: Int, chunkSize: Int,
             exhaustive: Boolean = false): Seq[String] = {
    val (mine, foreign) = rows.partition(r => docs.contains(r.source))
    val foreignErr =
      if (exhaustive && foreign.nonEmpty) Seq(s"${foreign.size} rows of sources never generated, e.g. ${foreign.head.source}")
      else Nil
    val perRow = mine.flatMap { r =>
      val text = docs(r.source).text
      val norm = math.sqrt(r.vector.map(x => x.toDouble * x).sum)
      Seq(
        (!text.contains(r.text)) -> s"chunk ${r.id} of ${r.source} is not a substring of its document",
        (r.text.length > chunkSize) -> s"chunk ${r.id} is ${r.text.length} > $chunkSize characters",
        (r.vector.length != dim) -> s"chunk ${r.id} has a ${r.vector.length}-dimensional vector, expected $dim",
        (norm != 0.0 && math.abs(norm - 1.0) > 1e-4) -> s"chunk ${r.id} has vector norm $norm"
      ).collect { case (true, msg) => msg }
    }
    val bySource = mine.groupBy(_.source)
    val perDoc = docs.toSeq.flatMap { case (source, d) =>
      val idx = bySource.getOrElse(source, Nil).map(_.chunkIndex).sorted
      if (idx != (1 to d.paragraphs.size)) Seq(
        s"$source has chunk indexes ${idx.take(8).mkString(",")}… (${idx.size}), expected 1..${d.paragraphs.size}")
      else Nil
    }
    foreignErr ++ perRow ++ perDoc
  }

  /** State rows (item id -> fingerprint, run watermark excluded): exactly the
    * generated documents, each with the SHA-256 of its generated text.
    */
  def state(items: Map[String, String], docs: Map[String, Doc]): Seq[String] = {
    val missing = docs.keySet.diff(items.keySet).toSeq.map(s => s"state lacks $s")
    val extra = items.keySet.diff(docs.keySet).toSeq.map(s => s"state has unknown item $s")
    val wrong = docs.toSeq.flatMap { case (s, d) =>
      items.get(s).filter(_ != Corpus.sha256Hex(d.text)).map(fp => s"state fingerprint of $s is $fp")
    }
    missing ++ extra ++ wrong
  }

  def report(what: String, got: graft.Pipeline.RunReport,
             loaded: Long, changed: Long, chunks: Long, sources: Long): Seq[String] = {
    val want = graft.Pipeline.RunReport(loaded, changed, chunks, sources)
    if (got == want) Nil else Seq(s"$what reported $got, the generator expects $want")
  }

  /** Order-independent checksum over every row's full content. */
  def checksum(rows: Seq[SinkRow]): Long =
    rows.foldLeft(0L)((acc, r) => acc + scala.util.hashing.MurmurHash3.productHash(r.key).toLong * 0x9E3779B97F4A7C15L)

  def unchanged(what: String, before: Seq[SinkRow], after: Seq[SinkRow]): Seq[String] =
    if (before.size == after.size && checksum(before) == checksum(after)) Nil
    else Seq(s"$what changed the sink: ${before.size} rows -> ${after.size} rows or checksum differs")

  /** Every row of a source outside `touched` is in `after` exactly as in `before`. */
  def conserved(before: Seq[SinkRow], after: Seq[SinkRow], touched: Set[String]): Seq[String] = {
    def keep(rows: Seq[SinkRow]) =
      rows.filterNot(r => touched.contains(r.source)).map(_.key).groupBy(identity).view.mapValues(_.size).toMap
    val (b, a) = (keep(before), keep(after))
    if (a == b) Nil
    else {
      val lost = b.keySet.diff(a.keySet).size
      val added = a.keySet.diff(b.keySet).size
      Seq(s"untouched sources' rows not conserved: $lost lost or altered, $added new")
    }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) Double.NaN else dot / math.sqrt(na * nb)
  }

  /** `got` is a top-k by cosine over `rows`, checked by brute force: k rows
    * (fewer only if the table is smaller), scores non-increasing and equal
    * to the recomputed cosine of a row with that source and text, no row
    * left out that scores above the k-th score (ties at the k-th allowed).
    */
  def topK(what: String, rows: Seq[SinkRow], query: Array[Float], k: Int, got: Seq[Hit]): Seq[String] = {
    val eps = 1e-5
    val scored = rows.map(r => (r, cosine(r.vector, query))).filterNot(_._2.isNaN).sortBy(-_._2)
    val want = scored.take(k)
    val byKey = scored.groupBy { case (r, _) => (r.source, r.text) }
    val errs = Seq.newBuilder[String]
    if (got.size != want.size) errs += s"$what returned ${got.size} rows, expected ${want.size}"
    got.sliding(2).foreach {
      case Seq(a, b) if b.score > a.score + eps => errs += s"$what scores not in descending order"
      case _ =>
    }
    got.foreach { h =>
      byKey.get((h.source, h.text)) match {
        case None => errs += s"$what returned a row that is not in the sink: ${h.source}"
        case Some(cands) if !cands.exists { case (_, s) => math.abs(s - h.score) <= eps } =>
          errs += s"$what returned score ${h.score} for ${h.source}, brute force gives ${cands.map(_._2).mkString(",")}"
        case _ =>
      }
    }
    if (want.nonEmpty) {
      val kth = want.last._2
      val must = scored.takeWhile(_._2 > kth + eps).map { case (r, _) => (r.source, r.text) }
      val gotKeys = got.map(h => (h.source, h.text)).toSet
      must.filterNot(gotKeys).foreach(m => errs += s"$what missed ${m._1} scoring above the k-th score $kth")
      got.filter(_.score < kth - eps).foreach(h => errs += s"$what returned ${h.source} below the k-th score $kth")
    }
    errs.result()
  }

  def rankOne(what: String, got: Seq[Hit], source: String): Seq[String] =
    if (got.headOption.exists(_.source == source)) Nil
    else Seq(s"$what: rank 1 is ${got.headOption.map(_.source).getOrElse("empty")}, expected $source")

  /** One `Evaluator.evaluate` result row against the generated question set. */
  def eval(hitRate: Double, total: Long, hits: Long, questions: Int, verbatim: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (total != questions) errs += s"eval counted $total questions, the set has $questions"
    if (total > 0 && math.abs(hitRate - 100.0 * hits / total) > 1e-4)
      errs += s"eval hit_rate $hitRate is not 100*$hits/$total"
    if (hits < verbatim) errs += s"eval found $hits hits, but $verbatim questions are verbatim chunks"
    errs.result()
  }
}
