package e2ebench

import java.nio.file.Path

/** Shows that each output check passes on the program's real output and
  * fails on a deliberately corrupted copy of it: a dropped row, a perturbed
  * vector, a stale search result, and the like. Runs a small corpus through
  * the same calls as a workload.
  */
object SelfTest {

  def run(work: Path): Int = {
    val r = new Run(work, trace = false)
    try {
      val gen = new Corpus(7)
      var docs = gen.docs(0, 30, 4, 8)
      def all = docs.map(d => r.sourceOf(d) -> d).toMap
      r.writeCorpus(docs)
      val (coldRep, _) = r.pipelineRun("cold")
      val rows0 = r.sinkRows()
      val state0 = r.stateItems()
      val (noopRep, _) = r.pipelineRun("noop")
      val rows1 = r.sinkRows()

      val oldDoc = docs(0)
      val newDoc = gen.edit(oldDoc)
      val fresh = newDoc.paragraphs(1)
      val (stale, _) = r.search(fresh, "static") // before the edit is ingested
      docs = docs.updated(0, newDoc)
      r.writeCorpus(docs)
      val (deltaRep, _) = r.pipelineRun("delta")
      val rows2 = r.sinkRows()
      val (hits, _) = r.search(fresh, "fresh")
      val qv = r.embedder.embedQuery(fresh)

      val qs = docs.take(6).map(d => (d.paragraphs(0), r.sourceOf(d)))
      val ((hitRate, total, nHits), _) = r.evaluate(r.writeQuestions(qs), graft.operators.Similarity.DefaultMaxExactRows)

      def perturb(rows: Vector[SinkRow]): Vector[SinkRow] = {
        val v = rows(0).vector.clone(); v(0) += 0.5f
        rows.updated(0, rows(0).copy(vector = v))
      }
      val dim = Bench.Dim
      val size = Bench.ChunkSize
      val touched = Set(r.sourceOf(newDoc))
      val cases: Seq[(String, Seq[String], Seq[String])] = Seq(
        ("chunks: dropped row", Checks.chunks(rows0, all.updated(r.sourceOf(oldDoc), oldDoc), dim, size, exhaustive = true),
          Checks.chunks(rows0.tail, all.updated(r.sourceOf(oldDoc), oldDoc), dim, size, exhaustive = true)),
        ("chunks: perturbed vector", Checks.chunks(rows2, all, dim, size, exhaustive = true),
          Checks.chunks(perturb(rows2), all, dim, size, exhaustive = true)),
        ("chunks: text not in its document", Checks.chunks(rows2, all, dim, size),
          Checks.chunks(rows2.updated(0, rows2(0).copy(text = rows2(0).text + "x")), all, dim, size)),
        ("chunks: chunk of a stale version", Checks.chunks(rows2, all, dim, size), Checks.chunks(rows0, all, dim, size)),
        ("state: wrong fingerprint", Checks.state(state0, all.updated(r.sourceOf(oldDoc), oldDoc)),
          Checks.state(state0, all)),
        ("state: dropped item", Checks.state(state0, all.updated(r.sourceOf(oldDoc), oldDoc)),
          Checks.state(state0 - r.sourceOf(oldDoc), all.updated(r.sourceOf(oldDoc), oldDoc))),
        ("report: miscounted chunks", Checks.report("cold", coldRep, 30, 30, rows0.size, 30),
          Checks.report("cold", coldRep.copy(chunksWritten = coldRep.chunksWritten - 1), 30, 30, rows0.size, 30)),
        ("no-op: dropped row", Checks.unchanged("no-op", rows0, rows1), Checks.unchanged("no-op", rows0, rows1.tail)),
        ("no-op: perturbed vector", Checks.unchanged("no-op", rows0, rows1),
          Checks.unchanged("no-op", rows0, perturb(rows1))),
        ("delta: dropped untouched row", Checks.conserved(rows1, rows2, touched),
          Checks.conserved(rows1, rows2.filterNot(_.source == r.sourceOf(docs(1))), touched)),
        ("delta: perturbed untouched vector", Checks.conserved(rows1, rows2, touched),
          Checks.conserved(rows1, perturb(rows2.sortBy(_.source != r.sourceOf(docs(2)))), touched)),
        ("delta: reported changes", Checks.report("delta", deltaRep, 30, 1, newDoc.paragraphs.size, 1),
          Checks.report("delta", noopRep, 30, 1, newDoc.paragraphs.size, 1)),
        ("search: stale result", Checks.topK("search", rows2, qv, Bench.K, hits),
          Checks.topK("search", rows2, qv, Bench.K, stale)),
        ("search: perturbed score", Checks.topK("search", rows2, qv, Bench.K, hits),
          Checks.topK("search", rows2, qv, Bench.K, hits.updated(1, hits(1).copy(score = hits(1).score + 0.01)))),
        ("search: dropped hit", Checks.topK("search", rows2, qv, Bench.K, hits),
          Checks.topK("search", rows2, qv, Bench.K, hits.tail)),
        ("fresh search: stale rank 1", Checks.rankOne("fresh", hits, r.sourceOf(newDoc)),
          Checks.rankOne("fresh", stale, r.sourceOf(newDoc))),
        ("eval: hit_rate not 100*hits/total", Checks.eval(hitRate, total, nHits, qs.size, qs.size),
          Checks.eval(hitRate, total, nHits - 1, qs.size, qs.size - 1)),
        ("eval: question count", Checks.eval(hitRate, total, nHits, qs.size, qs.size),
          Checks.eval(hitRate, total - 1, nHits, qs.size, qs.size)),
        ("eval: verbatim question missed", Checks.eval(hitRate, total, nHits, qs.size, qs.size),
          Checks.eval(100.0 * (nHits - 1) / total, total, nHits - 1, qs.size, qs.size)))

      val bad = cases.filter { case (name, real, corrupt) =>
        val ok = real.isEmpty && corrupt.nonEmpty
        println(s"${if (ok) "ok  " else "FAIL"} $name" +
          (if (real.nonEmpty) s" (real output failed: ${real.head})" else "") +
          (if (corrupt.isEmpty) " (corrupted output passed)" else s" -> ${corrupt.head}"))
        !ok
      }
      println(s"self-test: ${cases.size - bad.size}/${cases.size} checks behave")
      if (bad.isEmpty) 0 else 1
    } finally r.stop()
  }
}
