package graftbench

import graft.graph.PropertyGraph
import graft.pipeline.GraphRaft
import graft.pipeline.GraphRaft._

/** Closed loop, one client: each question goes through `GraphRaft.run`
  * (untraced) or through the same five calls with a span around each
  * (traced). */
final class QaOnline(g: PropertyGraph, questions: IndexedSeq[Question],
                     warmupQs: Seq[Question]) extends Workload {
  private val config = Config()

  private def extractor(q: Question): EntityExtractor = new EntityExtractor {
    def extract(question: String): Seq[String] = q.mentions
  }

  private def answer(q: Question): Result =
    if (!Trace.on)
      GraphRaft.run(g, q.text, q.emb, config, extractor(q), goldIds = Some(q.gold))
    else Trace.span("question", q.id.toString) {
      val mentions = extractor(q).extractLabeled(q.text)
      val src = Trace.span("pipeline.match", q.id.toString)(
        matchEntities(g, mentions, HashEncoder, config.sortingIndex))
      val cands = Trace.span("pipeline.enumerate", q.id.toString)(
        enumerateCandidates(g, src, Some(q.gold), config.patterns, config.targetLabel))
      val top = Trace.span("pipeline.rank", q.id.toString)(
        HeuristicRanker.rank(cands, config.beamWidth))
      val df = Trace.span("pipeline.retrieve_build", q.id.toString)(
        retrieveData(g, top.map(_.cypher), q.emb, config.nodeProps,
          config.sortingIndex, config.maxNodes, ef = config.ef))
      val rows = Trace.span("pipeline.retrieve_action", q.id.toString)(df.collect())
      val retrieved = rows.toSeq.map(r => Retrieved(r.getAs[Long]("nodeId"),
        r.getAs[String]("name"), r.getAs[Double]("similarity"),
        r.getSeq[String](r.fieldIndex("patterns"))))
      Result(src, cands, top.map(_.cypher), retrieved,
        RetrievalAnswerer.answer(q.text, retrieved))
    }

  private def record(q: Question, r: Result, latency: Double, warmup: Boolean): String =
    Main.json.writeValueAsString(Map("id" -> q.id, "warmup" -> warmup, "latency_s" -> latency,
      "sources" -> r.sourceNames,
      "candidates" -> r.candidates.map(c => Seq(c.cypher, c.hits.getOrElse(0L), c.numResults)),
      "top" -> r.topQueries,
      "retrieved" -> r.retrieved.map(x => Seq(x.nodeId, x.name, x.similarity, x.patterns)),
      "answers" -> r.answers))

  // the warm-up answers are checked too; the one to a question that
  // names no node is the KNN backfill alone, which the found nodes of
  // every other kind leave empty
  private var warm: Seq[String] = Nil

  def warmup(): Unit = warm = warmupQs.map(q => record(q, answer(q), 0.0, warmup = true))

  def run(seconds: Double, outDir: String): Stats = {
    val out = new java.io.PrintWriter(s"$outDir/online.jsonl", "UTF-8")
    warm.foreach(out.println)
    val latencies = scala.collection.mutable.ArrayBuffer[Double]()
    var attempted, failed = 0L
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (i == 0 || elapsed < seconds) {
      val q = questions(i % questions.size)
      attempted += 1
      val t = System.nanoTime()
      try {
        val r = answer(q)
        latencies += (System.nanoTime() - t) / 1e9
        out.println(record(q, r, latencies.last, warmup = false))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] question ${q.id} failed: $e")
      }
      i += 1
    }
    val wall = elapsed
    out.close()
    Stats(attempted, failed, Map("latencies_s" -> latencies.toSeq, "wall_s" -> wall))
  }
}
