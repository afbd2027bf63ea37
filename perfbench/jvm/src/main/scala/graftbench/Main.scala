package graftbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.graph.TpchGraph

/** One generated question: the mentions are what the fixed-mention
  * extractor returns, `gold` the answer node ids, `emb` the question
  * embedding. */
final case class Question(id: Long, kind: String, text: String,
                          mentions: Seq[String], gold: Seq[Long], emb: Seq[Double])

/** Benchmark process: set-up, then one workload for a fixed time.
  *
  * Args: <workload> <dataDir> <questions.json> <outDir> <seconds> <trace 0|1>
  * <cpus>. The questions file holds `warmup` (the warm-up questions) and
  * `questions` (the measured ones). Raw timings, spans and the outputs the
  * checker reads go to `outDir`; perfbench/run.py turns them into metrics.
  * A traced qa_online run also times the LOAD steps and catalog entries
  * ([[CatalogLoad]]) after the questions. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workload, dataDir, qFile, outDir, secondsS, traceS, cpusS) = args
    val seconds = secondsS.toDouble
    val cpus = cpusS.toInt
    val input = json.readTree(new java.io.File(qFile))
    val warmupQs = readQuestions(input.get("warmup"))
    val questions = readQuestions(input.get("questions"))

    val spark = graft.Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$outDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traceS == "1") Trace.enable(spark.sparkContext)
    val sessionS = (System.nanoTime() - t0) / 1e9

    // LOAD: the property graph, the only layout the question workloads read
    val tg = System.nanoTime()
    val g = Trace.span("load", "graph") {
      val gr = TpchGraph(spark, dataDir)
      gr.nodes.count(); gr.rels.count()
      gr
    }
    val graphS = (System.nanoTime() - tg) / 1e9

    val w: Workload = workload match {
      case "qa_online" => new QaOnline(g, questions, warmupQs)
      case "qa_batch" => new QaBatch(spark, g, questions, warmupQs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tw = System.nanoTime()
    Trace.span("setup.warmup", "setup")(w.warmup())
    val warmupS = (System.nanoTime() - tw) / 1e9
    val cacheBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val setupS = (System.nanoTime() - t0) / 1e9

    val stats = w.run(seconds, outDir)
    val loadWritten =
      if (Trace.on && workload == "qa_online") CatalogLoad.run(spark, g, dataDir, outDir)
      else Map.empty
    write(s"$outDir/result.json", Map(
      "workload" -> workload,
      "trace" -> Trace.on,
      "setup" -> Map("total_s" -> setupS, "session_s" -> sessionS,
        "graph_s" -> graphS, "warmup_s" -> warmupS, "cache_bytes" -> cacheBytes),
      "attempted" -> stats.attempted, "failed" -> stats.failed,
      "timings" -> stats.timings,
      "load_written" -> loadWritten,
      "spans" -> Trace.all.map(s => Seq(s.id, s.parent, s.name, s.req,
        (s.startNs - t0) / 1e9, (s.endNs - t0) / 1e9, s.delta.jobs,
        s.delta.stages, s.delta.tasks, s.delta.cpuNs / 1e9,
        s.delta.shuffleBytes))))
    spark.stop()
  }

  def readQuestions(list: JsonNode): IndexedSeq[Question] =
    list.elements().asScala.map { n =>
      Question(n.get("id").asLong, n.get("kind").asText, n.get("question").asText,
        n.get("mentions").elements().asScala.map(_.asText).toSeq,
        n.get("gold").elements().asScala.map(_.asLong).toSeq,
        n.get("emb").elements().asScala.map(_.asDouble).toSeq)
    }.toIndexedSeq
}

/** What a workload reports back: counts and its raw timings by name. */
final case class Stats(attempted: Long, failed: Long, timings: Map[String, Any])

trait Workload {
  /** One untimed operation, run at the end of set-up. */
  def warmup(): Unit
  /** Runs operations, at least one, until `seconds` have passed; writes
    * the outputs the checker needs under `outDir`. */
  def run(seconds: Double, outDir: String): Stats
}
