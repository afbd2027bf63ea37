package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.graph.PropertyGraph
import graft.{Queries, SparkEntry}

/** Traced qa_online runs only, after the questions: the LOAD steps `graft.Bench`
  * runs after the graph build, then one pass of the nine catalog entries
  * of the ROADMAP's measured table, with Bench's method (a GC quiesce
  * before each entry, blocking cleanup of the RDDs it persisted).
  *
  * Spans: `load` per step and `catalog.build` / `catalog.action` per
  * entry, the request id being the step or entry name. Each entry's
  * result is written untimed to `outDir/catalog/<name>` and its oracle SQL
  * to `outDir/oracle_sql.json` for the checker. The IVF store step is left
  * out: `Queries.annIvf*` write under a fixed /tmp path. */
object CatalogLoad {
  val Entries = Seq("graph_betweenness", "graph_modularity", "graph_scc_bounded",
    "graph_kcore", "cy_shortest_rels", "a5_ir_bootstrap", "dedup_ngram_jaccard",
    "pipeline_retrieve", "j2_onehop")

  /** Runs the steps and entries; returns, per LOAD step, the bytes it
    * wrote and the new top-level paths under the temp and warehouse
    * directories. */
  def run(spark: SparkSession, g: PropertyGraph, dataDir: String,
          outDir: String): Map[String, Map[String, Any]] = {
    val roots = Seq(new File(System.getProperty("java.io.tmpdir")),
      new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))
    def entries = roots.flatMap(r => Option(r.listFiles).toSeq.flatten)
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length
    val steps: Seq[(String, () => Unit)] = Seq(
      "adjacency" -> (() => { g.adjPairs.count(); g.bidirTriples.count(); g.nodeCount }),
      "graphx" -> (() => graft.graph.GraphXBridge.materialize(spark, g)),
      "bucketed" -> (() => Queries.warmBucketed(spark, dataDir)),
      "zorder" -> (() => Queries.warmZorder(spark, dataDir)),
      "partitioned" -> (() => Queries.warmPartitioned(spark, dataDir)),
      "tar" -> (() => Queries.warmTar(spark, dataDir)),
      "search" -> (() => Queries.warmSearchStore(spark, dataDir)))
    val written = steps.map { case (step, body) =>
      val before = entries.toSet
      Trace.span("load", step)(body())
      val added = entries.filterNot(before)
      step -> Map("bytes" -> added.map(bytes).sum, "paths" -> added.map(_.getPath))
    }.toMap

    val sc = spark.sparkContext
    val loadRdds = sc.getPersistentRDDs.keySet.toSet
    Main.write(s"$outDir/oracle_sql.json", Entries.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    for (name <- Entries) {
      System.gc()
      Thread.sleep(150)
      val df = Trace.span("catalog.build", name)(SparkEntry.queries(name)(spark, dataDir))
      Trace.span("catalog.action", name)(df.count())
      df.write.parquet(s"$outDir/catalog/$name")
      for ((id, rdd) <- sc.getPersistentRDDs if !loadRdds.contains(id))
        rdd.unpersist(blocking = true)
    }
    written
  }
}
