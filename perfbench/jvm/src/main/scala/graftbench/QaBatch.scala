package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.graph.PropertyGraph
import graft.operators.Metrics
import graft.pipeline.TrainingData

/** Every question at once through the batched operators: candidates
  * (1-hop, 2-hop, 2-path), the llm1 label gate, rank-biased sampling,
  * per-question 1-hop retrieval and the macro-averaged IR metrics. Each
  * stage's output is persisted and counted, so each stage's time is its
  * own. A pass is one operation. */
final class QaBatch(spark: SparkSession, g: PropertyGraph,
                    questions: IndexedSeq[Question], warmupQs: Seq[Question])
    extends Workload {
  val NSamples = 5

  private def frames(qs: Seq[Question]): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val qa = spark.createDataFrame(qs.map(q => Row(q.id, q.text, q.mentions, q.gold)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("question", StringType),
        StructField("entities", ArrayType(StringType)),
        StructField("answer_ids", ArrayType(LongType)))))
    val emb = spark.createDataFrame(qs.map(q => Row(q.id, q.emb)).asJava,
      StructType(Seq(StructField("id", LongType),
        StructField("q_emb", ArrayType(DoubleType)))))
    (qa, emb)
  }

  private val (qa, qEmb) = frames(questions)

  private def keep(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** One pass; returns the stage times and, when `collect`, the outputs. */
  private def pass(qa: DataFrame, qEmb: DataFrame, req: String,
                   collect: Boolean): (Seq[Double], Map[String, Any]) = {
    val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    def stage[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      val r = Trace.span(name, req)(body)
      times += (System.nanoTime() - t) / 1e9
      r
    }
    val cols = Seq("id", "cypher_query", "hits", "num_results").map(col)
    try Trace.span("batch", req) {
      val (one, cands) = stage("pipeline.batch_candidates") {
        val one = keep(TrainingData.oneHopCandidates(g, qa))
        val all = keep(one.select(cols: _*)
          .unionByName(TrainingData.twoHopCandidates(g, qa).select(cols: _*))
          .unionByName(TrainingData.twoPathCandidates(g, qa).select(cols: _*)))
        held ++= Seq(one, all)
        (one, all)
      }
      val gated = stage("pipeline.batch_gate") {
        val d = keep(TrainingData.bestLabelGate(cands, qa)); held += d; d
      }
      val sampled = stage("pipeline.batch_sample") {
        val d = keep(TrainingData.sampleCandidates(cands, NSamples)); held += d; d
      }
      val retrieved = stage("pipeline.batch_retrieve") {
        val w = Window.partitionBy(col("id"))
          .orderBy(col("hits").desc, col("num_results"), col("cypher_query"))
        val picked = one.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select("id", "src_name", "rel_type", "tgt_label")
        val d = keep(TrainingData.batchRetrieve1Hop(g, picked, qEmb)); held += d; d
      }
      val metrics = stage("operators.metrics") {
        val preds = retrieved.groupBy("id")
          .agg(sort_array(collect_list(struct(col("rank"), col("node_id")))).as("r"))
          .select(col("id"), col("r.node_id").as("preds"))
        Metrics.macroAvg(preds.join(qa, "id"), col("preds"), col("answer_ids"))
          .collect().head
      }
      val outputs: Map[String, Any] = if (!collect) Map.empty else Map(
        "candidates" -> cands.collect().map(r => Seq(r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSeq,
        "gated" -> gated.select("id").collect().map(_.getLong(0)).toSeq,
        "sampled" -> sampled.select("id", "sample_no", "cypher_query").collect()
          .map(r => Seq(r.get(0), r.get(1), r.get(2))).toSeq,
        "retrieved" -> retrieved.collect().map(r => Seq(r.getAs[Long]("id"),
          r.getAs[Long]("node_id"), r.getAs[Any]("similarity"),
          r.getAs[Int]("rank"))).toSeq,
        "metrics" -> metrics.schema.fieldNames.zip(metrics.toSeq).toMap)
      (times.toSeq, outputs)
    } finally held.foreach(_.unpersist(true))
  }

  def warmup(): Unit = {
    val (wqa, wemb) = frames(warmupQs)
    pass(wqa, wemb, "warmup", collect = false)
  }

  def run(seconds: Double, outDir: String): Stats = {
    val passes = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    var attempted, failed = 0L
    val start = System.nanoTime()
    while (attempted == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      attempted += 1
      try {
        val (times, outputs) = pass(qa, qEmb, s"pass${attempted}", collect = passes.isEmpty)
        passes += times
        if (outputs.nonEmpty) Main.write(s"$outDir/batch.json", outputs)
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] batch pass $attempted failed: $e")
      }
    }
    Stats(attempted, failed, Map("pass_stage_s" -> passes.toSeq,
      "questions" -> questions.size))
  }
}
