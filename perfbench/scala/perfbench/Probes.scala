package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.{Codecs, FastHash}
import graft.operators.{Dedup, SimilarityIvf}
import graft.sources.{Kafka, MiniKafkaBroker, Sources, Tables}

/** Single-layer probes for the traced run: each calls one layer's public
  * function on the seed's inputs, so a change to that layer shows in its
  * own number. Every traced run makes the same probes, whatever its
  * workload, so every workload reports every per-layer metric. */
object Probes {
  val Reps = 3

  def run(spark: SparkSession, a: Main.Args, rec: Recorder, out: Out,
          jobs: JobListener): Unit = {
    val res = mutable.LinkedHashMap[String, Any]()
    val sc = spark.sparkContext

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    /** Median seconds over `Reps` runs of `f`, each in its own span. */
    def timed(name: String, layer: String, reps: Int = Reps)(f: => Unit): Double = {
      val ts = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        rec(s"probe.$name", layer)(f)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.size / 2)
    }

    val data = a.data
    res("sources.scan_s") = timed("scan", "sources") {
      Batch.curateTables.foreach(t => noop(Tables.load(spark, data, t)))
    }

    val docs = Tables.documents(spark, data)
    val pairs = Dedup.charNgramJaccardPairs(docs, n = 3, sampleMod = 10, threshold = 0.6)
      .select("a_id", "b_id")
    var nPairs = 0L
    res("operators.ngram_pairs_s") = timed("ngram_pairs", "operators") {
      nPairs = pairs.count()
    }
    res("operators.ngram_pairs_out") = nPairs
    val cached = pairs.cache()
    cached.count()
    val nodes = docs.filter(col("doc_id") % 10 === 0).select("doc_id")
    var ccJobs = 0
    res("operators.cc_s") = timed("cc", "operators") {
      org.apache.spark.PerfbenchBus.drain(sc)
      val before = jobs.jobCount
      noop(Dedup.connectedComponents(nodes, cached))
      org.apache.spark.PerfbenchBus.drain(sc)
      ccJobs = jobs.jobCount - before
    }
    res("operators.cc_jobs") = ccJobs
    cached.unpersist(blocking = true)

    val emb = Tables.embeddings(spark, data)
    val nEmb = emb.count()
    val cells = math.max(16, math.sqrt(nEmb.toDouble).toInt)
    var build = 0
    def indexPath = s"${a.work}/probe-ivf-$build"
    res("operators.ivf_build_s") = timed("ivf_build", "operators") {
      build += 1
      SimilarityIvf.buildIndex(emb, indexPath, nCells = cells)
    }
    val plans = new PlanCapture
    spark.listenerManager.register(plans)
    res("operators.knn_s") = timed("knn", "operators") {
      noop(SimilarityIvf.knnGraphIvf(spark, indexPath, k = 3, nprobe = 2))
    }
    org.apache.spark.PerfbenchBus.drain(sc) // the listener hears plans on the bus
    spark.listenerManager.unregister(plans)
    res("operators.knn_pair_yield") = plans.pairYield.getOrElse(Double.NaN)

    val docsCached = docs.cache()
    docsCached.count()
    res("functions.text_counts_s") = timed("text_counts", "functions") {
      noop(docsCached.select(FastHash.textCountsCol(col("text")).as("tc")))
    }
    val json = docs.select(to_json(struct(docs.columns.map(col): _*)).as("value")).cache()
    val nJson = json.count()
    val docSchema = StructType(docs.schema.fields.map(_.copy(nullable = true)))
    res("functions.json_decode_rps") = nJson / timed("json_decode", "functions") {
      noop(json.select(Codecs.fromJsonCol(col("value"), docSchema).as("d")).select("d.*"))
    }

    val broker = new MiniKafkaBroker(Map("fetch" -> 2, "produce" -> 2))
    try {
      val boot = ("127.0.0.1", broker.boundPort)
      val keyed = Sources.encodeKafka(docsCached, "{doc_id}").cache()
      val n = keyed.count()
      Kafka.write(keyed, boot, "fetch")
      res("sources.kafka_fetch_rps") = n / timed("kafka_fetch", "sources") {
        noop(Kafka.read(spark, boot, "fetch"))
      }
      res("sources.kafka_produce_rps") = n / timed("kafka_produce", "sources") {
        Kafka.write(keyed, boot, "produce", idempotent = true)
      }
      keyed.unpersist(blocking = true)
    } finally broker.close()
    json.unpersist(blocking = true)
    docsCached.unpersist(blocking = true)

    // fixed work: the t7_hash_throughput kernel over 1M rows
    res("box.canary_s") = timed("canary", "box") {
      spark.range(1000000L).toDF("id")
        .select(FastHash.bankChainedSha256Col(col("id"), rounds = 1).as("h"))
        .agg(count(lit(1)), max(hex(col("h")))).collect()
    }

    // batch workloads get the streaming layer from a short run of the
    // stream pipeline; stream_kafka measures it in its own passes
    if (a.workload != "stream_kafka") rec("probe.stream", "streaming") {
      val progress = new ProgressListener
      spark.streams.addListener(progress)
      val wl = new StreamWorkload(a, rec, tag = "probe")
      try {
        wl.setup(spark)
        (0 to 1).foreach(i => wl.pass(spark, i).filterNot(_.ok).foreach(o =>
          throw new IllegalStateException(s"probe stream ${o.name}: ${o.error}")))
        wl.finish(spark, out)
        wl.writeResults(spark, out)
      } finally {
        wl.teardown()
        spark.streams.removeListener(progress)
      }
      out.tables("progress_probe") = progress.all.map { case (t, j) => Seq(t, j) }
    }
    out("probes") = res.toMap
  }

  /** Pairs kept over pairs scored for the k-NN graph: the cell join's
    * output rows are the scored pairs, the top node's are the kept ones. */
  final class PlanCapture extends QueryExecutionListener {
    @volatile var pairYield: Option[Double] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val all = PlanMetrics.nodes(qe.executedPlan)
      val scored = all.filter(_.nodeName.contains("Join")).flatMap(PlanMetrics.rows)
      val kept = all.flatMap(PlanMetrics.rows).headOption
      if (scored.nonEmpty && kept.isDefined && scored.max > 0)
        pairYield = Some(kept.get.toDouble / scored.max)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
