package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

object Batch {
  val curate = Seq("dd_cluster", "sim_knn_graph", "txt_signals")
  val curateTables = Seq("documents", "embeddings")
}

/** A closed loop with one client: each pass runs the workload's declared
  * queries in order; warm passes write into a `noop` sink (every column
  * computed, nothing kept), the way `graft.Bench` times them. */
final class BatchWorkload(data: String, results: String, queries: Seq[String],
                          tables: Seq[String], rec: Recorder) extends Workload {
  private val entries = queries.map(q => q -> SparkEntry.queries(q))

  def nominalPassSeconds: Double = 1.3 * queries.size

  /** Touch each table the workload reads, as `graft.Bench` does, so the
    * first pass times queries rather than footer reads. */
  def setup(spark: SparkSession): Unit =
    tables.foreach(t => Tables.load(spark, data, t).count())

  /** Pass 0 is the cold pass a nightly job pays, and writes every result
    * as parquet for the checker; warm passes write to `noop`. */
  def pass(spark: SparkSession, index: Int): Seq[Main.Op] =
    entries.map { case (name, fn) =>
      val start = Clock.now
      try {
        rec(name, "queries") {
          val w = fn(spark, data).write.mode("overwrite")
          if (index == 0) w.parquet(s"$results/$name") else w.format("noop").save()
        }
        Main.Op(index, name, start, Clock.now, ok = true, null)
      } catch {
        case e: Throwable => Main.Op(index, name, start, Clock.now, ok = false, e.toString)
      }
    }

  def writeResults(spark: SparkSession, out: Out): Unit =
    out("oracle_sql") = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

  def teardown(): Unit = ()
}
