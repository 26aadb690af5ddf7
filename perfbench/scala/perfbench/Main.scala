package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets the workload up three times, runs its
  * passes for the requested seconds, writes every batch result for the
  * checker, runs the per-layer probes when traced, and dumps what it
  * recorded to `<work>/raw.json` plus tab-separated side files. The
  * Python side (`perfbench/run.py`) computes and checks the metrics.
  *
  * Args: workload seed seconds trace(0|1) dataDir workDir launchEpochNs */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        launchNs: Long)

  /** One timed operation of a pass: a query, or a stream burst. */
  final case class Op(pass: Int, name: String, start: Long, end: Long,
                      ok: Boolean, error: String)

  val SetupRepeats = 3
  val WarmupPasses = 1

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6).toLong)
    val rec = new Recorder
    val out = new Out(a.work)
    out("workload") = a.workload
    out("seed") = a.seed
    out("trace") = a.trace
    val code =
      try { run(a, rec, out); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          out("fatal") = e.toString
          1
      }
    out.write(Path.of(a.work), rec)
    // Spark and the broker leave non-daemon threads behind
    Runtime.getRuntime.halt(code)
  }

  def workloadFor(a: Args, rec: Recorder): Workload = a.workload match {
    case "curate" =>
      new BatchWorkload(a.data, s"${a.work}/results", Batch.curate, Batch.curateTables, rec)
    case "stream_kafka" => new StreamWorkload(a, rec)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(a: Args, rec: Recorder, out: Out): Unit = rec("run", "bench") {
    val wl = workloadFor(a, rec)
    var spark: SparkSession = null
    // the first set-up counts from process launch (JVM start included);
    // each later one from the end of the previous session's stop
    val setups = (0 until SetupRepeats).map { i =>
      if (spark != null) rec("stop", "bench") { wl.teardown(); spark.stop() }
      val t0 = if (i == 0) a.launchNs else Clock.now
      rec("setup", "bench") {
        spark = Session.create(a.work)
        wl.setup(spark)
      }
      (Clock.now - t0) / 1e9
    }
    out("setup_s") = setups
    out("conf") = Session.effectiveConf(spark)

    val jobs = new JobListener
    val progress = new ProgressListener
    val sc = spark.sparkContext
    val ops = ArrayBuffer[Op]()
    val passes = ArrayBuffer[(Int, Boolean, Boolean, Long, Long)]()
    // Pass 0 is the cold pass. The next `WarmupPasses` let the JIT settle
    // and are not measured: pass times fall steeply over the first warm
    // passes, and a median taken on that slope moves with the speed of the
    // box. The measured passes fill about `seconds` at the workload's
    // nominal pass time; their number is fixed, not timed, so every run
    // measures the same stretch of the warm-up curve. Traced runs alternate
    // traced and untraced measured passes; the difference is the tracing
    // overhead.
    val measuredPasses = math.max(if (a.trace) 4 else 3,
      math.round(a.seconds / wl.nominalPassSeconds).toInt)
    // stream progress is cheap and per micro-batch: kept for the whole run
    if (a.trace) spark.streams.addListener(progress)
    // a traced run skips the warm-up to stay inside its time limit: its
    // figures are compared with other traced runs, and its alternating
    // passes put the warm-up trend on both sides of the overhead alike
    val warmups = if (a.trace) 0 else WarmupPasses
    var i = 0
    while (i <= warmups + measuredPasses) {
      val warmup = i >= 1 && i <= warmups
      // measured passes run traced, untraced, untraced, traced, ...
      val j = i - warmups - 1
      val traced = a.trace && (i == 0 || (j >= 0 && (j % 4 == 0 || j % 4 == 3)))
      if (traced) sc.addSparkListener(jobs)
      val start = Clock.now
      ops ++= rec(if (warmup) "warmup" else "pass", "bench")(wl.pass(spark, i))
      val end = Clock.now
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(jobs)
      }
      passes += ((i, warmup, traced, start, end))
      i += 1
    }
    ops ++= rec("finish", "bench")(wl.finish(spark, out))
    out("passes") = passes.map { case (n, wu, tr, s, e) =>
      Map("pass" -> n, "warmup" -> wu, "traced" -> tr, "start" -> s, "end" -> e) }
    out("ops") = ops.map(o => Map("pass" -> o.pass, "name" -> o.name,
      "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "error" -> o.error))
    rec("results", "bench")(wl.writeResults(spark, out))
    if (a.trace) {
      sc.addSparkListener(jobs)
      rec("probes", "bench")(Probes.run(spark, a, rec, out, jobs))
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(jobs)
    }
    wl.teardown()
    out("peak_rss_mb") = Rss.peakMb
    out.tables("progress_main") = progress.all.map { case (t, j) => Seq(t, j) }
    out.jobs = jobs
    spark.stop()
  }
}

trait Workload {
  /** About how long a warm pass takes on 4 cores. */
  def nominalPassSeconds: Double
  def setup(spark: SparkSession): Unit
  def pass(spark: SparkSession, index: Int): Seq[Main.Op]
  /** After the timed passes (the stream's open-loop phase lives here). */
  def finish(spark: SparkSession, out: Out): Seq[Main.Op] = Nil
  def writeResults(spark: SparkSession, out: Out): Unit
  def teardown(): Unit
}

/** The session posture of `graft.Bench`, key for key, with the scratch
  * directories pinned inside the benchmark's work directory. */
object Session {
  val Cpus = 4

  def create(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every explicitly set SQL conf plus the master: printed so a posture
    * difference between this benchmark and other entry points shows. */
  def effectiveConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }
}

object Rss {
  /** VmHWM: the process's peak resident set, in MB. */
  def peakMb: Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** The raw record of a run, written as JSON plus side files. */
final class Out(val workDir: String) {
  private val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
  var jobs: JobListener = _
  val tables = scala.collection.mutable.LinkedHashMap[String, Seq[Seq[Any]]]()

  def update(k: String, v: Any): Unit = synchronized { fields(k) = v }

  def write(dir: Path, rec: Recorder): Unit = {
    Files.createDirectories(dir)
    tables("spans") = rec.all.map(s => Seq(s.id, s.parent, s.name, s.layer, s.start, s.end))
    if (jobs != null) jobs.synchronized {
      tables("jobs") = jobs.jobs.map { case (id, s, e) => Seq(id, s, e) }.toList
      tables("stages") = jobs.stages.values.map(st => Seq(st.id, st.submitted,
        st.completed, st.tasks, st.runMs, st.cpuNs, st.gcMs, st.spillBytes,
        st.inBytes, st.inRecords, st.shWrite, st.shRead,
        st.durations.mkString(","))).toList
    }
    tables.foreach { case (name, rows) =>
      Files.writeString(dir.resolve(s"$name.tsv"),
        rows.map(_.map(v => String.valueOf(v).replace('\t', ' ')).mkString("\t"))
          .mkString("", "\n", "\n"), UTF_8)
    }
    Files.writeString(dir.resolve("raw.json"), Json(fields.toMap), UTF_8)
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
