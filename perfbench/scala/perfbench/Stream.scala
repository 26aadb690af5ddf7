package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.{Codecs, FastHash}
import graft.sources.{Kafka, KafkaProto, MiniKafkaBroker}
import graft.streaming.StreamOps

/** One record of the generated event log. Phase 0 is the preloaded
  * backlog, phases 1.. are bursts, and phase -1 is the open-loop phase. */
final case class Ev(phase: Int, id: Long, tsMs: Long, user: Long, text: String) {
  /** Each phase sits on its own stretch of event time, far enough from
    * the last that the watermark retires the previous phase's state. */
  def eventMs: Long = 1700000000000L + (if (phase < 0) 900000 else phase) * 1000000L + tsMs
  def json: String =
    s"""{"id":$id,"ts_ms":$eventMs,"user":$user,"text":${Json.quote(text)}}"""
}

object EventLog {
  def load(path: String): Seq[Ev] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", 5)
      Ev(f(0).toInt, f(1).toLong, f(2).toLong, f(3).toLong, f(4))
    }.toVector
}

/** The streaming pipeline on the test broker:
  * graft-kafka source -> Codecs.fromJsonCol -> FastHash.textCountsCol +
  * StreamOps.dedupeWithinWatermark -> idempotent Kafka.write, read back by
  * one consumer thread that stamps each record's arrival. */
final class StreamRig(spark: SparkSession, work: String, tag: String) {
  val broker = new MiniKafkaBroker(Map("in" -> 2, "out" -> 1))
  val boot: (String, Int) = ("127.0.0.1", broker.boundPort)
  // one produce request per partition per burst, so a trigger rarely
  // splits a burst's admission
  private val producer = new Kafka.BatchProducer(boot, "in", 5000, 4 << 20, idempotent = false)
  /** id -> first due time; a duplicate keeps the first. */
  val due = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  /** Arrival rows: id, arrival ns, alpha, words. */
  val arrivals = new ConcurrentLinkedQueue[Array[Long]]()
  val firstArrival = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  val late = new ConcurrentLinkedQueue[java.lang.Long]()
  val backlog = new ConcurrentLinkedQueue[Array[Long]]()
  @volatile private var running = true
  private var query: StreamingQuery = _
  private var threads = List.empty[Thread]

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, s"perfbench-$name")
    t.setDaemon(true)
    t.start()
    threads ::= t
    t
  }

  /** Queue records and send them, one produce request per partition. */
  def send(evs: Seq[Ev], dueNs: Long): Unit = {
    evs.foreach { e =>
      due.putIfAbsent(e.id, dueNs)
      producer.add(e.id.toString.getBytes(UTF_8), e.json.getBytes(UTF_8))
    }
    producer.flushAll()
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("ts_ms", LongType), StructField("user", LongType),
    StructField("text", StringType)))

  def pipeline(src: DataFrame): DataFrame = {
    val events = src
      .select(Codecs.fromJsonCol(col("value").cast("string"), schema).as("e"))
      .select("e.*")
      .withColumn("tc", FastHash.textCountsCol(col("text")))
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    StreamOps.dedupeWithinWatermark(events, "ts_ns", Seq("id"), "10 seconds")
      .select(col("id").cast("string").as("key"),
        to_json(struct(col("id"), col("user"), element_at(col("tc"), 2).as("alpha"),
          element_at(col("tc"), 3).as("words"))).as("value"))
  }

  def start(): Unit = {
    startConsumer()
    val (host, port) = boot
    query = pipeline(spark.readStream.format("graft-kafka")
        .option("host", host).option("port", port.toString)
        .option("topic", "in").option("group", "perfbench")
        // admission cap: a burst drains in about four micro-batches, so
        // its time averages their overheads instead of hanging on one
        .option("maxOffsetsPerTrigger", "500")
        .load())
      .writeStream
      .queryName(s"perfbench-$tag")
      .option("checkpointLocation", s"$work/checkpoint-$tag")
      .foreachBatch((df: DataFrame, _: Long) => Kafka.write(df, boot, "out", idempotent = true))
      .start()
    startBacklogSampler()
  }

  private val valueRe = """"id":(\d+),"user":(\d+),"alpha":(\d+),"words":(\d+)""".r.unanchored

  private def startConsumer(): Unit = daemon("consumer") {
    val c = new Kafka.WireClient(boot._1, boot._2)
    var off = 0L
    try while (running) {
      val (next, recs) = c.fetchFrom("out", 0, off, maxWaitMs = 2)
      val now = Clock.now
      recs.foreach { r =>
        new String(r.value, UTF_8) match {
          case valueRe(id, _, alpha, words) =>
            arrivals.add(Array(id.toLong, now, alpha.toLong, words.toLong))
            firstArrival.putIfAbsent(id.toLong, now)
          case _ => arrivals.add(Array(-1L, now, 0L, 0L)) // flagged by the checker
        }
      }
      off = next
    } finally c.close()
  }

  /** Log-end offset minus committed offset of the input topic, sampled
    * every 250 ms while the query runs. */
  private def startBacklogSampler(): Unit = daemon("backlog") {
    val c = new Kafka.WireClient(boot._1, boot._2)
    try while (running) {
      val lag = (0 until 2).map { p =>
        c.listOffset("in", p, KafkaProto.TsLatest) -
          math.max(0L, broker.committed("perfbench", "in", p))
      }.sum
      backlog.add(Array(Clock.now, lag))
      Thread.sleep(250)
    } catch { case _: InterruptedException => () }
    finally c.close()
  }

  /** Wait until every id has arrived at the sink; false on timeout. */
  def await(ids: Iterable[Long], timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var pending = ids.toSet.filterNot(id => firstArrival.containsKey(id))
    while (pending.nonEmpty && System.nanoTime() < deadline) {
      pending = pending.filterNot(id => firstArrival.containsKey(id))
      if (pending.nonEmpty) {
        if (query != null && query.exception.isDefined) throw query.exception.get
        Thread.sleep(1)
      }
    }
    pending.isEmpty
  }

  /** Open loop at a fixed rate: record i is due at t0 + i / rate. The
    * generator thread sends each record when due and notes how late it
    * ran; latency counts from the due time. */
  def openLoop(evs: Seq[Ev], ratePerS: Double): Unit = {
    val t0 = Clock.now + 50000000L
    val gen = daemon("generator") {
      val g = new Kafka.BatchProducer(boot, "in", 500, 1 << 20, idempotent = false)
      try evs.zipWithIndex.foreach { case (e, i) =>
        val dueNs = t0 + (i * 1e9 / ratePerS).toLong
        val wait = dueNs - Clock.now
        if (wait > 0) LockSupport.parkNanos(wait)
        late.add(Clock.now - dueNs)
        due.putIfAbsent(e.id, dueNs)
        g.add(e.id.toString.getBytes(UTF_8), e.json.getBytes(UTF_8))
        g.flushAll()
      } finally g.close()
    }
    gen.join()
  }

  def stop(): Unit = {
    if (query != null) { query.stop(); query.awaitTermination() }
    running = false
    threads.foreach(_.join(5000))
    producer.close()
    broker.close()
  }

  def sendsTable: Seq[Seq[Any]] = due.asScala.toSeq.map { case (id, d) => Seq(id, d) }
  def arrivalsTable: Seq[Seq[Any]] = arrivals.asScala.toSeq.map(_.toSeq)
}

/** `stream_kafka`: set-up preloads the backlog; pass 0 starts the query
  * and drains it cold; each later pass is one burst, timed from its send
  * until every distinct id has reached the sink. After the timed passes
  * an open-loop phase at a fixed rate measures latency from due time. */
final class StreamWorkload(a: Main.Args, rec: Recorder, tag: String = "main")
    extends Workload {
  import StreamWorkload.Rate

  private lazy val log = EventLog.load(s"${a.data}/stream.tsv")
  private lazy val byPhase = log.groupBy(_.phase)
  private var rig: StreamRig = _
  private var setups = 0

  def nominalPassSeconds: Double = 2.0

  def setup(spark: SparkSession): Unit = {
    setups += 1
    rig = new StreamRig(spark, a.work, s"$tag$setups")
    rig.send(byPhase(0), Clock.now)
  }

  def pass(spark: SparkSession, index: Int): Seq[Main.Op] = {
    val evs = byPhase.getOrElse(index,
      throw new IllegalStateException(s"the event log has no burst $index"))
    val start = Clock.now
    val ok = rec(if (index == 0) "drain" else "burst", "streaming") {
      if (index == 0) rig.start() else rig.send(evs, start)
      rig.await(evs.map(_.id), StreamWorkload.TimeoutS)
    }
    Seq(Main.Op(index, if (index == 0) "drain" else "burst", start, Clock.now, ok,
      if (ok) null else "records missing at the sink"))
  }

  override def finish(spark: SparkSession, out: Out): Seq[Main.Op] = {
    val evs = byPhase(-1)
    val start = Clock.now
    val ok = rec("open_loop", "streaming") {
      rig.openLoop(evs, Rate)
      rig.await(evs.map(_.id), StreamWorkload.TimeoutS)
    }
    out(s"open_loop_$tag") = Map("start" -> start, "end" -> Clock.now, "rate" -> Rate)
    Seq(Main.Op(-1, "open_loop", start, Clock.now, ok,
      if (ok) null else "records missing at the sink"))
  }

  def writeResults(spark: SparkSession, out: Out): Unit = {
    out.tables(s"sends_$tag") = rig.sendsTable
    out.tables(s"arrivals_$tag") = rig.arrivalsTable
    out.tables(s"late_$tag") = rig.late.asScala.toSeq.map(l => Seq(l))
    out.tables(s"backlog_$tag") = rig.backlog.asScala.toSeq.map(_.toSeq)
  }

  def teardown(): Unit = if (rig != null) { rig.stop(); rig = null }
}

object StreamWorkload {
  val Rate = 400.0
  val TimeoutS = 60.0
}
