package graft.streaming.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.jdk.CollectionConverters._

/** The traced run's recorder. Off (the untraced run) every call is a
  * plain pass-through: no span, no clock read, no listener.
  *
  * A span is (trace, id, parent, name, start, end) in epoch ms. The
  * spans of one micro-batch share the trace id `<app>/<batchId>`, which
  * is also the id of the batch's trigger span (recorded from the
  * query's progress event); the benchmark's calls into the layers inside
  * that batch are its children.
  */
object Trace {
  @volatile var on = false

  final case class Span(trace: String, id: String, parent: String, name: String,
                        start: Double, end: Double)

  private final case class Ctx(trace: String, id: String, children: AtomicInteger)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ctx = new ThreadLocal[Ctx]
  private val roots = new AtomicLong()
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  private val wall0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = wall0Ms + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = ctx.get
      val me =
        if (parent == null) {
          val t = s"$name/${roots.incrementAndGet()}"
          Ctx(t, t, new AtomicInteger)
        } else Ctx(parent.trace, s"${parent.id}.${parent.children.incrementAndGet()}",
          new AtomicInteger)
      ctx.set(me)
      val t0 = nowMs
      try f
      finally {
        spans.add(Span(me.trace, me.id, if (parent == null) "" else parent.id, name, t0, nowMs))
        ctx.set(parent)
      }
    }

  /** The body of one foreachBatch call, as a child of the batch's trigger span. */
  def batch[T](app: String, batchId: Long)(f: => T): T =
    if (!on) f
    else {
      val trig = s"$app/$batchId"
      ctx.set(Ctx(trig, trig, new AtomicInteger))
      try span(s"$app.add_batch")(f)
      finally ctx.remove()
    }

  def add(counter: String, v: Long): Unit =
    if (on) counters.computeIfAbsent(counter, _ => new AtomicLong).addAndGet(v): Unit

  /** Bytes of the version a keyed upsert just wrote (`<table>/v=<batchId>`). */
  def upsertBytes(table: String, batchId: Long): Unit =
    if (on) {
      val dir = Paths.get(table, s"v=$batchId")
      if (Files.isDirectory(dir)) {
        val s = Files.walk(dir)
        try add("sinks.upsert_bytes",
          s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum)
        finally s.close()
      }
    }

  /** Progress events of the timed queries, as the engine reports them. */
  final class Progress(apps: Set[String]) extends StreamingQueryListener {
    val events = new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()

    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name != null && apps(p.name) && p.durationMs.containsKey("addBatch")) {
        events.computeIfAbsent(p.name, _ => new ConcurrentLinkedQueue[String]).add(p.json)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val id = s"${p.name}/${p.batchId}"
        spans.add(Span(id, id, "", s"${p.name}.trigger", start,
          start + p.durationMs.get("triggerExecution").doubleValue))
      }
    }
  }

  /** Task CPU and shuffle-write bytes per app, from the jobs each timed
    * query's stream thread starts (they carry the query id).
    */
  final class Tasks(queryIds: Map[String, String]) extends SparkListener {
    private val stageApp = new ConcurrentHashMap[Int, String]()
    val cpuNs = new ConcurrentHashMap[String, AtomicLong]()
    val shuffleBytes = new ConcurrentHashMap[String, AtomicLong]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .flatMap(queryIds.get)
        .foreach(app => e.stageIds.foreach(stageApp.put(_, app)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (app <- Option(stageApp.get(e.stageId)); m <- Option(e.taskMetrics)) {
        cpuNs.computeIfAbsent(app, _ => new AtomicLong).addAndGet(m.executorCpuTime)
        shuffleBytes.computeIfAbsent(app, _ => new AtomicLong)
          .addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The raw trace: spans, progress events, task totals, counters and the
    * extra figures the harness measured. The benchmark's runner derives
    * the per-layer metrics from it.
    */
  def write(path: String, progress: Progress, tasks: Tasks,
            extra: Map[String, Double]): Unit = {
    def longs(m: ConcurrentHashMap[String, AtomicLong]) =
      m.asScala.map { case (k, v) => s"${q(k)}: ${v.get}" }.mkString("{", ", ", "}")
    val sb = new StringBuilder("{\n\"spans\": [\n")
    sb ++= spans.asScala.map { s =>
      s"""{"trace": ${q(s.trace)}, "id": ${q(s.id)}, "parent": ${q(s.parent)}, "name": ${q(s.name)}, "start": ${s.start}, "end": ${s.end}}"""
    }.mkString(",\n")
    sb ++= "\n],\n\"progress\": {\n"
    sb ++= progress.events.asScala.map { case (app, evs) =>
      s"${q(app)}: [\n${evs.asScala.mkString(",\n")}\n]"
    }.mkString(",\n")
    sb ++= s"\n},\n\"task_cpu_ns\": ${longs(tasks.cpuNs)},\n"
    sb ++= s"\"shuffle_write_bytes\": ${longs(tasks.shuffleBytes)},\n"
    sb ++= s"\"counters\": ${longs(counters)},\n"
    sb ++= extra.map { case (k, v) => s"${q(k)}: $v" }.mkString("\"extra\": {", ", ", "}\n}\n")
    Files.write(Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}
