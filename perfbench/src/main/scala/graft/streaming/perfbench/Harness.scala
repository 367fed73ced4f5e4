package graft.streaming.perfbench

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** The system under test: one Spark driver JVM running the workload's
  * apps as streaming queries over the generator's topics.
  *
  *   Harness --work DIR --cpus N --trace 0|1 --trigger-ms MS
  *
  * It talks to the benchmark runner over stdout/stdin: each `@@` line is
  * a phase boundary, and at the timed part's edges it waits for the
  * runner's reply, so the runner can read this process's CPU and memory
  * from outside at exactly those points. The queries start once; a few
  * warm-up rounds then run the stream's first slices through them, and the
  * timed part runs from the first timed publish to the moment every app
  * has committed every slice.
  */
object Harness {

  private val in = new BufferedReader(new InputStreamReader(System.in))

  private def mark(line: String, await: Boolean = false): Unit = {
    println(s"@@$line")
    System.out.flush()
    if (await && in.readLine() == null) sys.error("runner went away")
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // An app that has caught up polls its source for new slices. At the
      // default 10 ms each poll lists the topic directory, so the apps that
      // finish first burn CPU for as long as the slowest one runs.
      .config("spark.sql.streaming.pollingDelay", "100ms")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the state-store maintenance thread warns at shutdown; keep stderr quiet
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def awaitFile(f: File, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!f.exists()) {
      if (System.currentTimeMillis() > deadline) sys.error(s"$f did not appear")
      Thread.sleep(5)
    }
  }

  /** Wait until every query has committed all the input published so far. */
  private def drain(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.processAllAvailable())

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val traced = opt("trace") == "1"
    val props = new java.util.Properties()
    val pin = new FileInputStream(s"$work/manifest.properties")
    try props.load(pin) finally pin.close()
    val apps = props.getProperty("apps").split(",").toSeq
    val maxFiles = props.getProperty("max_files").toInt
    val triggerMs = opt.getOrElse("trigger-ms", "0").toLong
    val static = s"$work/static"

    try {
      val spark = session(opt("cpus").toInt, work)
      mark("session")

      val run = Layout(s"$work/run", static, maxFiles, triggerMs)
      Trace.on = traced // spans around the calls that build each app
      val qs = apps.map(Apps.start(spark, _, run))
      Trace.on = false
      mark("started")

      // Warm-up: publish the stream's first slices one per round and drain
      // each, so the timed part meets running, warmed-up queries.
      for (w <- 0 until props.getProperty("warmups").toInt) {
        val t0 = System.nanoTime()
        val name = f"s$w%05d.parquet"
        for (t <- props.getProperty("topics").split(","))
          Files.move(Paths.get(s"${run.root}/staging/$t/$name"), Paths.get(run.topic(t), name),
            StandardCopyOption.ATOMIC_MOVE)
        drain(qs)
        mark(f"warmup ${(System.nanoTime() - t0) / 1e9}%.6f")
      }

      Trace.on = traced
      val progress = new Trace.Progress(apps.toSet)
      val tasks = new Trace.Tasks(qs.map(q => q.id.toString -> q.name).toMap)
      if (traced) {
        spark.streams.addListener(progress)
        spark.sparkContext.addSparkListener(tasks)
      }

      val rowsBefore = if (traced) apps.map(a => a -> Apps.rowsOut(spark, a, run)).toMap else Map.empty[String, Long]
      mark("ready", await = true)
      val gc0 = gcMs
      awaitFile(new File(s"${run.root}/published"), 150000L)
      drain(qs)
      val gc1 = gcMs
      mark("drained", await = true)
      qs.foreach(_.stop())
      Trace.on = false

      if (apps.contains("doc_claims")) {
        Apps.survivors(spark, run).coalesce(1).write.mode("overwrite")
          .parquet(s"${run.root}/out/doc_survivors")
        Files.writeString(Paths.get(s"$static/st12_oracle.sql"), docsOracleSql)
      }
      val extra =
        if (!traced) Map.empty[String, Double]
        else Map("jvm.gc_ms" -> (gc1 - gc0).toDouble) ++
          apps.map(a => s"$a.rows_out" -> (Apps.rowsOut(spark, a, run) - rowsBefore(a)).toDouble) ++
          (if (!apps.contains("doc_claims")) Nil
           else Seq("functions.simhash_fp_ms" -> simhashBatchMs(spark, run)))
      spark.stop() // delivers every pending listener event
      if (traced) Trace.write(s"$work/trace_raw.json", progress, tasks, extra)
      mark("end", await = true)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        System.exit(1)
    }
    System.exit(0)
  }

  /** The DuckDB oracle st12 is checked with, the program's own, over
    * the published documents (a `docs` view) instead of the near-dup
    * corpus it builds from the documents table.
    */
  private def docsOracleSql: String = {
    val sql = graft.streaming.StreamQueries.oracles("st12_stream_neardup")
    val corpus = graft.operators.Dedup.duckNearCorpusSql
    require(sql.contains(corpus), "st12's oracle no longer reads the near-dup corpus CTE")
    sql.replace(corpus, "corpus AS (SELECT doc_id, text FROM docs)")
  }

  /** One batch call of the fingerprint kernel over the whole corpus. */
  private def simhashBatchMs(spark: SparkSession, run: Layout): Double = {
    import org.apache.spark.sql.functions.col
    val corpus = spark.read.schema(Apps.schemas("docs")).parquet(run.topic("docs"))
      .where(col("doc_id") >= 0)
    val t0 = System.nanoTime()
    graft.operators.Dedup.simhashFp(corpus).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }
}
