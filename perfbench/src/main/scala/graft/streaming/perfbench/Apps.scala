package graft.streaming.perfbench

import graft.Tables
import graft.operators.Dedup
import graft.sinks.{IdempotentBatchAppend, KeyedUpsertTable}
import graft.streaming.{AllocLine, BandRow, Pipelines, Replay}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Where a run keeps its topics, sinks and checkpoints, and how its
  * streams read: `maxFiles` > 0 caps a trigger at that many slices, 0 lets
  * a trigger take every published slice; `triggerMs` 0 runs triggers
  * back-to-back.
  */
final case class Layout(root: String, staticDir: String, maxFiles: Int, triggerMs: Long) {
  def topic(t: String): String = s"$root/topics/$t"
  def out(app: String): String = s"$root/out/$app"
  def cp(app: String): String = s"$root/cp/$app"
}

/** The warehouse apps the benchmark measures, each one streaming query
  * built from the program's public layer functions, wired the way the
  * program's own st* replays wire them (noted per app), but over sliced
  * topics at the production join range.
  */
object Apps {

  private val ts = TimestampType
  private def f(n: String, t: DataType) = StructField(n, t)
  val schemas: Map[String, StructType] = Map(
    "events" -> StructType(Seq(f("event_id", LongType), f("ts", ts), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
    "orders" -> StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", ts),
      f("o_orderpriority", StringType))),
    "details" -> StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_shipdate", ts))),
    "docs" -> StructType(Seq(f("doc_id", LongType), f("text", StringType))))

  private def stream(spark: SparkSession, l: Layout, t: String): DataFrame = {
    val r = spark.readStream.schema(schemas(t))
    (if (l.maxFiles > 0) r.option("maxFilesPerTrigger", l.maxFiles.toLong) else r)
      .parquet(l.topic(t))
  }

  private def trigger(l: Layout): Trigger = Trigger.ProcessingTime(l.triggerMs)

  /** Start `app` on layout `l`. The state-store policy is the program's
    * own ([[Replay.stateProvider]]), set just before the query starts,
    * which is when a query reads it.
    */
  def start(spark: SparkSession, app: String, l: Layout): StreamingQuery =
    Trace.span(s"$app.start") {
      app match {
        case "ods_route" => odsRoute(spark, l)
        case "dwd_first_order" => dwdFirstOrder(spark, l)
        case "dws_wide_join" => dwsWideJoin(spark, l)
        case "dws_allocation" => dwsAllocation(spark, l)
        case "ads_trademark" => adsTrademark(spark, l)
        case "dau" => dau(spark, l)
        case "doc_claims" => docClaims(spark, l)
      }
    }

  private def appendSink(app: String, df: DataFrame, l: Layout): StreamingQuery =
    df.writeStream
      .queryName(app)
      .format("parquet")
      .option("path", l.out(app))
      .option("checkpointLocation", l.cp(app))
      .outputMode("append")
      .trigger(trigger(l))
      .start()

  /** st04: one append per ODS route of each micro-batch. */
  private def odsRoute(spark: SparkSession, l: Layout): StreamingQuery = {
    Replay.stateProvider(spark, bigState = false)
    val routes = Seq("purchase", "signup", "click")
    val routed = Trace.span("pipelines.cdc_route")(Pipelines.cdcRoute(stream(spark, l, "events")))
    routed.writeStream
      .queryName("ods_route")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Trace.batch("ods_route", id) {
          batch.persist()
          routes.foreach { r =>
            Trace.span("ods_route.append") {
              batch.where(col("event_type") === r)
                .write.mode("append").parquet(s"${l.out("ods_route")}/ods_$r")
            }
          }
          batch.unpersist(): Unit
        }
      }
      .option("checkpointLocation", l.cp("ods_route"))
      .trigger(trigger(l))
      .start()
  }

  /** st03: flag each micro-batch against the known-customers table as of
    * the previous batch, append the flags, upsert the batch's customers.
    */
  private def dwdFirstOrder(spark: SparkSession, l: Layout): StreamingQuery = {
    Replay.stateProvider(spark, bigState = false)
    val orders = stream(spark, l, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val known = new KeyedUpsertTable(spark, s"${l.out("dwd_first_order")}/known",
      Seq("o_custkey"), "o_custkey")
    val sink = new IdempotentBatchAppend(spark, s"${l.out("dwd_first_order")}/flags")
    orders.writeStream
      .queryName("dwd_first_order")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Trace.batch("dwd_first_order", id) {
          val b = batch.where(col("o_custkey") >= 0) // drop the flush row
          val before = Trace.span("sinks.read_before")(known.readBefore(id))
          val flags = Trace.span("pipelines.first_order_flag_batch") {
            Pipelines.firstOrderFlagBatch(b, before)
          }
          Trace.span("sinks.append")(sink.append(flags, id))
          Trace.span("sinks.upsert")(known.upsert(b.select(col("o_custkey")).distinct(), id))
          Trace.upsertBytes(s"${l.out("dwd_first_order")}/known", id)
        }
      }
      .option("checkpointLocation", l.cp("dwd_first_order"))
      .trigger(trigger(l))
      .start()
  }

  /** st02 at the production range: orders ⋈ details within
    * [[Pipelines.DefaultJoinRange]], big-state provider.
    */
  private def dwsWideJoin(spark: SparkSession, l: Layout): StreamingQuery = {
    Replay.stateProvider(spark, bigState = true)
    val wide = Trace.span("pipelines.order_wide_inner") {
      Pipelines.orderWideInner(stream(spark, l, "orders"), stream(spark, l, "details"),
        Pipelines.DefaultJoinRange)
    }
    appendSink("dws_wide_join", wide, l)
  }

  /** st09: details ⋈ static order_info → per-order buffered allocation,
    * big-state provider. A left join, so the flush row survives to drive
    * the watermark.
    */
  private def dwsAllocation(spark: SparkSession, l: Layout): StreamingQuery = {
    import spark.implicits._
    Replay.stateProvider(spark, bigState = true)
    val li = stream(spark, l, "details")
    val o = spark.read.parquet(s"${l.staticDir}/orders.parquet")
      .select(col("o_orderkey"), Tables.cents(col("o_totalprice")).as("tc"))
    val lines = li.join(o, li("l_orderkey") === o("o_orderkey"), "left")
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_id"),
        Tables.cents(col("l_extendedprice")).as("line_cents"),
        coalesce(col("tc"), lit(0.0)).as("total_cents"),
        col("l_shipdate").as("event_time"))
      .withWatermark("event_time", "1 hour")
      .as[AllocLine]
    val alloc = Trace.span("pipelines.payment_allocation")(Pipelines.paymentAllocation(lines))
    appendSink("dws_allocation", alloc.toDF(), l)
  }

  /** st07: details ⋈ part → update-mode revenue per brand → keyed upsert. */
  private def adsTrademark(spark: SparkSession, l: Layout): StreamingQuery = {
    Replay.stateProvider(spark, bigState = false)
    val li = stream(spark, l, "details")
    val p = spark.read.parquet(s"${l.staticDir}/part.parquet")
    val agg = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        Tables.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
    val table = new KeyedUpsertTable(spark, l.out("ads_trademark"), Seq("p_brand"), "n_lines")
    agg.writeStream
      .queryName("ads_trademark")
      .outputMode("update")
      .foreachBatch { (b: DataFrame, id: Long) =>
        Trace.batch("ads_trademark", id) {
          Trace.span("sinks.upsert")(table.upsert(b, id))
          Trace.upsertBytes(l.out("ads_trademark"), id)
        }
      }
      .option("checkpointLocation", l.cp("ads_trademark"))
      .trigger(trigger(l))
      .start()
  }

  /** st01: watermarked per-day dedup and count. */
  private def dau(spark: SparkSession, l: Layout): StreamingQuery = {
    Replay.stateProvider(spark, bigState = false)
    appendSink("dau", Trace.span("pipelines.dau")(Pipelines.dau(stream(spark, l, "events"))), l)
  }

  /** Per-document event time, as st12 derives it: doc_id seconds after a
    * fixed base; the flush row (doc_id < 0) maps far-future.
    */
  private val docEventTime = when(col("doc_id") < 0,
      lit("2100-01-01 00:00:00").cast("timestamp"))
    .otherwise(timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))

  /** st12: fingerprint → bands → keyed band claims. */
  private def docClaims(spark: SparkSession, l: Layout): StreamingQuery = {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    Replay.stateProvider(spark, bigState = false)
    val corpus = stream(spark, l, "docs")
      .withColumn("event_time", docEventTime)
      .withWatermark("event_time", "1 hour")
    val fps = Trace.span("operators.simhash_fp")(Dedup.simhashFp(corpus.where(col("doc_id") >= 0)))
    val bands = Trace.span("operators.simhash_bands")(Dedup.simhashBands(fps))
      .select(col("doc_id"), col("band"), col("bkey"), col("fp"), col("event_time"))
      .as[BandRow]
    val claims = Trace.span("pipelines.simhash_band_claims") {
      Pipelines.simhashBandClaims(bands, Dedup.MaxHamming)
    }
    appendSink("doc_claims", claims.toDF(), l)
  }

  /** st12's rollup: a document survives iff all its band claims are ok. */
  def survivors(spark: SparkSession, l: Layout): DataFrame =
    spark.read.parquet(l.out("doc_claims"))
      .groupBy(col("doc_id"))
      .agg(min(when(col("ok"), lit(1)).otherwise(lit(0))).as("allok"))
      .where(col("allok") === 1)
      .select(col("doc_id"))

  /** Rows each app's sink holds after a run (flush rows excluded). */
  def rowsOut(spark: SparkSession, app: String, l: Layout): Long = {
    def read(p: String) = spark.read.parquet(p)
    app match {
      case "ods_route" =>
        Seq("purchase", "signup", "click").map(r => s"${l.out(app)}/ods_$r")
          .filter(p => new java.io.File(p).isDirectory).map(read(_).count()).sum
      case "dwd_first_order" => read(s"${l.out(app)}/flags").count()
      case "dws_wide_join" | "dws_allocation" => read(l.out(app)).where(col("order_id") >= 0).count()
      case "ads_trademark" =>
        new KeyedUpsertTable(spark, l.out(app), Seq("p_brand"), "n_lines").read().count()
      case "dau" => read(l.out(app)).where(col("dt") < "2090-01-01").count()
      case "doc_claims" => read(l.out(app)).count()
    }
  }
}
