package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Pipeline, SparkEntry}
import graft.operators.{Analytics, Cleaning, Validation}
import graft.sinks.TableLog
import graft.sources.{CsvSource, JsonSource}
import graft.streaming.EventStreams

/** One benchmark workload. `setup` stages fixtures and runs the warm pass
  * on a fresh session (once per run, cold); `unit` runs
  * one measured unit of work (a whole query pass, DAG run, churn step or
  * stream round) and records each op's latency; `finish` runs the
  * untimed output checks and returns the workload's own metrics.
  */
trait Workload {
  val lat = ArrayBuffer.empty[Double]      // seconds per op, in order
  protected def record(s: Double): Unit = lat += s
  var failed = 0
  val checks = ArrayBuffer.empty[ListMap[String, Any]]
  def setup(spark: SparkSession): Unit
  def unit(spark: SparkSession): Unit
  def finish(spark: SparkSession): ListMap[String, Any]
  /** the fewest units a run measures, however long they take */
  def minUnits: Int = 1
  /** extra per-layer figures the workload measures itself, over all measured ops */
  def layers: Map[String, Double] = Map.empty
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def dirBytes(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  /** Order-free digest of a keyed orders state: row count, total cents and
    * a sum of per-row hashes — the same formula run.py's model computes.
    */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val r = df.agg(count(lit(1)), coalesce(sum(cents), lit(0L)),
      coalesce(sum(col("o_orderkey") * 1000003L + cents * 31L +
        ascii(col("o_orderstatus")) + col("version") * 7L), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def readLines(p: String): Seq[String] = Files.readAllLines(Paths.get(p)).asScala.toSeq
}

import Workload._

// --------------------------------------------------------------- query_mix

/** Closed loop, one client: each unit is one pass over the query set in a
  * seeded order, every query written to the noop sink as Bench does.
  */
final class QueryMix(data: String, work: String, seed: Long) extends Workload {
  val names: Seq[String] = Seq(
    "q_order_summary", "q_delivery_performance", "q1_pricing_summary", "q_star_join",
    "q_daily_revenue", "q_delivery_percentiles",
    "q_missing_fill_median", "q_dedup_keepfirst", "q_normalize_categorical",
    "q_derived_metrics", "q_timestamp_standardize", "q_upsert_lastwins",
    "q_validate_rules", "q_validate_unique", "q_profile", "q_psi_drift_cat",
    "q_table_log_prune", "q_table_log_point", "q_sql_timetravel", "q_table_log_cdf",
    "q_catalog_sql", "q_sql_point",
    "q_dedup_minhash", "q_dedup_clusters", "q_bpe_merges", "q_hybrid_rank3", "q_ann_ivf",
    "q_asof_auto", "q_basket_affinity", "q_forecast_anomaly", "q_rfm_segments", "q_sessionize")
  private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
  private val dir = s"$data/star"
  private val rng = new scala.util.Random(seed)
  val opNames = ArrayBuffer.empty[String]

  private def run(spark: SparkSession, name: String): Unit = {
    val df = Trace.span("builder", name)(fns(name)(spark, dir))
    Trace.span("action", name)(df.write.format("noop").mode("overwrite").save())
  }

  def setup(spark: SparkSession): Unit = names.foreach(run(spark, _))

  def unit(spark: SparkSession): Unit =
    rng.shuffle(names).foreach { n =>
      val (_, s) = timed(Trace.span("op", n) {
        try run(spark, n) catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] $n failed: $e") }
      })
      record(s)
      opNames += n
    }

  /** The check pass: every query's result to parquet, with the registry's
    * oracle SQL beside it, for run.py's DuckDB compare.
    */
  def finish(spark: SparkSession): ListMap[String, Any] = {
    val out = s"$work/query_out"
    names.foreach { n =>
      try fns(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] check $n failed: $e") }
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.render(oracles))
    checks += Json.obj("kind" -> "query_out", "dir" -> out, "queries" -> names)
    ListMap("queries" -> names.size)
  }
}

// ----------------------------------------------------------------- etl_dag

/** The reference DAG: three extract arms (orders CSV, customers CSV, carts
  * JSON) through the Cleaning stages, a Validation gate and a TableLog
  * load each, then both reference views over the loaded tables. Each unit
  * is one `Pipeline.runAll` run into fresh table directories.
  */
final class EtlDag(data: String, work: String) extends Workload {
  private val in = s"$data/etl/in"
  private val extractedAt = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private var runs = 0
  var lastReport: Pipeline.FullRunReport = _
  private val loadedByRun = ArrayBuffer.empty[Map[String, Long]]
  private val bytesByRun = ArrayBuffer.empty[(Long, Int)]
  val ordersSchema: StructType = new StructType()
    .add("o_orderkey", LongType).add("o_custkey", LongType).add("o_orderstatus", StringType)
    .add("o_totalprice", DoubleType).add("o_orderdate", StringType).add("o_priority", StringType)
    .add("o_shipped_at", StringType).add("o_delivered_at", StringType).add("o_freight", DoubleType)
  val customersSchema: StructType = new StructType()
    .add("c_custkey", LongType).add("c_name", StringType).add("c_nationkey", IntegerType)
    .add("c_segment", StringType).add("c_acctbal", DoubleType).add("c_signup_at", StringType)
  val cartsSchema: StructType = new StructType()
    .add("l_orderkey", LongType)
    .add("shipping", new StructType().add("mode", StringType).add("city", StringType)
      .add("eta", StringType))
    .add("items", ArrayType(new StructType().add("l_linenumber", IntegerType)
      .add("l_partkey", LongType).add("l_quantity", LongType)
      .add("l_extendedprice", DoubleType).add("l_discount", DoubleType)))
  private val tsFmt = Some("yyyy-MM-dd HH:mm:ss")
  private val refTs = lit("2002-01-01 00:00:00").cast("timestamp")

  private def stage(table: String, name: String)(f: DataFrame => DataFrame) =
    Pipeline.Stage(name, df => Trace.span("builder", s"$table:$name")(f(df)))

  private def csv(spark: SparkSession, table: String, dir: String, schema: StructType) =
    Trace.span("source", s"$table:extract") {
      val (good, _) = CsvSource.quarantine(CsvSource.read(spark, dir, schema))
      CsvSource.withIngestMetadata(good, extractedAt)
    }

  private def jobs(in: String): Seq[Pipeline.TableJob] = Seq(
    Pipeline.TableJob("orders", s => csv(s, "orders", s"$in/orders", ordersSchema), Seq(
      stage("orders", "dedup")(Cleaning.dedupKeepFirst(_, Seq("o_orderkey"), "o_orderdate")),
      stage("orders", "drop_missing")(Cleaning.dropMissing(_,
        Seq("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"))),
      stage("orders", "fill_unknown")(Cleaning.fillUnknown(_, Seq("o_priority"))),
      stage("orders", "fill_median")(Cleaning.fillMedian(_, Seq("o_freight"))),
      stage("orders", "timestamps")(Cleaning.standardizeTimestamps(_,
        Seq("o_orderdate", "o_shipped_at", "o_delivered_at"), tsFmt)),
      stage("orders", "categorical")(Cleaning.normalizeCategorical(_,
        Seq("o_orderstatus", "o_priority"), "upper")),
      stage("orders", "derived")(Cleaning.withDerived(_, ListMap(
        "delivery_hours" -> Cleaning.durationHours(col("o_delivered_at"), col("o_shipped_at")),
        "freight_ratio" -> Cleaning.costRatio(col("o_freight"), col("o_totalprice")))))),
      Some(Pipeline.Gate(Seq(
        Validation.nullCheck("o_orderkey", 0.0, "critical"),
        Validation.rangeCheck("o_totalprice", Some(0.0), None, "critical"),
        Validation.businessRule("status_known", col("o_orderstatus").isin("F", "O", "P"), "critical"),
        Validation.nullCheck("o_delivered_at", 0.2, "warning"),
        Validation.businessRule("delivered_after_ship",
          col("o_delivered_at") >= col("o_shipped_at"), "warning"))))),
    Pipeline.TableJob("customers", s => csv(s, "customers", s"$in/customers", customersSchema), Seq(
      stage("customers", "dedup")(Cleaning.dedupKeepFirst(_, Seq("c_custkey"), "c_name")),
      stage("customers", "drop_missing")(Cleaning.dropMissing(_,
        Seq("c_custkey", "c_name", "c_nationkey"))),
      stage("customers", "fill_unknown")(Cleaning.fillUnknown(_, Seq("c_segment"))),
      stage("customers", "fill_median")(Cleaning.fillMedian(_, Seq("c_acctbal"))),
      stage("customers", "timestamps")(Cleaning.standardizeTimestamps(_, Seq("c_signup_at"), tsFmt)),
      stage("customers", "categorical")(Cleaning.normalizeCategorical(_, Seq("c_segment"), "upper")),
      stage("customers", "derived")(Cleaning.withDerived(_, ListMap(
        "tenure_hours" -> Cleaning.durationHours(refTs, col("c_signup_at")),
        "balance_ratio" -> Cleaning.costRatio(col("c_acctbal"), lit(10000.0)))))),
      Some(Pipeline.Gate(Seq(
        Validation.nullCheck("c_custkey", 0.0, "critical"),
        Validation.rangeCheck("c_nationkey", Some(0.0), Some(24.0), "critical"),
        Validation.nullCheck("c_signup_at", 0.2, "warning"))))),
    Pipeline.TableJob("order_items", s => Trace.span("source", "order_items:extract") {
      JsonSource.explodeItems(JsonSource.flattenStructs(
        JsonSource.read(s, s"$in/carts", cartsSchema)), "items",
        Seq("l_orderkey", "shipping_mode", "shipping_city", "shipping_eta"))
    }, Seq(
      stage("order_items", "dedup")(Cleaning.dedupKeepFirst(_,
        Seq("l_orderkey", "l_linenumber"), "l_partkey")),
      stage("order_items", "drop_missing")(Cleaning.dropMissing(_,
        Seq("l_orderkey", "l_linenumber", "l_extendedprice"))),
      stage("order_items", "fill_unknown")(Cleaning.fillUnknown(_, Seq("shipping_city"))),
      stage("order_items", "fill_median")(Cleaning.fillMedian(_, Seq("l_quantity"))),
      stage("order_items", "timestamps")(Cleaning.standardizeTimestamps(_, Seq("shipping_eta"), tsFmt)),
      stage("order_items", "categorical")(Cleaning.normalizeCategorical(_, Seq("shipping_mode"), "upper")),
      stage("order_items", "derived")(Cleaning.withDerived(_, ListMap(
        "eta_hours" -> Cleaning.durationHours(col("shipping_eta"), refTs),
        "discount_ratio" -> Cleaning.costRatio(col("l_extendedprice") * col("l_discount"),
          col("l_extendedprice")))))),
      Some(Pipeline.Gate(Seq(
        Validation.nullCheck("l_orderkey", 0.0, "critical"),
        Validation.rangeCheck("l_discount", Some(0.0), Some(0.1), "critical"),
        Validation.rangeCheck("l_quantity", Some(1.0), Some(50.0), "warning"))))))

  private val statsCols = Map("orders" -> Seq("o_orderkey", "o_orderdate"),
    "customers" -> Seq("c_custkey"), "order_items" -> Seq("l_orderkey"))

  private def runDir(i: Int) = s"$work/etl/run$i"
  def lastTables: Seq[String] =
    Seq("orders", "customers", "order_items").map(t => s"${runDir(runs - 1)}/$t")

  /** One DAG run into `dir`: extract → clean → gate → load, then the views. */
  private def dag(spark: SparkSession, in: String, dir: String,
                  runId: String): Pipeline.FullRunReport = {
    val report = Trace.span("pipeline", "runAll") {
      Pipeline.runAll(spark, runId, jobs(in), (t, df) => Trace.span("commit", s"$t:load") {
        TableLog.overwrite(spark, s"$dir/$t", df, statsCols(t)); ()
      }, parallelism = 3)
    }
    Trace.span("views", "views") {
      def read(t: String) = Trace.span("read_build", s"$t:readAt")(TableLog.readAt(spark, s"$dir/$t"))
      val orders = read("orders")
      val customers = read("customers")
      val items = read("order_items")
      val nation = Trace.span("source", "nation:read")(spark.read.parquet(s"$in/nation.parquet"))
      Analytics.orderSummary(orders, customers, nation, items)
        .write.mode("overwrite").parquet(s"$dir/views/v_order_summary")
      Analytics.deliveryPerformance(orders, customers, nation)
        .write.mode("overwrite").parquet(s"$dir/views/v_delivery_performance")
    }
    report
  }

  /** DAG runs in set-up after the cold one. A DAG run keeps speeding up
    * over its first runs in a JVM, as the JIT compiles Spark's planning
    * paths (on 4 cores about 12, 5.2, 4.9, 4.4, 3.8, 3.6, 3.3 s, then
    * near 3 s): the measured runs start past the steepest part of that
    * curve. More warm runs would not fit the benchmark's time budget.
    */
  val warmRuns = 2

  /** Warm passes: the cold DAG run and `warmRuns` more, each into a scratch
    * directory.
    */
  def setup(spark: SparkSession): Unit = (0 to warmRuns).foreach { i =>
    val d = s"$work/etl/warm$i"
    dag(spark, in, d, s"warm$i")
    rm(Paths.get(d))
  }

  /** At least three measured runs, so that one slow run cannot move the median. */
  override def minUnits: Int = 3

  def unit(spark: SparkSession): Unit = {
    val i = runs
    runs += 1
    if (i > 0) rm(Paths.get(runDir(i - 1)))
    val (rep, s) = timed(Trace.span("op", "dag_run") {
      try Some(dag(spark, in, runDir(i), s"run$i"))
      catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] dag run failed: $e"); None }
    })
    record(s)
    rep.foreach { r =>
      lastReport = r
      val loaded = r.tables.map { case (t, x) => t -> x.loaded }
      if (r.anyAborted || loadedByRun.headOption.exists(_ != loaded)) failed += 1
      loadedByRun += loaded
      val files = dirBytes(Paths.get(runDir(i))).filter(_._1.endsWith(".parquet"))
      bytesByRun += ((files.values.sum, files.size))
    }
  }

  override def layers: Map[String, Double] = {
    val b = bytesByRun
    if (b.isEmpty) Map.empty
    else Map("sinks.bytes_written" -> b.map(_._1.toDouble).sum / b.size,
      "sinks.files_added" -> b.map(_._2.toDouble).sum / b.size)
  }

  def finish(spark: SparkSession): ListMap[String, Any] = {
    val dir = runDir(runs - 1)
    val stored = Seq("orders", "customers", "order_items")
      .map(t => t -> TableLog.readAt(spark, s"$dir/$t").count()).toMap
    val quarantined = CsvSource.quarantine(
      CsvSource.read(spark, s"$in/orders", ordersSchema))._2.count()
    checks += Json.obj("kind" -> "etl", "loaded" -> loadedByRun.lastOption.getOrElse(Map.empty),
      "stored" -> stored, "quarantined" -> quarantined, "views" -> s"$dir/views",
      "aborted" -> Option(lastReport).forall(_.anyAborted))
    ListMap("runs" -> runs)
  }
}

// ------------------------------------------------------------- table_churn

/** Writes beside reads on one TableLog table: each step merges one keyed
  * batch, then runs a point lookup, a time-travel aggregate and a change
  * feed read; every `maintainEvery` steps it runs `TableLog.maintain`.
  */
final class TableChurn(data: String, work: String) extends Workload {
  val maintainEvery = 5
  val keepVersions = 24
  val warmSteps = 1
  private val in = s"$data/churn"
  private val stats = Seq("o_orderkey", "o_orderdate")
  private val plan: IndexedSeq[Array[Long]] = // per batch: lookup key, time-travel depth
    readLines(s"$in/reads.txt").map(_.trim.split(" ").map(_.toLong)).toIndexedSeq
  private var dir: String = _
  private var batches = 0                      // batches committed to `dir`
  private var watermark = 0L
  private val applied = new java.util.TreeMap[Long, Int]() // version → batches applied
  private var steps = 0
  private var seenFiles = Map.empty[String, Long]
  private var measuring = false
  var bytesWritten = 0L
  var batchBytes = 0L
  val commitLat = ArrayBuffer.empty[Double]
  val readLat = ArrayBuffer.empty[Double]
  val maintainMs = ArrayBuffer.empty[Double]
  private val stepFiles = ArrayBuffer.empty[(Long, Int)]  // bytes, files added per step
  private var filesRead = 0L
  private var filesTotal = 0L

  private def batchPath(b: Int) = f"$in/batches/b$b%05d"

  private def newTable(spark: SparkSession, d: String): Unit = {
    dir = d
    val seed = spark.read.parquet(s"$in/seed").repartitionByRange(8, col("o_orderkey"))
    val v = TableLog.overwrite(spark, dir, seed, stats,
      writeOptions = TableLog.bloomOptions(Seq("o_orderkey")))
    batches = 0
    watermark = v
    applied.clear()
    applied.put(v, 0)
    seenFiles = dirBytes(Paths.get(dir))
  }

  /** Bytes and files that appeared under the table since the last call. */
  private def written(): (Long, Int) = {
    val now = dirBytes(Paths.get(dir))
    val fresh = now.filter { case (p, _) => !seenFiles.contains(p) }
    seenFiles = now
    (fresh.values.sum, fresh.size)
  }

  private def step(spark: SparkSession, keep: Boolean): Unit = {
    val b = batches
    val Array(key, depth) = plan(b)
    val src = Trace.span("source", "batch:read")(spark.read.parquet(batchPath(b)))
    val (v, cs) = timed(Trace.span("commit", "mergeInto") {
      TableLog.mergeInto(spark, dir, src, Seq("o_orderkey"), statsCols = stats)
    })
    batches += 1
    applied.put(v, batches)
    // point lookup on a recent key
    val (rows, r1) = timed {
      val ps = Trace.span("read_build", "scanPointLookup")(
        TableLog.scanPointLookup(spark, dir, "o_orderkey", Seq(key)))
      if (keep) { filesRead += ps.filesRead; filesTotal += ps.filesTotal }
      Trace.span("action", "point_collect")(ps.df.filter(col("o_orderkey") === key)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "version").collect())
    }
    // time travel `depth` versions back (never below the vacuum watermark)
    val at = math.max(watermark, v - depth)
    val (dg, r2) = timed {
      val df = Trace.span("read_build", "readAt")(TableLog.readAt(spark, dir, at))
      Trace.span("action", "readAt_agg")(digest(df))
    }
    // change feed of the commit just made
    val (changes, r3) = timed {
      val df = Trace.span("read_build", "readChanges")(
        TableLog.readChanges(spark, dir, v - 1, v, keys = Seq("o_orderkey")))
      Trace.span("action", "changes_count")(df.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    steps += 1
    if (steps % maintainEvery == 0) {
      val (rep, ms) = timed(Trace.span("maintain", "maintain") {
        TableLog.maintain(spark, dir, minFileMB = 1, targetFileMB = 1,
          keepVersions = keepVersions, statsCols = stats)
      })
      watermark = math.max(watermark, rep.retainedFrom)
      applied.put(TableLog.currentVersion(spark, dir), batches)
      if (keep) maintainMs += ms * 1000
    }
    if (keep) {
      commitLat += cs
      readLat ++= Seq(r1, r2, r3)
      val (wb, wf) = written()
      bytesWritten += wb
      batchBytes += dirBytes(Paths.get(batchPath(b))).values.sum
      stepFiles += ((wb, wf))
      checks += Json.obj("kind" -> "point", "batches" -> batches, "key" -> key,
        "rows" -> rows.toSeq.map(r => Seq(r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))))
      checks += Json.obj("kind" -> "at", "version" -> at, "batches" -> applied.floorEntry(at).getValue,
        "count" -> dg._1, "cents" -> dg._2, "hash" -> dg._3)
      checks += Json.obj("kind" -> "changes", "batch" -> b, "changes" -> changes)
    }
  }

  def setup(spark: SparkSession): Unit = {
    newTable(spark, s"$work/churn/table")
    (1 to warmSteps).foreach(_ => step(spark, keep = false))
  }

  def unit(spark: SparkSession): Unit = {
    if (!measuring) { written(); measuring = true }
    val (_, s) = timed(Trace.span("op", "churn_step") {
      try step(spark, keep = true)
      catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] churn step failed: $e") }
    })
    record(s)
  }

  override def layers: Map[String, Double] = {
    val f = stepFiles
    val n = math.max(1, f.size)
    val m = maintainMs.size
    Map("sinks.bytes_written" -> f.map(_._1.toDouble).sum / n,
      "sinks.files_added" -> f.map(_._2.toDouble).sum / n,
      "sinks.maintain_ms" -> (if (m == 0) 0.0 else maintainMs.sum / m),
      "sinks.files_read_ratio" -> (if (filesTotal == 0) 0.0 else filesRead.toDouble / filesTotal))
  }

  def finish(spark: SparkSession): ListMap[String, Any] = {
    val dg = digest(TableLog.readAt(spark, dir))
    val v = TableLog.currentVersion(spark, dir)
    checks += Json.obj("kind" -> "at", "version" -> v, "batches" -> batches,
      "count" -> dg._1, "cents" -> dg._2, "hash" -> dg._3)
    val onDisk = dirBytes(Paths.get(dir)).values.sum
    val live = TableLog.liveFilesAt(spark, dir)
    val livePaths = live.map(f => Paths.get(dir).resolve(f.path).toString).toSet
    val liveBytes = dirBytes(Paths.get(dir)).collect { case (p, s) if livePaths(p) => s }.sum
    // the live version written once: its rows as one plain parquet write
    val once = s"$work/churn/once"
    TableLog.readAt(spark, dir).write.mode("overwrite").parquet(once)
    val onceBytes = dirBytes(Paths.get(once)).filter(_._1.endsWith(".parquet")).values.sum
    val logFiles = TableChurn.logFiles(dir)
    ListMap("write_amp" -> bytesWritten.toDouble / math.max(1L, batchBytes),
      "space_amp" -> onDisk.toDouble / math.max(1L, onceBytes),
      "live_bytes" -> liveBytes, "live_files" -> live.size, "log_files" -> logFiles,
      "steps" -> steps, "batches" -> batches)
  }
}

object TableChurn {
  /** Files of the table's log (commits, checkpoints), without checksums. */
  def logFiles(dir: String): Int =
    dirBytes(Paths.get(dir, "_log")).keys.count(!_.endsWith(".crc"))
}

// ----------------------------------------------------------- stream_upsert

/** `EventStreams.upsertSink` fed by a parquet file-source stream: each op
  * drops one keyed batch into the source directory and runs the sink to
  * completion with `Trigger.AvailableNow`. A round replays the generated
  * batch sequence into a fresh state, growing it from empty to full; a
  * unit of work is two rounds.
  */
final class StreamUpsert(data: String, work: String) extends Workload {
  private val in = s"$data/stream"
  private val files: Seq[Path] = {
    val s = Files.list(Paths.get(in))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    finally s.close()
  }
  val perRound: Int = files.size
  private val sampled = Set(perRound / 2 - 1, perRound - 1)
  private var rounds = 0
  private var schema: StructType = _
  val roundLat = ArrayBuffer.empty[Seq[Double]]
  private val bytesPerBatch = ArrayBuffer.empty[Long]
  var stateRows = 0L

  private def round(spark: SparkSession, tag: String, batches: Int, keep: Boolean): Unit = {
    if (schema == null) schema = spark.read.parquet(files.head.toString).schema
    val base = Paths.get(s"$work/stream/$tag")
    val src = base.resolve("src")
    Files.createDirectories(src)
    val state = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    val lats = ArrayBuffer.empty[Double]
    var seen = Map.empty[String, Long]
    (0 until batches).foreach { b =>
      Files.copy(files(b), src.resolve(files(b).getFileName), StandardCopyOption.REPLACE_EXISTING)
      val (_, s) = timed(Trace.span("op", "stream_batch") {
        try Trace.span("sink_run", "upsertSink") {
          val updates = Trace.span("source", "batches:readStream")(
            spark.readStream.schema(schema).parquet(src.toString))
          EventStreams.upsertSink(updates, state, ckpt, Seq("o_orderkey"), "version")
        } catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] stream batch failed: $e") }
      })
      if (keep) {
        record(s)
        lats += s
        val now = dirBytes(Paths.get(state))
        bytesPerBatch += now.filter { case (p, _) => !seen.contains(p) }.values.sum
        seen = now
        if (sampled(b)) {
          val dg = EventStreams.readUpserted(spark, state).map(digest).getOrElse((0L, 0L, 0L))
          stateRows = math.max(stateRows, dg._1)
          checks += Json.obj("kind" -> "state", "batches" -> (b + 1),
            "count" -> dg._1, "cents" -> dg._2, "hash" -> dg._3)
        }
      }
    }
    if (keep) roundLat += lats.toSeq
    rm(base)
  }

  /** Warm pass: one whole round into a scratch state (after half a round,
    * the measured rounds still ran slower and spread wider).
    */
  def setup(spark: SparkSession): Unit = round(spark, "warm", perRound, keep = false)

  /** At least three rounds: one round's few batches leave its median too
    * exposed to a single slow batch.
    */
  override def minUnits: Int = 3

  def unit(spark: SparkSession): Unit = {
    rounds += 1
    round(spark, s"round$rounds", perRound, keep = true)
  }

  /** Median latency of a round's last quarter of batches over its first quarter. */
  def growth: Double = {
    val q = math.max(1, perRound / 4)
    val g = roundLat.map(l => Stats.median(l.takeRight(q)) / Stats.median(l.take(q)))
    if (g.isEmpty) Double.NaN else Stats.median(g.toSeq)
  }

  override def layers: Map[String, Double] = {
    val b = bytesPerBatch
    Map("streaming.state_rows" -> stateRows.toDouble,
      "streaming.bytes_rewritten" -> (if (b.isEmpty) 0.0 else b.map(_.toDouble).sum / b.size),
      "streaming.batch_growth" -> growth)
  }

  def finish(spark: SparkSession): ListMap[String, Any] =
    ListMap("rounds" -> rounds, "batches_per_round" -> perRound,
      "stream_batch_growth" -> growth)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
