package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum, xxhash64}

import graft.GraftSession
import Workload.timed
import graft.sinks.TableLog

/** One benchmark run of one workload, in one JVM:
  *
  *   set-up         (session start, a calibration with Bench's xxhash64
  *                   hash-agg kernel, then fixture staging + the cold
  *                   warm pass, and for etl_dag a few more DAG runs)
  *   measure        (whole units of work until `seconds` of them have
  *                   passed, and at least the workload's `minUnits`; with
  *                   `--trace 1` units alternate untraced / traced in an
  *                   ABBA order, the ledger listeners registered only
  *                   around the traced ones)
  *   calibrate      (again, so drift during the run shows)
  *   finish         (untimed output checks)
  *
  * Writes everything to the JSON file named by `--out`; run.py reads it,
  * runs the checks that need DuckDB or a model, and prints the result.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> --out <file>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = opts("data")
    val work = opts("work")

    val w: Workload = name match {
      case "query_mix"     => new QueryMix(data, work, seed)
      case "etl_dag"       => new EtlDag(data, work)
      case "table_churn"   => new TableChurn(data, work)
      case "stream_upsert" => new StreamUpsert(data, work)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // one session per run: the registry memoizes fixtures and catalogs per
    // JVM, so a session restart inside the run is not possible
    val t0 = System.nanoTime()
    val spark = GraftSession.local()
    val startMs = (System.nanoTime() - t0) / 1e6
    val calBefore = calibrate(spark)
    // the warm pass runs right before the measured ops: nothing in between
    // (a calibration job, a forced GC) that would cool the JVM
    val warmS = timed(w.setup(spark))._2
    val cores = spark.sparkContext.defaultParallelism

    // In the traced run the units go untraced, traced, traced, untraced, ...
    // so that neither side sits later on the JVM's warm-up curve.
    val led = new Ledger
    if (traced) Trace.attach(spark)
    val untracedIdx = ArrayBuffer.empty[Int]
    val tracedLat = ArrayBuffer.empty[Double]
    var gc, hits, folds = 0L
    var busy = 0.0
    var units = 0
    val minUnits = if (traced) math.max(4, w.minUnits) else w.minUnits
    while (busy < seconds || units < minUnits) {
      val on = traced && (units % 4 == 1 || units % 4 == 2)
      val from = w.lat.size
      val (gc0, hits0, folds0) = (gcMs(), TableLog.snapshotHits.get, TableLog.snapshotFolds.get)
      if (on) { led.register(spark); Trace.enabled = true }
      busy += timed(if (on) Trace.span("workload", name)(w.unit(spark)) else w.unit(spark))._2
      if (on) {
        Trace.enabled = false
        led.unregister(spark)
        gc += gcMs() - gc0
        hits += TableLog.snapshotHits.get - hits0
        folds += TableLog.snapshotFolds.get - folds0
        tracedLat ++= (from until w.lat.size).map(w.lat)
      } else untracedIdx ++= (from until w.lat.size)
      units += 1
    }
    val lat = untracedIdx.map(w.lat).toSeq

    var layers = ListMap.empty[String, Any]
    var ledger = ListMap.empty[String, Any]
    if (traced) {
      val rep = new LayerReport(Trace.spans, led, cores, tracedLat.toSeq, lat, gc)
      layers = rep.metrics ++ ListMap(
        "session.start_ms" -> startMs,
        "sinks.snapshot_hit_ratio" -> (if (hits + folds == 0) 0.0 else hits.toDouble / (hits + folds))) ++
        w.layers
      ledger = rep.ledger
    }
    val liveHeap = liveHeapMb()
    val calAfter = calibrate(spark)
    val out = w.finish(spark)
    if (traced) layers = layers ++ tableLayers(spark, w, out) ++ ListMap("jvm.live_heap_mb" -> liveHeap)

    val wall = lat.sum
    val result = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "env" -> Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "calibration_s" -> calBefore, "calibration_after_s" -> calAfter),
      "warm_pass_s" -> warmS, "session_start_ms" -> startMs,
      "setup_s" -> (startMs / 1e3 + warmS), "units" -> units,
      "ops" -> w.lat.size, "failed" -> w.failed, "op_latencies_s" -> w.lat.toSeq,
      "op_p50_s" -> Stats.quantile(lat, 0.5), "op_p90_s" -> Stats.quantile(lat, 0.9),
      "ops_per_s" -> (if (wall > 0) lat.size / wall else 0.0),
      "live_heap_mb" -> liveHeap,
      "workload_metrics" -> (workloadMetrics(w, untracedIdx.toSeq) ++ out),
      "layers" -> layers, "ledger" -> ledger,
      "checks" -> w.checks.toSeq)
    Files.writeString(Paths.get(opts("out")), Json.render(result))
    spark.stop()
  }

  /** The workload-named end-to-end figures, over the untraced ops `idx`. */
  private def workloadMetrics(w: Workload, idx: Seq[Int]): ListMap[String, Any] = {
    val lat = idx.map(w.lat)
    w match {
      case _: EtlDag => ListMap("etl_run_s" -> Stats.median(lat))
      case q: QueryMix =>
        val perQuery = idx.map(q.opNames).zip(lat).groupBy(_._1)
          .map { case (k, v) => k -> Stats.median(v.map(_._2).toSeq) }
        ListMap("query_p50_s" -> Stats.median(lat), "query_p90_s" -> Stats.quantile(lat, 0.9),
          "query_median_s" -> ListMap(perQuery.toSeq.sortBy(_._1): _*))
      case c: TableChurn =>
        val steps = c.commitLat.size
        val reads = c.readLat.take(steps * 3).toSeq
        ListMap("commit_p50_s" -> Stats.median(c.commitLat.toSeq),
          "read_p50_s" -> Stats.median(reads), "read_p90_s" -> Stats.quantile(reads, 0.9),
          "churn_steps_per_s" -> (if (lat.sum > 0) lat.size / lat.sum else 0.0))
      case s: StreamUpsert => ListMap("stream_batch_p50_s" -> Stats.median(lat))
    }
  }

  /** sinks.log_files / sinks.live_files of the tables the workload wrote last. */
  private def tableLayers(spark: SparkSession, w: Workload, out: ListMap[String, Any]): ListMap[String, Any] =
    w match {
      case _: TableChurn => ListMap("sinks.log_files" -> out("log_files"),
        "sinks.live_files" -> out("live_files"), "sinks.write_amp" -> out("write_amp"),
        "sinks.space_amp" -> out("space_amp"))
      case e: EtlDag =>
        val dirs = e.lastTables
        ListMap("sinks.log_files" -> dirs.map(d => TableChurn.logFiles(d)).sum,
          "sinks.live_files" -> dirs.map(d => TableLog.liveFilesAt(spark, d).size).sum)
      case _ => ListMap("sinks.log_files" -> 0, "sinks.live_files" -> 0)
    }

  /** Bench's calibration kernel (xxhash64 hash-agg over a range), at a
    * tenth of Bench's size: best of three, in seconds.
    */
  private def calibrate(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(20000000L).select(xxhash64(col("id")).as("h"))
        .agg(sum(col("h"))).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Old-generation occupancy right after a forced full collection at the
    * end of the measured ops, MB: the live set the run left behind. The
    * first collection lets Spark's ContextCleaner release what only weak
    * references held (a single one read 87 or 95 MB on the same run).
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

