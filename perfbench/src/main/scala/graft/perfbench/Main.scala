package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload against the unmodified library and
  * writes its measurements as JSON to `<work>/result.json`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --cores <n> --t0-ms <epoch ms set-up started>
  *   [--data <corpus dir>]
  *
  * Every layer is measured from outside: the harness times its own calls
  * into public entry points and reads Spark's listener surfaces. With
  * `--trace 1` it also records spans and the per-layer counters that cost
  * something to collect (per-task listener, directory walks).
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, cores: Int, t0Ms: Long,
      data: Option[String])

  /** What a workload hands back: operations attempted and failed,
    * when its set-up ended (epoch ms), and its metrics. */
  final case class Outcome(attempted: Long, failed: Long, setupEndMs: Long,
      endToEnd: Map[String, Double], layers: Map[String, Double],
      checks: Map[String, Any])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--work"), get("--cores").toInt,
      get("--t0-ms").toLong, m.get("--data"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The two fixed-work host probes of `graft.Bench`: single-threaded
    * FNV-1a over 2^27 longs, and a 2^27-row codegen aggregate through the
    * noop sink. Their time moves with the host, never with the code. */
  def calibCpu(): Double = {
    val t0 = System.nanoTime()
    var h = 0xcbf29ce484222325L
    var i = 0L
    while (i < (1L << 27)) { h ^= i; h *= 0x100000001b3L; i += 1 }
    if (h == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  def calibSpark(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 27)
      .selectExpr("sum(xxhash64(id) % 1048576) h", "count(id) c")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Summed collection time of every collector, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Phase marks on stderr (the run's jvm.log), in seconds since set-up
    * started. */
  def mark(o: Opts, what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - o.t0Ms) / 1e3}%.1f s $what")

  /** Host probes, taken once at the end of set-up, just before the
    * measured window, and once after it. The start probes are bench
    * work, so their wall time is kept out of `setup_s`. */
  final class Probes(spark: SparkSession) {
    private val taken = mutable.LinkedHashMap.empty[String, Double]
    var startSeconds = 0.0
    private def take(at: String): Unit = {
      taken(s"host.calib_cpu_${at}_s") = calibCpu()
      taken(s"host.calib_spark_${at}_s") = calibSpark(spark)
    }
    def start(): Unit = {
      val t0 = System.nanoTime()
      spark.range(1L << 16) // compile the probe's plan outside its timing
        .selectExpr("sum(xxhash64(id) % 1048576) h", "count(id) c")
        .write.format("noop").mode("overwrite").save()
      take("start")
      startSeconds = (System.nanoTime() - t0) / 1e9
    }
    def end(): Unit = take("end")
    def values: Map[String, Double] = taken.toMap
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    mark(o, "jvm started")
    Files.createDirectories(Paths.get(o.work))
    val spark = session(o)
    val out = try {
      mark(o, "session ready")
      val probes = new Probes(spark)
      val tracer = if (o.trace) Some(new Tracer) else None
      val r = o.workload match {
        case "cdc_lag_1k" => Cdc.lag(spark, o, probes, tracer)
        case "query_pack" => QueryPack.run(spark, o, probes, tracer)
        case w => sys.error(s"unknown workload '$w'")
      }
      probes.end()
      mark(o, "workload done")
      tracer.foreach(_.write(s"${o.work}/trace.jsonl"))
      r.copy(
        endToEnd = r.endToEnd +
          ("setup_s" -> ((r.setupEndMs - o.t0Ms) / 1e3 - probes.startSeconds)),
        layers = r.layers ++ probes.values)
    } finally spark.stop()
    Json.write(s"${o.work}/result.json", Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "end_to_end" -> out.endToEnd, "layers" -> out.layers,
      "checks" -> out.checks))
  }
}
