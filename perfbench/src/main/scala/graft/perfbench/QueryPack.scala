package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `query_pack`: a fixed subset of `SparkEntry.queries`, one query per
  * family, run serially through a `noop` write against the seeded sf0.01
  * corpus.
  *
  * Set-up runs every query once, writing its result as parquet the way
  * `graft.Verify` does; `run.py` hash-compares those results against the
  * DuckDB oracle with `tools/compare.py` after the JVM exits, untimed.
  * Set-up then runs `WarmPasses` untimed passes. Then a fixed number of
  * passes over the subset are timed, as many as fill `--seconds` at
  * `NominalPassSeconds` each. A query's operation time is its median over
  * the passes. Each query stands for its whole family: the pack figures
  * count it once per registered query of its family, so they estimate
  * the full pack.
  */
object QueryPack {

  /** One query per family (d dedup, m multimodal, p sampling, q core,
    * s similarity, t text): the oracle-checked query whose time is
    * nearest its family's mean time in a full warm pass of all queries on
    * the seed-1 corpus (figures in README.md). q52_stats_moments, as
    * near the core mean as q11, is left out for its known last-ULP oracle
    * mismatch (ROADMAP). The whole pack takes minutes per pass, beyond
    * one run's budget. */
  val Subset: Seq[String] = Seq("d04_dedup_ngram_jaccard", "m05_perceptual_hash",
    "p09_curriculum", "q11_agg_tpch_q1", "s18_ivfpq_delete", "t10_vocab_zipf")

  /** Registered queries in `name`'s family: how many `name` stands for. */
  def weight(name: String): Int = SparkEntry.queries.keys.count(_.head == name.head)

  /** Untimed passes after the result-writing pass. In a traced run on a
    * 4-vCPU host, pass times after it kept falling up to the fourth pass
    * (by about a sixth from the second to the fourth) and were flat from
    * then on, so the timed passes start with the fourth. */
  val WarmPasses = 3

  /** A warm pass of the subset takes about this long on a 4-vCPU host.
    * The pass count is fixed from it, not from the clock, so that every
    * run times the same passes of the same warm-up curve. */
  val NominalPassSeconds = 4.0

  val Families: Map[Char, String] = Map('q' -> "core", 'd' -> "dedup",
    's' -> "similarity", 't' -> "text", 'p' -> "sampling", 'm' -> "multimodal")

  def run(spark: SparkSession, o: Main.Opts, probes: Main.Probes,
      tracer: Option[Tracer]): Main.Outcome = {
    val data = o.data.getOrElse(sys.error("query_pack needs --data"))
    val names = Subset
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val outDir = s"${o.work}/results"
    Files.createDirectories(Paths.get(outDir))

    // set-up: one result-writing pass (the oracle's input, and warm-up)
    val thrown = mutable.LinkedHashMap.empty[String, String]
    fns.foreach { case (n, fn) =>
      try fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      catch { case e: Throwable =>
        thrown(n) = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $n failed: ${thrown(n)}")
      }
    }
    Json.write(s"$outDir/oracle_sql.json",
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    Main.mark(o, "result-writing pass done")

    def noop(n: String, fn: (SparkSession, String) => DataFrame): Boolean =
      try { fn(spark, data).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}"); false
      }
    // set-up: untimed passes as measured, until pass times are flat
    for (_ <- 1 to WarmPasses) fns.foreach { case (n, fn) => noop(n, fn) }
    Main.mark(o, s"$WarmPasses warm passes done")
    probes.start()
    val stats = tracer.map(_ => new JobStats(spark).attach())
    val root = tracer.map(_.nextId()).getOrElse(0L)
    val at0 = stats.map(_.counters())
    val gc0 = Main.gcSeconds()
    Main.resetHeapPeaks()
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val start = System.currentTimeMillis()
    val toRun = math.max(1, math.round(o.seconds / NominalPassSeconds).toInt)
    var passes = 0
    var failures = 0L
    while (passes < toRun) {
      val passStart = System.currentTimeMillis()
      val passId = tracer.map(_.nextId()).getOrElse(0L)
      fns.foreach { case (n, fn) =>
        val t0 = System.currentTimeMillis()
        val ok = noop(n, fn)
        val t1 = System.currentTimeMillis()
        if (ok) samples += n -> (t1 - t0).toDouble else failures += 1
        for (t <- tracer; s <- stats) {
          val qid = t.add("query", passId, t0 * 1000, t1 * 1000, "query" -> n)
          s.plansIn(t0, t1).foreach(p =>
            t.add(s"planning.${p.phase}", qid, p.start * 1000, p.end * 1000))
          s.addSpans(t, qid, t0, t1)
        }
      }
      passes += 1
      tracer.foreach(_.addWithId(passId, "pass", root, passStart * 1000,
        System.currentTimeMillis() * 1000, "pass" -> passes))
    }
    val end = System.currentTimeMillis()
    Main.mark(o, s"$passes measured passes done")
    val gc = Main.gcSeconds() - gc0
    stats.foreach(_.detach())
    tracer.foreach(_.addWithId(root, "pack", 0L, start * 1000, end * 1000,
      "queries" -> names.size))

    // one operation time per query: its median over the passes, so one
    // slow pass moves no figure by itself; counted once per query of its
    // family, the times stand for the full pack
    val perQuery = samples.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2).toSeq) }
    val times = perQuery.toSeq.flatMap { case (n, t) => Seq.fill(weight(n))(t) }
    val familySeconds = Families.map { case (c, fam) =>
      s"operators.${fam}_s" -> samples.filter(_._1.head == c)
        .map { case (n, t) => t * weight(n) }.sum / 1e3 / passes
    }
    val layers = familySeconds ++ Map(
      "jvm.gc_s" -> gc, "jvm.heap_peak_mb" -> Main.heapPeakMb()) ++
      (for (s <- stats; a <- at0) yield s.layer(start, end, a, o.cores, passes))
        .getOrElse(Map.empty)
    Main.Outcome(
      attempted = names.size.toLong + passes.toLong * names.size,
      // a query that threw in set-up left no result: the oracle check
      // (run.py) counts it, so it is not counted here as well
      failed = failures,
      setupEndMs = start,
      endToEnd = Map(
        "latency_p50_ms" -> Stats.median(times),
        "latency_p99_ms" -> Stats.pct(times, 0.99),
        "throughput_per_s" -> times.size / (times.sum / 1e3)),
      layers = layers,
      checks = Map("queries" -> names, "passes" -> passes, "thrown" -> thrown.toMap,
        "per_query_ms" -> perQuery))
  }
}
