package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Settings(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: Path,
    workDir: Path,
    resultFile: Path,
    tiny: Boolean,
    corrupt: Boolean,
    cores: Int,
    expectedFile: Option[Path],
    recordFile: Option[Path])

/** What a workload hands back: its pass timings, the heap it retains,
  * its per-layer numbers (traced runs), and its op counts and
  * correctness verdict over the whole run. */
final case class Outcome(
    coldPassS: Double,
    jvmColdPassS: Double,
    warmPassS: Double,
    heapMb: Double,
    attempted: Long,
    failed: Long,
    correct: Boolean,
    layers: Map[String, Double])

/** A run is `rounds` set-up rounds, each in a fresh session, then warm
  * passes in the last round's session. */
trait Workload {
  /** Set-up rounds in one run; the first starts the JVM. */
  def rounds: Int
  /** Builds the round's inputs from the seed; part of set-up. */
  def prepare(spark: SparkSession, round: Int): Unit
  /** The round's cold pass, in rounds where the workload has one.
    * `tracer` is set on the traced round of a traced run (the last). */
  def coldPass(spark: SparkSession, round: Int, tracer: Option[Tracer]): Unit
  /** Warm passes in the last round's session, then checks the outputs. */
  def run(spark: SparkSession, tracer: Option[Tracer]): Outcome
}

/** Shared timing helpers. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Warm passes per run: as many nominal passes as fit in the measuring
    * time, at least two. A fixed count, not a deadline, so that every run
    * of a workload does the same work and reaches the same point of the
    * JIT warm-up curve. */
  def warmPasses(seconds: Double, nominalPassS: Double): Int =
    math.max(2, math.ceil(seconds / nominalPassS - 1e-9).toInt)

  /** Σ over op positions of each position's median across passes. */
  def sumOfMedians(passes: Seq[Seq[Double]]): Double =
    if (passes.isEmpty) Double.NaN
    else passes.head.indices.map(i => median(passes.map(_(i)))).sum

  /** Driver heap in use after full collections, in MiB: the least of
    * repeated readings, taken until two in a row agree. Spark's context
    * cleaner frees broadcast and shuffle blocks on its own thread once a
    * collection has found them unreachable, so one reading right after
    * one collection depends on that thread's timing. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var least = Double.MaxValue
    var prev = Double.NaN
    var agreed = 0
    var i = 0
    while (i < 20 && agreed < 2) {
      System.gc()
      Thread.sleep(150)
      val mb = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      agreed = if (math.abs(mb - prev) < 0.05) agreed + 1 else 0
      prev = mb
      least = math.min(least, mb)
      i += 1
    }
    least
  }
}

/** Spark compiles generated code into a JVM-wide cache; clearing it
  * gives each fresh session the codegen cost a new application pays. */
object CodegenCache {
  def clear(): Unit = {
    val obj = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = obj.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(obj)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}

/** Every per-layer metric with its unit, in report order. A traced run
  * prints all of them; a layer the workload does not exercise reads 0. */
object Layers {
  private val spark = Seq(
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_s" -> "s", "task.run_s" -> "s", "task.cpu_s" -> "s", "task.gc_s" -> "s",
    "task.busy_frac" -> "ratio", "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.bytes" -> "bytes")
  private val cdc = Seq(
    "cdc.events_per_s" -> "events/s", "cdc.batch_p50_s" -> "s", "cdc.batch_p90_s" -> "s", "cdc.batches" -> "count",
    "cdc.first_batch_s" -> "s", "cdc.parse_s" -> "s", "mask.apply_s" -> "s", "conf.sink_s" -> "s",
    "conf.rows_out_per_event" -> "ratio", "streaming.upsert_s" -> "s",
    "streaming.latest_per_key_s" -> "s", "streaming.jdbc_apply_s" -> "s",
    "streaming.keys_per_event" -> "ratio", "streaming.plan_s" -> "s", "streaming.wal_s" -> "s",
    "streaming.commit_s" -> "s", "streaming.trigger_s" -> "s")
  private val query = Seq(
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s") ++
    QueryWorkload.modules.flatMap(m => Seq(s"$m.cold_s" -> "s", s"$m.warm_s" -> "s", s"$m.jobs" -> "count"))
  val units: Seq[(String, String)] = Seq("setup.cold_s" -> "s", "pass.jvm_cold_s" -> "s",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s", "trace.overhead_s" -> "s", "trace.overhead_frac" -> "ratio") ++
    spark ++ cdc ++ query
}

/** One benchmark run: the workload's set-up rounds (the first from JVM
  * start, the others after stopping the previous session and clearing
  * the codegen cache) with its cold passes, then the warm passes;
  * writes the result object. */
object Main {
  val workloads = Seq("cdc_append", "cdc_upsert", "registry_sweep")

  def parse(argv: Array[String]): Settings = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      require(argv(i).startsWith("--"), s"unexpected argument ${argv(i)}")
      val k = argv(i).drop(2)
      if (k == "tiny" || k == "corrupt") { kv(k) = "1"; i += 1 }
      else { kv(k) = argv(i + 1); i += 2 }
    }
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = get("workload")
    require(workloads.contains(wl), s"unknown workload $wl (one of ${workloads.mkString(", ")})")
    Settings(wl, get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(get("data")), Paths.get(get("work")), Paths.get(get("result")),
      kv.contains("tiny"), kv.contains("corrupt"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.get("expected").map(Paths.get(_)), kv.get("record").map(Paths.get(_)))
  }

  def session(s: Settings): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[${s.cores}]")
      .config("spark.sql.shuffle.partitions", s.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s.workDir.resolve("warehouse").toString)
      .config("spark.local.dir", s.workDir.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expr.VectorExprs.register(spark)
    spark
  }

  def workload(s: Settings): Workload =
    s.workload match {
      // (unmeasured restarts, measured restarts)
      case "cdc_append" => new CdcWorkload(s, upsert = false, 3, 5)
      case "cdc_upsert" => new CdcWorkload(s, upsert = true, 3, 4)
      // (keys, set-up rounds, warm-up passes, typical warm pass time on
      // a 4-vCPU machine, which fixes the number of measured passes; the
      // count derived from it, not the time, is what the code depends on)
      case "registry_sweep" =>
        new QueryWorkload(s, QueryWorkload.sweepKeys, if (s.tiny) 2 else 5, 10, 0.9)
    }

  /** A failed op's exception class and first message line. */
  def reportFailure(workload: String, what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $workload: $what failed: ${e.getClass.getName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))

  def main(argv: Array[String]): Unit = {
    val s = parse(argv)
    Files.createDirectories(s.workDir)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = workload(s)
    val tracer = if (s.trace) Some(new Tracer(s"${s.workload}-${s.seed}")) else None
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val out =
      try {
        for (r <- 0 until wl.rounds) {
          if (spark != null) {
            spark.stop()
            SparkSession.clearActiveSession()
            SparkSession.clearDefaultSession()
            CodegenCache.clear()
          }
          val t0 = System.nanoTime()
          spark = session(s)
          wl.prepare(spark, r)
          setups += (if (r == 0) (System.currentTimeMillis() - jvmStartMs) / 1000.0
                     else (System.nanoTime() - t0) / 1e9)
          wl.coldPass(spark, r, tracer.filter(_ => r == wl.rounds - 1))
        }
        wl.run(spark, tracer)
      } catch { case e: Throwable =>
        reportFailure(s.workload, "run", e)
        e.printStackTrace()
        Outcome(Double.NaN, Double.NaN, Double.NaN, Double.NaN, 1, 1, correct = false, Map.empty)
      }
    if (spark != null) spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (s.trace) {
        val values = out.layers ++ Seq("setup.cold_s" -> setups.headOption.getOrElse(Double.NaN),
          "pass.jvm_cold_s" -> out.jvmColdPassS)
        Layers.units.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
      else Seq(
        ("setup_s", Stats.median(setups.toSeq), "s"),
        ("cold_pass_s", out.coldPassS, "s"),
        ("warm_pass_s", out.warmPassS, "s"),
        ("retained_heap_mb", out.heapMb, "MiB"))
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    System.err.println(f"[perfbench] setups (s): ${setups.map(x => f"$x%.3f").mkString(", ")}; " +
      f"GC ${gcs.map(_.getCollectionCount).sum} collections ${gcs.map(_.getCollectionTime).sum / 1e3}%.2f s; " +
      f"JIT ${ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3}%.1f s")
    tracer.foreach { t =>
      t.writeJsonl(s.workDir.resolve("spans.jsonl"))
      val self = t.selfTimes.toSeq.sortBy(-_._2)
      Files.writeString(s.workDir.resolve("self_times.json"),
        Json.obj(self.map { case (k, v) => k -> Json.num(v) }))
      self.take(25).foreach { case (k, v) => System.err.println(f"[perfbench] self $v%9.3f s  $k") }
    }
    val line = Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Files.writeString(s.resultFile, line + "\n")
  }
}
