package graftbench

import java.nio.file.Files

import scala.collection.mutable

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Query workloads: a fixed list of `SparkEntry.queries` keys over the
  * read-only driver tables. The seed permutes the visiting order. The
  * set-up rounds only build sessions; the last session runs the cold
  * pass (the JVM's first, as a fresh application pays it),
  * `warmupPasses` unmeasured passes (JIT warm-up) and as many measured
  * ones as typical warm passes (`nominalPassS`) fit in the measuring
  * time (`Stats.warmPasses`). Every op's rows and order-insensitive
  * content hash are checked against the recorded values. */
final class QueryWorkload(s: Settings, allKeys: Seq[String], val rounds: Int,
    warmupPasses: Int, nominalPassS: Double) extends Workload {
  private val keys = if (s.tiny) allKeys.take(1) else allKeys
  private val dir = s.dataDir.toString
  private var order: Seq[String] = Nil
  private var fns: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  private var expected: Map[String, (Long, String)] = Map.empty

  def prepare(spark: SparkSession, round: Int): Unit = {
    // java.util.Random's first draws barely differ between nearby seeds;
    // SplittableRandom mixes the seed first
    order = new scala.util.Random(new java.util.SplittableRandom(s.seed).nextLong()).shuffle(keys)
    fns = graft.SparkEntry.queries
    val exp = s.expectedFile.filter(Files.exists(_))
    expected = exp.map(p => Json.readExpected(Files.readString(p))).getOrElse(Map.empty)
    if (s.corrupt) expected.get(keys.head).foreach { case (rows, h) =>
      expected = expected.updated(keys.head, (rows + 1, h))
    }
  }

  private var attempted, failed = 0L
  private val mismatched = mutable.LinkedHashSet.empty[String]
  /** (rows, content hash) per key, from every pass. */
  private val seen = mutable.Map.empty[String, mutable.Set[(Long, String)]]

  /** One timed op: build the key's frame, execute its plan as written
    * and consume every row into the content hash (a plain `count()`
    * would let the optimizer prune the projections being measured).
    * Returns its wall time, or None. */
  private def op(spark: SparkSession, key: String, group: String,
      layers: Option[QueryLayers], span: Int): Option[Double] = {
    attempted += 1
    val sc = spark.sparkContext
    sc.setJobGroup(group, key)
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    try {
      val df = fns(key)(spark, dir)
      val got = ContentHash.of(df)
      val dt = (System.nanoTime() - t0) / 1e9
      layers.foreach(_.op(group, key, span, df.queryExecution, startMs, System.currentTimeMillis()))
      seen.getOrElseUpdate(key, mutable.Set.empty) += got
      if (s.recordFile.isEmpty && !expected.get(key).contains(got) && mismatched.add(key))
        System.err.println(s"[perfbench] $key: (rows, hash) $got, expected ${expected.get(key)}")
      Some(dt)
    } catch { case e: Throwable =>
      failed += 1
      Main.reportFailure(s.workload, key, e)
      None
    } finally {
      sc.clearJobGroup()
      spark.catalog.clearCache()
    }
  }

  private def pass(spark: SparkSession, label: String, tracer: Option[Tracer],
      layers: Option[QueryLayers]): Seq[Option[Double]] = {
    layers.foreach(_.attach(true))
    val span = tracer.filter(_ => layers.isDefined).map(_.begin(label))
    val times = order.map { k =>
      val opSpan = span.map(_ => tracer.get.begin(k))
      try op(spark, k, s"$label:$k", layers, opSpan.getOrElse(-1))
      finally opSpan.foreach(id => tracer.get.end(id))
    }
    span.foreach(id => tracer.get.end(id))
    layers.foreach(_.attach(false))
    System.err.println(s"[perfbench] $label: " + order.zip(times).map { case (k, t) =>
      f"$k ${t.getOrElse(Double.NaN)}%.3f" }.mkString(", "))
    times
  }

  private var layers: Option[QueryLayers] = None
  private var cold: Seq[Option[Double]] = Nil
  private var wlSpan: Option[Int] = None
  private var coldPassS = Double.NaN

  def coldPass(spark: SparkSession, round: Int, tracer: Option[Tracer]): Unit =
    if (round == rounds - 1) {
      layers = tracer.map(t => new QueryLayers(spark, t, s.cores))
      wlSpan = tracer.map(_.begin(s.workload))
      layers.foreach(_.codegenMark())
      val t0 = System.nanoTime()
      cold = pass(spark, "cold", tracer, layers)
      if (cold.forall(_.isDefined)) coldPassS = (System.nanoTime() - t0) / 1e9
      layers.foreach(_.codegenDone())
    }

  def run(spark: SparkSession, tracer: Option[Tracer]): Outcome = {
    (0 until warmupPasses).foreach(k => pass(spark, s"warmup$k", tracer, None))
    val warm = mutable.ArrayBuffer.empty[Seq[Double]]
    val tracedWarm = mutable.ArrayBuffer.empty[Seq[Double]]
    // traced runs alternate untraced and traced measured passes
    val passes = Stats.warmPasses(s.seconds, nominalPassS) * (if (tracer.isDefined) 2 else 1)
    for (k <- 0 until passes) {
      val traced = tracer.isDefined && k % 2 == 1
      val t = pass(spark, s"warm$k", tracer, layers.filter(_ => traced))
      if (t.forall(_.isDefined)) (if (traced) tracedWarm else warm) += t.flatten
    }
    wlSpan.foreach(id => tracer.get.end(id))
    val heap = Stats.retainedHeapMb()

    val ok = failed == 0 && mismatched.isEmpty && record()
    Outcome(
      coldPassS = coldPassS,
      jvmColdPassS = coldPassS,
      warmPassS = Stats.sumOfMedians(warm.toSeq),
      heapMb = heap,
      attempted = attempted, failed = failed, correct = ok,
      layers = layers.map(_.summary(order, cold, warm.toSeq, tracedWarm.toSeq)).getOrElse(Map.empty))
  }

  /** With `--record`, writes each key's (rows, hash) into the
    * expectation file; every pass must have produced the same values. */
  private def record(): Boolean = s.recordFile.forall { p =>
    val stable = keys.forall(k => seen.get(k).exists(_.size == 1))
    if (stable) {
      val prev = if (Files.exists(p)) Json.readExpected(Files.readString(p)) else Map.empty
      val merged = prev ++ keys.map(k => k -> seen(k).head)
      Files.writeString(p, merged.toSeq.sortBy(_._1).map { case (k, (r, h)) =>
        s"  ${Json.str(k)}: {\"rows\": $r, \"hash\": ${Json.str(h)}}" }.mkString("{\n", ",\n", "\n}\n"))
    } else System.err.println(s"[perfbench] not recorded: passes disagree: $seen")
    stable
  }
}

object QueryWorkload {
  /** Frozen: the first key of each of six modules among every 16th key
    * of the sorted registry (starting at the 5th), less classification
    * and streaming (both run in every CDC micro-batch, and their keys
    * were the two slowest warm ops, which left no time in a run to warm
    * the pass up): the CDC, masking, relational and source operators;
    * plus MinHash-LSH dedup, a training-data operator whose executor
    * compute and shuffle join are the largest share of its pass. Tiny
    * inputs, so planning, codegen, scheduling and cold start dominate
    * the others. */
  val sweepKeys = Seq("cdc_dlq_route", "dedup_minhash_lsh", "mask_fpe_digits", "q06_selective",
    "src_fixedwidth_roundtrip")

  /** The graft module a key belongs to, by its registry prefix. */
  def module(key: String): String = key.takeWhile(_ != '_') match {
    case "q06" => "ops"
    case "src" => "sources"
    case p => p
  }
  /** One per sweep key. */
  val modules: Seq[String] = sweepKeys.map(module)
}

/** Order-insensitive content hash of a frame's rows, computed over the
  * RDD of its executed plan: each row renders to canonical text (columns
  * sorted by name, floating point to 6 significant digits so that
  * summation order cannot flip it), hashes to 64 bits, and the hashes
  * combine by sum and XOR. */
object ContentHash {
  private def render(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit = {
    if (v == null) sb.append("\u0000")
    else t match {
      case DoubleType | FloatType =>
        val d = v match { case f: Float => f.toDouble; case d: Double => d }
        sb.append(String.format(java.util.Locale.ROOT, "%.6g", Double.box(if (d == 0.0) 0.0 else d)))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        (0 until a.numElements()).foreach { i => render(sb, a.get(i, et), et); sb.append(',') }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i => render(sb, r.get(i, st.fields(i).dataType), st.fields(i).dataType); sb.append(',') }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          render(e, m.keyArray().get(i, kt), kt); e.append(':'); render(e, m.valueArray().get(i, vt), vt)
          e.toString
        }.sorted
        sb.append(entries.mkString("<", ",", ">"))
      case BinaryType => sb.append(java.util.HexFormat.of().formatHex(v.asInstanceOf[Array[Byte]]))
      case _ => sb.append(v.toString)
    }
  }

  private def partition(rows: Iterator[InternalRow], schema: StructType): (Long, BigInt, Long) = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    var n = 0L
    var sum = BigInt(0)
    var xor = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      order.foreach { i =>
        render(sb, r.get(i, schema.fields(i).dataType), schema.fields(i).dataType); sb.append('\u0001')
      }
      val text = sb.toString
      val h = (MurmurHash3.stringHash(text, 0x3c074a61).toLong << 32) |
        (MurmurHash3.stringHash(text, 0x1b873593).toLong & 0xffffffffL)
      n += 1; sum += h; xor ^= h
    }
    (n, sum, xor)
  }

  /** (rows, hash) of the frame; executes its plan. */
  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val (n, sum, xor) = df.queryExecution.toRdd
      .mapPartitions(it => Iterator(partition(it, schema)))
      .fold((0L, BigInt(0), 0L)) { case ((n1, s1, x1), (n2, s2, x2)) => (n1 + n2, s1 + s2, x1 ^ x2) }
    val names = schema.fieldNames.sorted.mkString(",")
    (n, s"${MurmurHash3.stringHash(names)}:$sum:$xor")
  }
}

/** Per-layer measurements of the query workloads (traced passes only):
  * Catalyst phases of every query execution inside an op, codegen,
  * Spark scheduler/task/shuffle counters by op job group, and op times
  * by module and by key. */
final class QueryLayers(spark: SparkSession, tracer: Tracer, cores: Int) {
  private val listener = new LayerListener(tracer)
  private var attached = false
  /** (epoch-ms start of the analysis phase, phase → ms) per execution. */
  private val executions = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private final case class OpWindow(group: String, key: String, span: Int, startMs: Long, endMs: Long)
  private val windows = mutable.ArrayBuffer.empty[OpWindow]
  private var codegen0 = (0L, 0.0)
  private var codegenCold = (0L, 0.0)

  private def phases(qe: QueryExecution): (Long, Map[String, Long]) = {
    val p = qe.tracker.phases
    (p.values.map(_.startTimeMs).minOption.getOrElse(0L), p.map { case (k, v) => k -> v.durationMs })
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized(executions += phases(qe))
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(on: Boolean): Unit = {
    if (on && !attached) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    }
    if (!on && attached) {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    attached = on
  }

  def codegenMark(): Unit = codegen0 = CodegenStats.now()
  def codegenDone(): Unit = codegenCold = CodegenStats.since(codegen0)

  /** Records the op's window (for attributing asynchronous events) and
    * its top-level plan's phases. */
  def op(group: String, key: String, span: Int, qe: QueryExecution, startMs: Long,
      endMs: Long): Unit = synchronized {
    windows += OpWindow(group, key, span, startMs, endMs)
    executions += phases(qe)
  }

  def summary(order: Seq[String], cold: Seq[Option[Double]], warm: Seq[Seq[Double]],
      traced: Seq[Seq[Double]]): Map[String, Double] = {
    attach(false)
    listener.settle()
    windows.foreach { w =>
      listener.group(w.group).jobIntervals.foreach { case (a, b) => tracer.add("spark.job", w.span, a, b) }
    }
    val tracedGroups = windows.filter(_.group.startsWith("warm"))
    val nPass = math.max(1, traced.size).toDouble
    val g = new GroupStats
    tracedGroups.foreach(w => g += listener.group(w.group))
    val wall = traced.flatten.sum
    // Catalyst phases of executions that started inside a traced warm op
    val plan = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    synchronized(executions.toSeq).foreach { case (start, ph) =>
      if (tracedGroups.exists(w => start >= w.startMs && start <= w.endMs))
        ph.foreach { case (k, ms) => plan(k) += ms / 1000.0 }
    }
    val coldByKey = order.zip(cold).collect { case (k, Some(t)) => k -> t }.toMap
    val warmByKey = order.indices.map(i => order(i) -> Stats.median(warm.map(_(i)))).toMap
    val byModule = (m: Map[String, Double]) =>
      m.groupBy { case (k, _) => QueryWorkload.module(k) }.map { case (mod, kv) => mod -> kv.values.sum }
    val coldMod = byModule(coldByKey)
    val warmMod = byModule(warmByKey)
    val jobsMod = byModule(order.map { k =>
      k -> tracedGroups.filter(_.key == k).map(w => listener.group(w.group).jobs).sum / nPass }.toMap)
    Map(
      "plan.analysis_s" -> plan("analysis") / nPass,
      "plan.optimization_s" -> plan("optimization") / nPass,
      "plan.planning_s" -> plan("planning") / nPass,
      "codegen.compiles" -> codegenCold._1.toDouble,
      "codegen.compile_s" -> codegenCold._2,
      "trace.overhead_s" -> (Stats.sumOfMedians(traced) - Stats.sumOfMedians(warm)),
      "trace.overhead_frac" -> (Stats.sumOfMedians(traced) / Stats.sumOfMedians(warm) - 1)
    ) ++ LayerMetrics.spark(g, nPass, wall, cores) ++
      QueryWorkload.modules.flatMap(m => Seq(
        s"$m.cold_s" -> coldMod.getOrElse(m, 0.0),
        s"$m.warm_s" -> warmMod.getOrElse(m, 0.0),
        s"$m.jobs" -> jobsMod.getOrElse(m, 0.0)))
  }
}
