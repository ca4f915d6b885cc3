package graftbench

import java.time.{Instant, LocalDate}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.classify.Libraries
import graft.conf.{ConfigPipeline, GraftConfig}
import graft.streaming.{CdcStream, JdbcUpsert}

/** Seeded Debezium-envelope generator for three source tables. One of
  * them (`audit_masked`) matches the `.*_masked` exclusion; about 1 % of
  * envelopes are truncated JSON. With `track` it also keeps the
  * reference the outputs are checked against, computed without Spark. */
final class CdcGen(seed: Long, upsert: Boolean, track: Boolean) {
  import CdcGen._
  private val rnd = new java.util.SplittableRandom(seed)
  private var ts = 1700000000000L
  private val nextId = Array.fill(tables.size)(1L)

  /** Well-formed events per source table (the append reference). */
  val events = Array.fill(tables.size)(0L)
  /** Latest op per key is not a delete (the upsert reference). */
  val present = Array.fill(tables.size)(mutable.LongMap.empty[Boolean])
  val rawNames = mutable.HashSet.empty[String]

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def word(): String = {
    val n = 4 + rnd.nextInt(5)
    val sb = new StringBuilder
    sb += ('A' + rnd.nextInt(26)).toChar
    (1 until n).foreach(_ => sb += ('a' + rnd.nextInt(26)).toChar)
    sb.toString
  }

  private def row(id: Long): String = {
    val name = word() + " " + word()
    if (track) rawNames += name
    val date = LocalDate.of(2020, 1, 1).plusDays(rnd.nextInt(1500))
    s"""{"id":$id,"full_name":"$name","c_acctbal":${rnd.nextInt(1000000) / 100.0},""" +
      s""""order_date":"$date","c_mktsegment":"${pick(segments)}","status":"${pick(statuses)}"}"""
  }

  private def existing(t: Int): Long = {
    val n = nextId(t) - 1
    // upserts concentrate on hot keys: P(key index < x·n) = x^(1/3)
    if (upsert) 1L + math.min(n - 1, (n * math.pow(rnd.nextDouble(), 3)).toLong)
    else 1L + rnd.nextLong(n)
  }

  def next(n: Int): Array[String] = Array.fill(n) {
    val r = rnd.nextDouble()
    val t = if (r < 0.55) 0 else if (r < 0.90) 1 else 2
    val o = rnd.nextDouble()
    val op =
      if (nextId(t) == 1) "c"
      else if (upsert) { if (o < 0.15) "c" else if (o < 0.80) "u" else "d" }
      else { if (o < 0.90) "c" else if (o < 0.98) "u" else "d" }
    val id = if (op == "c") { nextId(t) += 1; nextId(t) - 1 } else existing(t)
    val before = if (op == "c") "null" else row(id)
    val after = if (op == "d") "null" else row(id)
    ts += 1
    val json = s"""{"payload":{"before":$before,"after":$after,""" +
      s""""source":{"db":"shop","table":"${tables(t)}"},"op":"$op","ts_ms":$ts}}"""
    if (rnd.nextInt(100) == 0) json.substring(0, json.length / 2)
    else {
      if (track) {
        events(t) += 1
        present(t)(id) = op != "d"
      }
      json
    }
  }
}

object CdcGen {
  val tables = Seq("customer", "orders", "audit_masked")
  val segments = Seq("automobile", "building", "furniture", "household", "machinery")
  val statuses = Seq("open", "shipped", "returned", "closed")
  /** Set for the default library's `nation-names` pseudonym rule. */
  val nationNames = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
    "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES")
  val rowSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("full_name", StringType),
    StructField("c_acctbal", DoubleType), StructField("order_date", DateType),
    StructField("c_mktsegment", StringType), StructField("status", StringType)))
  val valueCols = Seq("full_name", "c_acctbal", "order_date", "c_mktsegment", "status")
}

/** Closed-loop, single-client replication through graft's config-driven
  * pipeline: each micro-batch is handed over with `addData` and the
  * client waits for `processAllAvailable`, as the reference's embedded
  * engine hands one batch over and waits for it.
  *
  * A pass is one micro-batch. Each set-up round starts a query on a
  * target of its own in its fresh session and feeds it the seed's first
  * batch (the cold pass: what a replication restart pays); the first
  * round's query then runs a fixed JIT warm-up, and earlier rounds stop
  * and check their target. The restart path runs once per round, so
  * its code warms up slowly: the first `warmupRestarts` restarts are
  * not measured. The last round's query runs on: a shorter warm-up,
  * then a fixed number of measured batches. */
final class CdcWorkload(s: Settings, upsert: Boolean, unmeasuredRestarts: Int,
    measuredRestarts: Int) extends Workload {
  private val warmupRestarts = if (s.tiny) 0 else unmeasuredRestarts
  val rounds: Int = 1 + warmupRestarts + (if (s.tiny) 1 else measuredRestarts)
  import CdcGen._

  private val batchEvents = if (s.tiny) 200 else if (upsert) 2000 else 5000
  /** Typical warm batch time on a 4-vCPU machine; fixes the pass count. */
  private val nominalPassS = if (upsert) 0.75 else 0.45
  /** Unmeasured batches after the first round's cold pass, where the
    * JIT warms up graft's and Spark's own code. */
  private val firstRoundWarmup = if (s.tiny) 0 else if (upsert) 3 else 6
  /** Unmeasured batches before the measured ones, where it compiles the
    * last session's generated classes. */
  private val warmupPasses = if (s.tiny) 1 else if (upsert) 2 else 4
  private val setResolver: String => Seq[String] =
    n => if (n == "nation-names") nationNames else Seq.empty

  private var round = 0
  private var cfg: GraftConfig = _
  private var gen: CdcGen = _
  private var firstBatch: Array[String] = Array.empty

  private var attempted, failed = 0L
  private var earlierOk = true
  private var batchNo = 0L
  private var alive = true
  private var mem: MemoryStream[String] = _
  private var q: StreamingQuery = null
  private var layers: CdcLayers = _
  private var tracer: Option[Tracer] = None
  private var wlSpan: Option[Int] = None
  private var cold: Option[Double] = None
  /** Each round's cold pass, None where it failed. */
  private val colds = mutable.ArrayBuffer.empty[Option[Double]]

  private def dbUrl(r: Int) = s"jdbc:derby:memory:perfbench_${ProcessHandle.current.pid}_$r"
  private def outDir(r: Int) = s.workDir.resolve(s"out-$r")

  def prepare(spark: SparkSession, round: Int): Unit = {
    this.round = round
    val p = new Properties()
    p.setProperty("table.exclude.list", ".*_masked")
    p.setProperty("targetNamePostfix", "_masked")
    p.setProperty("offset.storage.file.filename", s.workDir.resolve(s"offsets-$round.dat").toString)
    if (upsert) {
      p.setProperty("DSN", "bench")
      p.setProperty("DSN.bench.url", dbUrl(round) + ";create=true")
    } else {
      p.setProperty("dataTarget", outDir(round).toString)
      p.setProperty("dataTargetProcessType", "batch")
    }
    cfg = GraftConfig.fromProperties(p)
    gen = new CdcGen(s.seed, upsert, track = false)
    firstBatch = gen.next(batchEvents)
  }

  private def createTargets(): Unit = {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val conn = java.sql.DriverManager.getConnection(dbUrl(round) + ";create=true")
    try tables.filterNot(_.endsWith("_masked")).foreach { t =>
      conn.createStatement().execute(
        s"CREATE TABLE ${t}_masked (id BIGINT PRIMARY KEY, full_name VARCHAR(64), " +
          "c_acctbal DOUBLE, order_date DATE, c_mktsegment VARCHAR(32), status VARCHAR(16))")
    } finally conn.close()
  }

  /** One closed-loop micro-batch; returns its latency. */
  private def batch(events: Array[String], traced: Boolean): Option[Double] = {
    attempted += 1
    val span = tracer.filter(_ => traced).map(_.begin("batch"))
    val t0 = System.nanoTime()
    try {
      mem.addData(events.toSeq)
      q.processAllAvailable()
      val dt = (System.nanoTime() - t0) / 1e9
      span.foreach(id => tracer.get.end(id))
      if (traced) layers.afterBatch(span.get, batchNo, events, cfg, setResolver)
      batchNo += 1
      Some(dt)
    } catch { case e: Throwable =>
      span.foreach(id => tracer.get.end(id))
      failed += 1
      alive = false
      Main.reportFailure(s.workload, s"round $round batch $batchNo", e)
      None
    }
  }

  /** One pass: one micro-batch of fresh events; traced, a span over
    * the batch and its static layer re-runs. */
  private def pass(traced: Boolean): Option[Double] = {
    layers.setListener(traced)
    val span = tracer.filter(_ => traced).map(_.begin("pass"))
    val t = batch(gen.next(batchEvents), traced)
    span.foreach(id => tracer.get.end(id))
    if (traced) layers.progress(q)
    t
  }

  private def stopQuery(): Unit = {
    try if (q != null) q.stop() catch { case e: Throwable => Main.reportFailure(s.workload, "stop", e) }
    q = null
  }

  def coldPass(spark: SparkSession, round: Int, tracer: Option[Tracer]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    this.tracer = tracer
    layers = new CdcLayers(spark, tracer, upsert)
    wlSpan = tracer.map(_.begin(s.workload))
    batchNo = 0L
    alive = true
    val t0 = System.nanoTime()
    layers.codegenMark()
    val coldSpan = tracer.map(_.begin("cold_pass"))
    try {
      if (upsert) createTargets()
      mem = MemoryStream[String](s.cores)(Encoders.STRING, sqlCtx)
      val masked = ConfigPipeline.assemble(mem.toDF(), rowSchema, cfg, Libraries.default, setResolver)
      def start(): StreamingQuery =
        if (upsert) masked.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            ConfigPipeline.applyJdbc(b, cfg, "id", "ts_ms", valueCols)
          }.option("checkpointLocation", cfg.offsetStoragePath.get + ".checkpoint").start()
        else ConfigPipeline.sinkStream(masked, cfg).start()
      q = tracer.fold(start())(_.span("query.start")(start()))
    } catch { case e: Throwable =>
      attempted += 1
      failed += 1
      alive = false
      Main.reportFailure(s.workload, s"round $round query start", e)
    }
    cold = if (alive) batch(firstBatch, traced = false) else None
    coldSpan.foreach(id => tracer.get.end(id))
    val dt = (System.nanoTime() - t0) / 1e9
    layers.codegenDone()
    firstBatch = Array.empty
    if (round == 0) (0 until firstRoundWarmup).foreach(_ => if (alive) pass(traced = false))
    if (round < rounds - 1) {
      stopQuery()
      earlierOk &&= alive && check(round, batchNo)
      if (upsert) dropTargets(round)
    }
    colds += cold.map(_ => dt)
  }

  def run(spark: SparkSession, tracer: Option[Tracer]): Outcome = {
    // a fixed warm-up, then a fixed number of measured passes (see
    // Stats.warmPasses); traced runs alternate untraced and traced
    // measured passes to expose the overhead
    val warmup = (0 until warmupPasses).flatMap(_ => if (alive) pass(traced = false) else None)
    val warm = mutable.ArrayBuffer.empty[Double]
    val tracedWarm = mutable.ArrayBuffer.empty[Double]
    val passes = Stats.warmPasses(s.seconds, nominalPassS) * (if (tracer.isDefined) 2 else 1)
    for (k <- 0 until passes if alive) {
      val traced = tracer.isDefined && k % 2 == 1
      pass(traced).foreach(t => (if (traced) tracedWarm else warm) += t)
    }
    System.err.println(f"[perfbench] cold passes (s): " +
      colds.map(c => f"${c.getOrElse(Double.NaN)}%.3f").mkString(", ") +
      f"; batches (s): cold ${cold.getOrElse(Double.NaN)}%.3f; warm-up " +
      warmup.map(t => f"$t%.3f").mkString(" ") + "; measured " + warm.map(t => f"$t%.3f").mkString(" "))
    val fed = batchNo
    stopQuery()
    wlSpan.foreach(id => tracer.get.end(id))
    val heap = Stats.retainedHeapMb()

    val ok = alive && failed == 0 && earlierOk && check(round, fed)
    val layerValues = tracer.map { _ =>
      layers.summary(cold.getOrElse(Double.NaN), warm.toSeq, tracedWarm.toSeq, batchEvents)
    }.getOrElse(Map.empty)
    // the first round's cold pass also pays class loading and JIT warm-up
    Outcome(
      coldPassS = if (colds.forall(_.isDefined)) Stats.median(colds.drop(1 + warmupRestarts).flatten.toSeq)
        else Double.NaN,
      jvmColdPassS = colds.head.getOrElse(Double.NaN),
      warmPassS = Stats.median(warm.toSeq),
      heapMb = heap,
      attempted = attempted, failed = failed, correct = ok, layers = layerValues)
  }

  /** An earlier round's in-memory database, once checked. */
  private def dropTargets(r: Int): Unit =
    try java.sql.DriverManager.getConnection(dbUrl(r) + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006

  /** Replays the generator with the reference switched on and compares
    * the target against it. A corrupted expectation (self-check) must
    * make this fail. */
  private def check(r: Int, batches: Long): Boolean = {
    val ref = new CdcGen(s.seed, upsert, track = true)
    (0L until batches).foreach(_ => ref.next(batchEvents))
    val bump = if (s.corrupt) 1L else 0L
    if (upsert) checkUpsert(r, ref, bump) else checkAppend(r, ref, bump)
  }

  private def checkAppend(r: Int, ref: CdcGen, bump: Long): Boolean = {
    val out = outDir(r)
    val lines = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var leaked = 0L
    val epochs = Option(out.toFile.listFiles()).toSeq.flatten.filter(_.getName.startsWith("epoch="))
    for (e <- epochs; t <- Option(e.listFiles()).toSeq.flatten if t.isDirectory;
         f <- Option(t.listFiles()).toSeq.flatten if f.getName.endsWith(".csv")) {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().foreach { l =>
        lines(t.getName.stripPrefix("target_table=")) += 1
        if (l.split('\t').exists(ref.rawNames.contains)) leaked += 1
      } finally src.close()
    }
    val expected = tables.indices.filterNot(i => tables(i).endsWith("_masked"))
      .map(i => s"${tables(i)}_masked" -> ref.events(i)).toMap
    val got = lines.toMap
    val ok = got == expected.map { case (k, v) => k -> (v + bump) } && leaked == 0
    if (!ok) System.err.println(s"[perfbench] cdc_append check failed in round $r: rows $got, " +
      s"expected ${expected.map { case (k, v) => k -> (v + bump) }}, raw names leaked in $leaked lines")
    ok
  }

  private def checkUpsert(r: Int, ref: CdcGen, bump: Long): Boolean = {
    val conn = java.sql.DriverManager.getConnection(dbUrl(r))
    try tables.indices.filterNot(i => tables(i).endsWith("_masked")).forall { i =>
      val rs = conn.createStatement().executeQuery(s"SELECT id, full_name FROM ${tables(i)}_masked")
      val keys = mutable.HashSet.empty[Long]
      var leaked = 0L
      while (rs.next()) {
        keys += rs.getLong(1)
        if (ref.rawNames.contains(rs.getString(2))) leaked += 1
      }
      val expected = ref.present(i).collect { case (k, true) => k + bump }.toSet
      val ok = keys.toSet == expected && leaked == 0
      if (!ok) System.err.println(s"[perfbench] cdc_upsert check failed in round $r on ${tables(i)}: " +
        s"${keys.size} keys vs ${expected.size} expected, " +
        s"${(keys.toSet diff expected).size} unexpected, raw names leaked in $leaked rows")
      ok
    } finally conn.close()
  }
}

/** Per-layer measurements of the CDC workloads, taken only on traced
  * passes: static re-runs of parse and assemble on each batch's JSON,
  * Spark job/task counters by micro-batch, and the streaming progress
  * phase durations. */
final class CdcLayers(spark: SparkSession, tracer: Option[Tracer], upsert: Boolean) {
  private val listener = tracer.map(new LayerListener(_))
  private var attached = false
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val batchSpans = mutable.Map.empty[Long, Int]
  private val progressSeen = mutable.Set.empty[Long]
  private var tracedEvents = 0L
  private var codegen0 = (0L, 0.0)
  private var codegenCold = (0L, 0.0)

  def setListener(on: Boolean): Unit = listener.foreach { l =>
    if (on && !attached) spark.sparkContext.addSparkListener(l)
    if (!on && attached) spark.sparkContext.removeSparkListener(l)
    attached = on
  }

  def codegenMark(): Unit = codegen0 = CodegenStats.now()
  def codegenDone(): Unit = codegenCold = CodegenStats.since(codegen0)

  /** Runs a layer call under its own span and job group; (result, s). */
  private def timed[T](name: String, group: String)(body: => T): (T, Double) = {
    spark.sparkContext.setJobGroup(group, name)
    val t0 = System.nanoTime()
    try (tracer.get.span(name)(body), (System.nanoTime() - t0) / 1e9)
    finally spark.sparkContext.clearJobGroup()
  }

  /** Static re-run of the batch's layers, outside its timed latency. */
  def afterBatch(span: Int, batchId: Long, events: Array[String], cfg: GraftConfig,
      setResolver: String => Seq[String]): Unit = {
    batchSpans(batchId) = span
    tracedEvents += events.length
    val df = spark.createDataset(events.toSeq)(Encoders.STRING).toDF("value")
    val group = s"layer-$batchId"
    val (_, parse) = timed("cdc.parse", group) {
      CdcStream.changes(df, CdcGen.rowSchema).queryExecution.toRdd.count()
    }
    val assembled = ConfigPipeline.assemble(df, CdcGen.rowSchema, cfg, Libraries.default, setResolver)
    val (rows, assemble) = timed("mask.assemble", group)(assembled.queryExecution.toRdd.count())
    acc("cdc.parse_s") += parse
    acc("mask.apply_s") += math.max(0.0, assemble - parse)
    acc("conf.rows_out") += rows
    if (upsert) {
      val (keys, lpk) = timed("streaming.latest_per_key", group) {
        JdbcUpsert.latestPerKey(assembled, "id", "ts_ms").queryExecution.toRdd.count()
      }
      acc("streaming.latest_per_key_s") += math.max(0.0, lpk - assemble)
      acc("streaming.keys") += keys
    }
  }

  /** Streaming progress phases of the traced batches, as spans under
    * each batch (placed back to back from the trigger start, in the
    * order the micro-batch runs them) and as layer sums. */
  def progress(q: StreamingQuery): Unit = if (q != null) q.recentProgress.foreach { p =>
    batchSpans.get(p.batchId).filter(_ => progressSeen.add(p.batchId)).foreach { parent =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      var at = tracer.get.epochMsToNs(Instant.parse(p.timestamp).toEpochMilli)
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph =>
          val ms = d.getOrElse(ph, 0L)
          tracer.get.add(s"streaming.$ph", parent, at, at + ms * 1000000L)
          at += ms * 1000000L
        }
      acc("streaming.plan_s") += d.getOrElse("queryPlanning", 0L) / 1000.0
      acc("streaming.wal_s") += d.getOrElse("walCommit", 0L) / 1000.0
      acc("streaming.commit_s") += d.getOrElse("commitOffsets", 0L) / 1000.0
      acc("streaming.trigger_s") += d.getOrElse("triggerExecution", 0L) / 1000.0
      acc("streaming.add_batch_s") += d.getOrElse("addBatch", 0L) / 1000.0
    }
  }

  def summary(firstBatchS: Double, warm: Seq[Double], traced: Seq[Double],
      batchEvents: Int): Map[String, Double] = {
    setListener(false)
    val l = listener.get
    l.settle()
    val g = new GroupStats
    batchSpans.keys.foreach(id => g += l.group(s"batch-$id"))
    val nPass = math.max(1, traced.size).toDouble
    val wall = traced.sum
    val perPass = (k: String) => acc(k) / nPass
    batchSpans.foreach { case (id, span) =>
      l.group(s"batch-$id").jobIntervals.foreach { case (a, b) => tracer.get.add("spark.job", span, a, b) }
    }
    Map(
      "cdc.events_per_s" -> batchEvents * warm.size / warm.sum,
      "cdc.batch_p50_s" -> Stats.median(warm),
      "cdc.batch_p90_s" -> Stats.quantile(warm, 0.9),
      "cdc.batches" -> warm.size.toDouble,
      "cdc.first_batch_s" -> firstBatchS,
      "cdc.parse_s" -> perPass("cdc.parse_s"),
      "mask.apply_s" -> perPass("mask.apply_s"),
      "conf.sink_s" -> (if (upsert) 0.0 else perPass("streaming.add_batch_s")),
      "conf.rows_out_per_event" -> (acc("conf.rows_out") / math.max(1L, tracedEvents)),
      "streaming.upsert_s" -> (if (upsert) perPass("streaming.add_batch_s") else 0.0),
      "streaming.latest_per_key_s" -> perPass("streaming.latest_per_key_s"),
      "streaming.jdbc_apply_s" -> (if (upsert) math.max(0.0,
        perPass("streaming.add_batch_s") - perPass("streaming.latest_per_key_s")) else 0.0),
      "streaming.keys_per_event" -> (acc("streaming.keys") / math.max(1L, tracedEvents)),
      "streaming.plan_s" -> perPass("streaming.plan_s"),
      "streaming.wal_s" -> perPass("streaming.wal_s"),
      "streaming.commit_s" -> perPass("streaming.commit_s"),
      "streaming.trigger_s" -> perPass("streaming.trigger_s"),
      "codegen.compiles" -> codegenCold._1.toDouble,
      "codegen.compile_s" -> codegenCold._2,
      "trace.overhead_s" -> (Stats.median(traced) - Stats.median(warm)),
      "trace.overhead_frac" -> (Stats.median(traced) / Stats.median(warm) - 1)
    ) ++ LayerMetrics.spark(g, nPass, wall, spark.sparkContext.defaultParallelism)
  }
}

/** Codegen compile counters (a process-wide histogram; the compile
  * time sum is estimated as mean × count of its sample reservoir). */
object CodegenStats {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  def now(): (Long, Double) = {
    val n = h.getCount
    (n, n * h.getSnapshot.getMean / 1000.0)
  }

  def since(mark: (Long, Double)): (Long, Double) = {
    val (n, t) = now()
    (n - mark._1, math.max(0.0, t - mark._2))
  }
}

/** Spark scheduler, task and shuffle layers, per pass. */
object LayerMetrics {
  def spark(g: GroupStats, nPass: Double, wallS: Double, cores: Int): Map[String, Double] = {
    val jobsCovered = Intervals.union(g.jobIntervals.toSeq) / 1e9
    Map(
      "sched.jobs" -> g.jobs / nPass,
      "sched.stages" -> g.stages / nPass,
      "sched.tasks" -> g.tasks / nPass,
      "sched.driver_gap_s" -> math.max(0.0, wallS - jobsCovered) / nPass,
      "task.run_s" -> g.runNs / 1e9 / nPass,
      "task.cpu_s" -> g.cpuNs / 1e9 / nPass,
      "task.gc_s" -> g.gcMs / 1e3 / nPass,
      "task.busy_frac" -> g.runNs / 1e9 / math.max(1e-9, wallS * cores),
      "shuffle.write_bytes" -> g.shuffleWrite / nPass,
      "shuffle.read_bytes" -> g.shuffleRead / nPass,
      "shuffle.fetch_wait_s" -> g.fetchWaitMs / 1e3 / nPass,
      "spill.bytes" -> g.spill / nPass)
  }
}
