package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON text for the raw run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Wraps calls into graft's layers. The untraced form only runs the body. */
class Trace {
  def span[T](name: String)(body: => T): T = body
}

/** Records one span per wrapped call: name, start, end, parent and run id.
  * Spans stay in memory and are written out when the run ends. The open
  * span's id rides on the Spark local property [[Tracer.SpanKey]], so each
  * job names the span in which it was submitted (threads started inside a
  * span inherit it). */
final class Tracer(runId: String, sc: SparkContext) extends Trace {
  private final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  override def span[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, t0, t1)
    }
  }

  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def records: Seq[Map[String, Any]] = spans.sortBy(_.id).toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
    "start_ms" -> epochMs(s.start), "end_ms" -> epochMs(s.end)))
}

object Tracer { val SpanKey = "perfbench.span" }

/** The engine observer: job, stage and task events from the scheduler and
  * the Catalyst phase times of every SQL execution. Raw per-job and
  * per-stage records; attribution to spans happens when the run ends. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs = TrieMap.empty[Int, (Long, Int, Seq[Int])]
  private val jobEnds = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stageCompletions = TrieMap.empty[Int, Int]
  // per stage: tasks, tasks reading 0 records, run ms, cpu ns, gc ms,
  // shuffle write bytes/records, shuffle read bytes/records, spill bytes
  private val stageAgg = TrieMap.empty[Int, Array[Long]]
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, (e.time, span, e.stageIds))
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageCompletions.updateWith(e.stageInfo.stageId)(c => Some(c.getOrElse(0) + 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Long](11))
    a.synchronized {
      a(0) += 1
      if (m != null) {
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (read == 0) a(1) += 1
        a(2) += m.executorRunTime
        a(3) += m.executorCpuTime
        a(4) += m.jvmGCTime
        a(5) += m.shuffleWriteMetrics.bytesWritten
        a(6) += m.shuffleWriteMetrics.recordsWritten
        a(7) += m.shuffleReadMetrics.totalBytesRead
        a(8) += m.shuffleReadMetrics.recordsRead
        a(9) += m.diskBytesSpilled
        a(10) += m.memoryBytesSpilled
      }
    }
  }
  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  def record: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map(
      "jobs" -> jobs.toSeq.sortBy(_._1).map { case (id, (t, span, stages)) =>
        Map("id" -> id, "submit_ms" -> t, "end_ms" -> jobEnds.get(id), "span" -> span,
          "stages" -> stages) },
      "stages" -> stageAgg.toSeq.sortBy(_._1).map { case (id, a) =>
        val names = Seq("tasks", "empty_tasks", "task_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
          "shuffle_write_records", "shuffle_read_bytes", "shuffle_read_records",
          "spill_disk_bytes", "spill_memory_bytes")
        Map("id" -> id, "job" -> stageJob.get(id),
          "completed" -> stageCompletions.getOrElse(id, 0)) ++ names.zip(a.synchronized(a.toSeq)) },
      "plans" -> plans.asScala.toSeq.map { case (t, d) => Map("start_ms" -> t, "ms" -> d) })
  }
}

/** One timed call into graft: its wall and, when it threw, the error. */
final case class Op(name: String, sec: Double, err: Option[String])

/** A workload: a one-time set-up cost, then passes of op calls. */
trait Workload {
  /** Work done in one pass, in the workload's item unit. */
  def items: Long
  def setUp(spark: SparkSession, tr: Trace): Unit = ()
  /** Runs the workload in set-up, so the first timed pass finds its code
    * paths compiled. */
  def warmUp(spark: SparkSession, out: String): Unit = ()
  def pass(spark: SparkSession, tr: Trace, out: String): Seq[Op]
  /** Writes what the output checks read; never timed. */
  def writeChecks(spark: SparkSession, out: String): Unit = ()
}

object Workload {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  def failOnError(ops: Seq[Op]): Unit = ops.find(_.err.isDefined).foreach { o =>
    throw new IllegalStateException(s"warm-up ${o.name} failed: ${o.err.get}")
  }

  /** Materializes a stage result so the stage's work lands in its span. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Runs `steps` in order, one span and one op record per step. A step
    * that throws ends the pass; it and every later step count as failed. */
  final class Chain(tr: Trace) {
    val ops = ArrayBuffer.empty[Op]
    private var broken: Option[String] = None
    def apply[T](name: String)(body: => T): Option[T] =
      if (broken.isDefined) { ops += Op(name, 0.0, broken.map("skipped after " + _)); None }
      else {
        val t0 = System.nanoTime()
        try { val r = tr.span(name)(body); ops += Op(name, secs(t0), None); Some(r) }
        catch { case NonFatal(e) =>
          broken = Some(name); ops += Op(name, secs(t0), Some(describe(e))); None }
      }
  }
}

import Workload._

/** Registry queries in a given order, each built and written through the
  * noop sink; the session memos are built once, in set-up. */
final class Registry(input: String, order: Seq[String], checks: Seq[String]) extends Workload {
  def items: Long = order.size.toLong

  override def setUp(spark: SparkSession, tr: Trace): Unit =
    tr.span("SparkEntry.memo")(graft.SparkEntry.prewarmMemos(spark, input))

  def pass(spark: SparkSession, tr: Trace, out: String): Seq[Op] = order.map { name =>
    val t0 = System.nanoTime()
    val err =
      try {
        val df = tr.span("SparkEntry.construct")(graft.SparkEntry.queries(name)(spark, input))
        tr.span("SparkEntry.action")(df.write.mode("overwrite").format("noop").save())
        None
      } catch { case NonFatal(e) => Some(describe(e)) }
    Op(name, secs(t0), err)
  }

  /** Each checked query as parquet in `<out>/<name>`, and their oracle SQL
    * in `<out>/oracle_sql.json`: the layout `tools/check.py` reads. A query
    * that fails here leaves no output, which the check counts as failed. */
  override def writeChecks(spark: SparkSession, out: String): Unit = {
    checks.foreach { name =>
      try graft.SparkEntry.queries(name)(spark, input).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      catch { case NonFatal(e) => System.err.println(s"check query $name: ${describe(e)}") }
    }
    val sql = checks.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(sql))
  }
}

/** The grouped forecasting chain over a panel of monthly series. */
final class Panel(input: String, nSeries: Long, horizon: Int) extends Workload {
  import graft.core.SeriesFrame
  import graft.eval.AutoSelect
  import graft.functions.FeatureOps
  def items: Long = nSeries

  /** The chain twice: pass walls keep falling over the first runs of the
    * chain as the JIT compiles its code. */
  override def warmUp(spark: SparkSession, out: String): Unit =
    for (_ <- 1 to 2) failOnError(pass(spark, new Trace, out))

  def pass(spark: SparkSession, tr: Trace, out: String): Seq[Op] = {
    val raw = spark.read.parquet(s"$input/panel.parquet")
    val step = new Chain(tr)
    for {
      feats <- step("functions.features") {
        val h = SeriesFrame.withMonthlyHorizon(raw, horizon)
        val cal = FeatureOps.addCalendar(FeatureOps.addTimeTrend(h), Seq("month"))
        materialize(SeriesFrame.withTestFlag(
          FeatureOps.addFourier(cal, col("month"), 12.0, "month"), horizon))
      }
      seasonal <- step("eval.seasonal_length") {
        materialize(AutoSelect.findSeasonalLengthBySeries(feats))
      }
      (recipes, transformed) <- step("eval.stat_recipes") {
        val r = materialize(AutoSelect.statTransformRecipesBySeries(feats))
        (r, materialize(AutoSelect.applyStatRecipes(feats, r)))
      }
      xvar <- step("eval.auto_xvar") {
        materialize(AutoSelect.autoXvarSelectBySeries(transformed, horizon))
      }
      fc <- step("models.fit_predict") {
        materialize(graft.models.GroupedOls.fitPredictBySeries(feats,
          Seq("t", "monthsin", "monthcos")))
      }
      ci <- step("operators.conformal") {
        materialize(graft.operators.Conformal.attachBySeries(feats, fc))
      }
      _ <- step("results.write") {
        ci.write.mode("overwrite").parquet(s"$out/forecasts")
        seasonal.join(recipes, SeriesFrame.SeriesId).join(xvar, SeriesFrame.SeriesId)
          .write.mode("overwrite").parquet(s"$out/decisions")
      }
    } yield ()
    step.ops.toSeq
  }
}

/** One benchmark run in one JVM: the set-up, then timed passes, then the
  * output-check dump; the raw record goes to `<out>/raw.json`.
  *
  * Arguments (key value pairs): workload, input, out, seconds, trace (0|1),
  * min_passes, cores, run, and per workload: queries/checks (comma lists)
  * or series/horizon. */
object Main {
  def session(cores: Int, dir: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Exercises the operators every workload touches (range, parquet scan,
    * shuffle aggregate, broadcast join, window), so class loading and code
    * generation land in set-up rather than in the first op. */
  def warm(spark: SparkSession, parquet: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val t = spark.read.parquet(parquet).limit(1000)
      .withColumn("_k", monotonically_increasing_id() % 7)
    t.join(broadcast(t.select(col("_k").as("_j")).distinct()), col("_k") === col("_j"))
      .groupBy("_k").count()
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("_k").orderBy("count")))
      .collect()
  }

  /** Heap in use once no Spark job runs (a job an op left in the background
    * holds memory until it ends; 30 s at most), after collections repeated
    * until two readings agree within 1 MB: between them the context cleaner
    * releases the blocks of RDDs found unreachable. */
  def heapMb(sc: SparkContext): Double = {
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    val rt = Runtime.getRuntime
    def used(): Double = {
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
    var (last, now) = (Double.MaxValue, used())
    var rounds = 1
    while (math.abs(last - now) > 1.0 && rounds < 20) { last = now; now = used(); rounds += 1 }
    now
  }

  /** A fixed amount of single-thread CPU work; its wall exposes how fast
    * the host ran when it was taken. */
  def calib(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 0L) println(x)
    secs(t0)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = a("input"); val out = a("out")
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val minPasses = a("min_passes").toInt
    def list(k: String) = a.get(k).filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil)
    val (workload, warmInput) = a("workload") match {
      case "forecast_registry" =>
        (new Registry(input, list("queries"), list("checks")), s"$input/region.parquet")
      case "panel_by_series" =>
        (new Panel(input, a("series").toLong, a("horizon").toInt), s"$input/panel.parquet")
    }
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime) * 1000000L

    // the set-up, timed from process start: JVM start-up, session, warm-up
    // and the workload's own set-up
    var setupSec = 0.0
    var spark: SparkSession = null
    val probe = new Probe
    var tracer: Option[Tracer] = None
    var setupErr: Option[String] = None
    try {
      spark = session(cores, s"$out/setup")
      if (traced) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
        tracer = Some(new Tracer(a("run"), spark.sparkContext))
      }
      warm(spark, warmInput)
      workload.warmUp(spark, s"$out/warm")
      workload.setUp(spark, tracer.getOrElse(new Trace))
      setupSec = secs(jvmStartNs)
    } catch { case NonFatal(e) => setupErr = Some(describe(e)) }

    val passes = ArrayBuffer.empty[Map[String, Any]]
    val heap = ArrayBuffer.empty[Double]
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupSec, "setup_error" -> setupErr, "items" -> workload.items)
    val untraced = new Trace
    def runPass(tr: Trace): Double = {
      val t0 = System.nanoTime()
      val ops = tr.span("wall")(workload.pass(spark, tr, s"$out/result"))
      val wall = secs(t0)
      passes += Map("wall_s" -> wall, "traced" -> (tr ne untraced),
        "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.sec, "error" -> o.err)))
      wall
    }
    if (setupErr.isEmpty) {
      if (!traced) {
        // closed loop, one caller: whole passes until the run's time is up
        val t0 = System.nanoTime()
        while (passes.size < minPasses || secs(t0) < seconds) {
          runPass(untraced)
          heap += heapMb(spark.sparkContext)
        }
      } else {
        // the traced run: untraced passes, then one pass with the probe on
        spark.sparkContext.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
        val plain = Seq.fill(2)(runPass(untraced))
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
        val wall = runPass(tracer.get)
        val storageMb = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        record ++= Map(
          "untraced_wall_s" -> plain, "traced_wall_s" -> wall, "storage_mb" -> storageMb,
          "spans" -> tracer.get.records, "engine" -> probe.record)
      }
      record("calib_s") = Seq.fill(5)(calib())
      workload.writeChecks(spark, s"$out/result")
    }
    record ++= Map("passes" -> passes.toSeq, "heap_mb" -> heap.toSeq)
    Files.writeString(Paths.get(s"$out/raw.json"), Json(record))
    if (spark != null) spark.stop()
  }
}
