package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.SparkEntry
import graft.llm.AnnIndex
import graft.ml.ChurnML

/** One timed call into the program. */
final case class OpRec(name: String, module: String, seconds: Double,
                       ok: Boolean, traced: Boolean, error: String)

/** Benchmark main: runs one workload as a single-client closed loop
  * (the next call starts when the previous one returns) and writes a
  * JSON record; `run.py` turns the record into metrics and checks the
  * outputs.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  * [<entriesFile>]   (the entries file is required by query_mix)
  *
  * With trace=1 every call runs twice, once traced and once not, so the
  * record carries both the per-layer spans and the tracing overhead on
  * the same inputs. */
object Main {
  type Query = (SparkSession, String) => DataFrame

  /** The registry's six churn fits (the `ml_*` entries of
    * `ChurnML.queries`), as span name → call. The iterative families run
    * at a fifth of the registry's iteration budgets (lr 30, fm 10,
    * gbt 25, gbt_xgb 20, cv 12) so that a cold retrain fits the
    * benchmark's time budget; rf has no iteration budget and runs as
    * the registry's (100 trees, depth 10). Every phase of a fit (split
    * and cache, fit, model save and reload, scoring, metrics) runs. */
  val Fits: Seq[(String, Query)] = Seq(
    "lr" -> ((s, d) => ChurnML.trainEval(s, d, "lr", lrIter = 6)),
    "fm" -> ((s, d) => ChurnML.trainEval(s, d, "fm", fmIter = 2)),
    "gbt" -> ((s, d) => ChurnML.trainEval(s, d, "gbt", gbtIter = 5)),
    "gbt_xgb" -> ((s, d) => ChurnML.trainEval(s, d, "gbt_xgb", gbtIter = 4)),
    "rf" -> ((s, d) => ChurnML.trainEval(s, d, "rf")),
    "cv_lr" -> ((s, d) => ChurnML.crossValidate(s, d, k = 3, lrIter = 3)))

  /** Call-site classes of the jobs inside one fit, first match wins. */
  val FitClasses: Seq[(String, Seq[String])] = Seq(
    "eval.metrics_ms" -> Seq("graft.eval.Metrics"),
    "ml.save_load_ms" -> Seq("MLWriter", "MLReader", "DefaultParamsWriter",
      "DefaultParamsReader", "PipelineModel$.load", "PipelineModelReader",
      "PipelineModelWriter"),
    "ml.fit_ms" -> Seq("Pipeline.fit", "Estimator.fit", "Predictor.fit"))

  /** Module that owns a registry entry: the package of the object whose
    * `queries` map defines it (`graft.<module>.<Object>`). */
  def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.split('.').toList match {
      case "graft" :: m :: _ :: _ => m
      case _ => "unknown"
    }

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg) = args.take(5)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val entriesFile = args.lift(5)
    // Long call sites carry the whole user stack, so fit jobs can be
    // classified by the ML call that launched them.
    if (trace) System.setProperty("spark.callstack.depth", "1000")
    val record = mutable.LinkedHashMap.empty[String, JValue]

    val spark = graft.Sessions.local("graft-perfbench")
    record("session_s") = JDouble((System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    val cores = spark.sparkContext.defaultParallelism
    val tracer =
      if (trace) Some(new Tracer(spark, FitClasses, "ml.score_ms")) else None
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    var liveHeapMb = 0.0

    /** Forced GC outside any timed call; keeps the largest heap still in
      * use after a collection. */
    def sampleLiveHeap(): Unit = {
      System.gc()
      val used = heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed)
        .getOrElse(0L)).sum / (1024.0 * 1024.0)
      liveHeapMb = math.max(liveHeapMb, used)
    }

    var nCalls = 0
    def timedOnce(name: String, module: String, t: Option[Tracer])(
        body: Option[Tracer] => Unit): Unit = {
      val t0 = System.nanoTime()
      val err =
        try { body(t); "" } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] $name FAILED: $e")
            Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
              .take(1).mkString.take(300)
        }
      ops += OpRec(name, module, (System.nanoTime() - t0) / 1e9, err.isEmpty,
        t.isDefined, err)
    }
    /** Times one call. The body gets the tracer on traced executions and
      * opens its spans itself. With tracing every call runs twice, once
      * traced and once not, the order alternating from call to call. */
    def timed(name: String, module: String)(body: Option[Tracer] => Unit): Unit = {
      nCalls += 1
      val order =
        if (tracer.isEmpty) Seq(None)
        else if (nCalls % 2 == 1) Seq(None, tracer) else Seq(tracer, None)
      order.foreach(t => timedOnce(name, module, t)(body))
    }

    val w: Workload = workload match {
      case "churn_retrain" => new Retrain(spark, data)
      case "query_mix" =>
        val names = Files.readAllLines(Paths.get(entriesFile.get)).asScala
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
        new Mix(spark, data, work, names)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup(record)
    sampleLiveHeap()

    val stealMs0 = Host.stealMs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    record("setup_s") = JDouble((System.currentTimeMillis() - jvmStart) / 1000.0)
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    do {
      val p0 = System.nanoTime()
      w.pass(timed)
      passSeconds += (System.nanoTime() - p0) / 1e9
      sampleLiveHeap()
    } while (w.repeats && elapsed < seconds)
    record("measured_s") = JDouble(elapsed)
    record("steal_ms") = JLong(Host.stealMs() - stealMs0)
    record("pass_s") = JArray(passSeconds.map(JDouble(_)).toList)
    record("live_heap_mb") = JDouble(liveHeapMb)
    record("cores") = JInt(cores)
    record("driver_heap_mb") = JLong(Runtime.getRuntime.maxMemory >> 20)
    record("parallel_gc_threads") = JString(Host.vmOption("ParallelGCThreads"))
    record("gc") = JArray(ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => JString(b.getName)).toList)
    record("ops") = JArray(ops.map(o => JObject(
      "name" -> JString(o.name), "module" -> JString(o.module),
      "s" -> JDouble(o.seconds), "ok" -> JBool(o.ok),
      "traced" -> JBool(o.traced), "error" -> JString(o.error))).toList)
    w.finish(record)
    tracer.foreach { t =>
      record("spans") = JArray(t.spans.map { s =>
        JObject(
          "name" -> JString(s.name), "start_ms" -> JDouble(s.startMs),
          "wall_ms" -> JDouble(s.wallMs), "job_ms" -> JDouble(s.jobMs),
          "driver_gap_ms" -> JDouble(s.gapMs), "plan_ms" -> JDouble(s.planMs),
          "jobs" -> JInt(s.jobs), "tasks" -> JLong(s.tasks),
          "busy_share" -> JDouble(s.busyShare(cores)), "gc_ms" -> JDouble(s.gcMs),
          "shuffle_write_mb" -> JDouble(s.shuffleWriteMb),
          "spill_mb" -> JDouble(s.spillMb), "output_mb" -> JDouble(s.outputMb),
          "class_ms" -> JObject(s.classMs.toList.sortBy(_._1)
            .map { case (k, v) => k -> JDouble(v) }))
      }.toList)
    }
    Files.write(Paths.get(work, "record.json"),
      compact(render(JObject(record.toList))).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Host facts recorded with every run, so a noisy run can be explained. */
object Host {
  /** Aggregate steal time (/proc/stat column 8, USER_HZ = 100). */
  def stealMs(): Long =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      l.trim.split("\\s+").drop(1).lift(7).map(_.toLong * 10).getOrElse(0L)
    } catch { case NonFatal(_) => 0L }

  def vmOption(name: String): String =
    try ManagementFactory.getPlatformMXBean(
      classOf[com.sun.management.HotSpotDiagnosticMXBean]).getVMOption(name).getValue
    catch { case NonFatal(_) => "" }
}

/** A workload: untimed setup, then passes of timed calls. */
trait Workload {
  type Timed = (String, String) => (Option[Tracer] => Unit) => Unit
  def setup(record: mutable.LinkedHashMap[String, JValue]): Unit
  /** Runs one pass of calls through `timed`. */
  def pass(timed: Timed): Unit
  /** Whether passes repeat until the run's seconds are used up. */
  def repeats: Boolean = true
  def finish(record: mutable.LinkedHashMap[String, JValue]): Unit = ()
}

/** churn_retrain: the six churn fits over the wide table that setup
  * builds once through [[ChurnML.wideFrame]]. One pass is one retrain,
  * each fit one timed call (and one span when traced). A run makes
  * exactly one pass and setup runs no fit: the measured retrain is the
  * one a freshly started batch job pays, whatever the run's length. */
final class Retrain(spark: SparkSession, data: String) extends Workload {
  private val results = mutable.ArrayBuffer.empty[JValue]

  private def fit(fam: String, fn: Main.Query, tracer: Option[Tracer]): Unit = {
    val run = () => fn(spark, data).collect()
    val rows = tracer.fold(run())(_.span(s"ml.$fam")(run()))
    val cols = rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
    results += JObject("family" -> JString(fam), "rows" -> JArray(rows.map { r =>
      JObject(cols.zipWithIndex.map { case (c, i) =>
        c -> (r.get(i) match {
          case d: Double => JDouble(d)
          case l: Long => JLong(l)
          case x => JString(String.valueOf(x))
        })
      }.toList)
    }.toList))
  }

  def setup(record: mutable.LinkedHashMap[String, JValue]): Unit =
    record("wide_rows") = JLong(ChurnML.wideFrame(spark, data).count())

  override def repeats: Boolean = false

  def pass(timed: Timed): Unit = Main.Fits.foreach { case (fam, fn) =>
    timed(fam, "ml")(fit(fam, fn, _))
  }

  override def finish(record: mutable.LinkedHashMap[String, JValue]): Unit =
    record("fits") = JArray(results.toList)
}

/** query_mix: the named registry entries, each call one entry written to
  * the noop sink. Setup trains the ANN store's IVF index, then runs one
  * untimed warm-up pass that writes every oracle-backed entry to parquet
  * for the DuckDB check. */
final class Mix(spark: SparkSession, data: String, work: String,
                names: Seq[String]) extends Workload {
  private val entries: Seq[(String, Main.Query)] =
    names.map(n => n -> SparkEntry.queries(n))
  private val checkDir = Paths.get(work, "out", "checks").toString
  private val warmFailures = mutable.LinkedHashMap.empty[String, String]

  private def isolate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def setup(record: mutable.LinkedHashMap[String, JValue]): Unit = {
    // Train the store artifact the mix reads (the IVF index behind
    // sim_recall_eval) in this run's empty java.io.tmpdir, so setup_s
    // carries the training and no timed call does. The warm-up below
    // would train any other artifact an entry came to read.
    val s0 = System.nanoTime()
    AnnIndex.ensureIvf(spark, data)
    record("store_s") = JDouble((System.nanoTime() - s0) / 1e9)
    isolate()
    val oracles = mutable.LinkedHashMap.empty[String, JValue]
    entries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, data)
        SparkEntry.oracleSql.get(name) match {
          case Some(sql) =>
            df.write.mode("overwrite").parquet(Paths.get(checkDir, name).toString)
            oracles(name) = JString(sql)
          case None => df.write.mode("overwrite").format("noop").save()
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] warm-up $name FAILED: $e")
          warmFailures(name) = String.valueOf(e.getMessage).take(300)
      }
      isolate()
    }
    record("check_dir") = JString(checkDir)
    record("oracles") = JObject(oracles.toList)
    record("warm_failures") = JObject(warmFailures.toList.map { case (k, v) => k -> JString(v) })
    record("entries") = JArray(entries.map { case (n, fn) =>
      JObject("name" -> JString(n), "module" -> JString(Main.moduleOf(fn)))
    }.toList)
  }

  def pass(timed: Timed): Unit = entries.foreach { case (name, fn) =>
    val module = Main.moduleOf(fn)
    timed(name, module) { tracer =>
      val run = () => fn(spark, data).write.mode("overwrite").format("noop").save()
      tracer.fold(run())(_.span(s"$module.$name")(run()))
    }
    isolate()
  }
}
