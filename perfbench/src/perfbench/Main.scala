package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One timed op of one pass. */
final case class OpSample(pass: String, key: String, ms: Double, ok: Boolean)

/** One pass: wall time, JVM GC time during it, and whether it was traced. */
final case class Pass(name: String, s: Double, gcS: Double, traced: Boolean)

/** Runs ops, times them, tags their Spark jobs and keeps every record in
  * memory until the run ends.
  */
final class Harness(val spark: SparkSession, val recorder: Option[Recorder]) {
  val samples: mutable.ArrayBuffer[OpSample] = mutable.ArrayBuffer.empty
  val counts: mutable.Map[String, Long] = mutable.LinkedHashMap.empty
  /** position key -> (class, description, outcome, escaped failure message) */
  val outcomes: mutable.Map[String, (String, String, Boolean, String)] = mutable.LinkedHashMap.empty
  var blocksPeakBytes = 0L
  @volatile var tagging: Boolean = recorder.isDefined

  /** Run `body` as op `key` of `pass`; `body` returns whether its output
    * matched the expectation. A throw counts as a mismatch.
    */
  def op(pass: String, key: String)(body: => Boolean): Unit = {
    val sc = spark.sparkContext
    val tag = s"pb-$pass-$key"
    if (tagging) sc.addJobTag(tag)
    val t0 = System.nanoTime()
    val ok =
      try body
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $pass/$key threw: $e")
          false
      } finally if (tagging) sc.removeJobTag(tag)
    samples += OpSample(pass, key, (System.nanoTime() - t0) / 1e6, ok)
    if (!ok) System.err.println(s"[perfbench] op $pass/$key did not match its expectation")
    if (tagging) blocksPeakBytes = math.max(blocksPeakBytes,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  def count(name: String, n: Long): Long = { counts(name) = n; n }

  def observe(rs: Seq[(String, graft.requirements.Requirement, Int, graft.core.TestResult)]): Unit =
    rs.foreach { case (key, req, k, r) =>
      outcomes(key) = (req.constraints(k).getClass.getSimpleName, r.constraintDescription,
        r.outcome, Expectation.escape(r.failureMessage.getOrElse("")))
    }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val data = arg(args, "--data").getOrElse(sys.error("--data is required"))
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    if (arg(args, "--generate").contains("1")) {
      val spark = session(work, Runtime.getRuntime.availableProcessors())
      DataGen.generate(spark, data)
      spark.stop()
      return
    }
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(0L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val expectedDir = arg(args, "--expected").getOrElse(sys.error("--expected is required"))
    val cores = Runtime.getRuntime.availableProcessors()

    val w: Workload = workload match {
      case "suite" =>
        new Suite(Suites.specs, Seq("lineitem", "orders", "customer", "part", "supplier", "events"),
          data, Expected.verdicts(s"$expectedDir/suite.tsv"), seed)
      case "curate" => new Curate(data, Expected.counts(s"$expectedDir/curate.tsv"))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: process start (JVM start) to a ready session with the
    // workload's sources resolved; then twice more in the same process,
    // from stopping the session to the next ready one
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val start = if (i == 0) jvmStart else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(work, cores)
      w.tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
      w.prepare(spark)
      setups += (System.currentTimeMillis() - start) / 1e3
    }

    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val h = new Harness(spark, recorder)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val memory = ManagementFactory.getMemoryMXBean

    val passes = mutable.ArrayBuffer.empty[Pass]
    val heaps = mutable.ArrayBuffer.empty[Double]
    // traced runs alternate traced and untraced warm passes in the order
    // T U U T ..., so a warm-up trend does not bias the overhead comparison
    def runPass(name: String, i: Int): Unit = {
      h.tagging = recorder.isDefined && (i == 0 || i % 4 < 2)
      val g0 = gcMs
      val t0 = System.nanoTime()
      w.pass(h, name)
      val s = (System.nanoTime() - t0) / 1e9
      passes += Pass(name, s, (gcMs - g0) / 1e3, h.tagging)
      // a second full GC after the context cleaner has had time to drop
      // what the first one queued for it
      System.gc(); Thread.sleep(200); System.gc()
      heaps += memory.getHeapMemoryUsage.getUsed / 1048576.0
    }

    // first pass, then warm passes for the measured window: at least as
    // many as the workload asks for, four in a traced run
    runPass("p0", 0)
    val window0 = System.nanoTime()
    val minWarm = if (trace) 4 else w.minWarmPasses
    var i = 1
    while (i <= minWarm || (System.nanoTime() - window0) / 1e9 < seconds) {
      runPass(s"p$i", i); i += 1
    }
    val warm = passes.drop(1)

    val attempted = h.samples.size
    val failed = h.samples.count(!_.ok)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, String]

    if (!trace) {
      val warmOps = h.samples.filter(_.pass != "p0").map(_.ms)
      out("setup_s") = (Stats.median(setups.toSeq), "s")
      out("pass_s") = (Stats.median(warm.map(_.s).toSeq), "s")
      // the ops of a pass differ in size by an order of magnitude, so their
      // median jumps between sizes; the geometric mean is the typical op
      out("op_geomean_ms") = (math.exp(warmOps.map(math.log).sum / warmOps.size), "ms")
      out("items_per_s") = (w.itemsPerPass * warm.size / warm.map(_.s).sum, "1/s")
      // the lowest reading: what stays live across passes (caches) raises it,
      // cleanup that is still queued at a pass end does not
      out("heap_mb") = (heaps.min, "MB")
      detail("setups_s") = setups.map(Stats.fmt).mkString("[", ",", "]")
      // one cold sample per run: as noisy as the host, so reported, not bounded
      detail("first_pass_s") = Stats.fmt(passes.head.s)
      detail("op_samples") = warmOps.size.toString
      detail("warm_passes") = warm.size.toString
      detail("pass_s_all") = passes.map(p => Stats.fmt(p.s)).mkString("[", ",", "]")
      detail("heap_mb_all") = heaps.map(Stats.fmt).mkString("[", ",", "]")
      detail("op_ms") = h.samples.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, ss) =>
        s"\"$k\":" + ss.map(x => Stats.fmt(x.ms)).mkString("[", ",", "]") }.mkString("{", ",", "}")
      detail("ops_failed_frac") = Stats.fmt(failed.toDouble / attempted)
    } else {
      h.tagging = true
      w.traceProbes(h)
      val minhashDocsPerS = kernelProbe(spark, data)
      PerfbenchBridge.drain(spark.sparkContext)
      val rec = recorder.get
      out ++= Layers.metrics(rec, h, passes.toSeq, cores, minhashDocsPerS)
      detail("ops") = Layers.opsJson(rec)
    }
    detail("counts") = h.counts.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    arg(args, "--record").foreach(path => Expected.record(path, h))
    spark.stop()

    println("perfbench-detail " + detail.map { case (k, v) =>
      val json = if (v.startsWith("{") || v.startsWith("[")) v else s"\"$v\""
      s"\"$k\":$json"
    }.mkString("{", ",", "}"))
    val metrics = out.map { case (k, (v, unit)) =>
      s"\"$k\":{\"value\":${Stats.fmt(v)},\"unit\":\"$unit\"}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
  }

  /** The MinHash kernel chain alone, over the documents repeated 25 times
    * with distinct texts: documents per second, median of three runs.
    */
  private def kernelProbe(spark: SparkSession, data: String): Double = {
    import graft.functions.{MinHashSignature, NormalizeText, ShingleHashes}
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .crossJoin(spark.range(25).toDF("rep"))
      .select(concat(col("text"), lit(" r"), col("rep").cast("string")).as("text"))
    val n = DataGen.NDocs * 25L
    val q = docs.select(MinHashSignature.minhashSignature(
        ShingleHashes.shingleHashes(NormalizeText.normalizeText(col("text")), 5), 64).as("sig"))
      .agg(max(xxhash64(col("sig"))))
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); q.collect(); (System.nanoTime() - t0) / 1e9
    }
    n / Stats.median(times)
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      // bounded status-store history, so the heap tracks the program's
      // own state rather than how many jobs the run happened to keep
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).round(new java.math.MathContext(9)).toPlainString
}

/** Expected outputs, committed beside the workloads as tab-separated files. */
object Expected {
  private def lines(path: String): Seq[Array[String]] =
    if (!Files.exists(Paths.get(path))) Nil
    else Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))

  /** key, class, description, outcome, failure message */
  def verdicts(path: String): Map[String, Expectation] =
    lines(path).map(a => a(0) -> Expectation(a(1), a(2), a(3).toBoolean, a.lift(4).getOrElse(""))).toMap

  /** name, count */
  def counts(path: String): Map[String, Long] = lines(path).map(a => a(0) -> a(1).toLong).toMap

  /** Write what this run observed, in the same formats. */
  def record(path: String, h: Harness): Unit = {
    val rows =
      if (h.outcomes.nonEmpty)
        h.outcomes.toSeq.sortBy { case (k, _) => val a = k.drop(1).split('c').map(_.toInt); (a(0), a(1)) }
          .map { case (k, (f, d, o, m)) => s"$k\t$f\t$d\t$o\t$m" }
      else h.counts.toSeq.map { case (k, v) => s"$k\t$v" }
    Files.write(Paths.get(path), rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
