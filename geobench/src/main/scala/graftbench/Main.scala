package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One invocation sets one workload up
  * `--setup-reps` times (session, seeded inputs, warm-up pass), then runs
  * timed passes for `--seconds`, checks the output and writes its figures
  * as one JSON object to `--out`. With `--train` it stops after set-up (the
  * run that records the class-data-sharing archive). `geobench/run.py`
  * launches it and prints the result line.
  *
  *   --workload flagship|geojson_etl|knn  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --out FILE  --launched-ns T
  *   [--setup-reps R]  [--train]
  *
  * `--launched-ns` is the wall-clock time (ns since the epoch) at which the
  * JVM was launched; the first set-up is counted from it.
  */
object Main {

  /** Timed passes per run: `seconds` worth at the nominal pass time, and
    * at least three, however long they take. */
  def passCount(seconds: Double, nominalPassS: Double): Int =
    math.max(3, math.round(seconds / nominalPassS).toInt)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def epochNs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** A fixed single-thread kernel in the benchmark's own code: its time
    * moves only with the host, never with the program under test. */
  def canarySec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0.0
    var i = 0
    while (i < 4000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += math.sqrt((x & 0xFFFFF).toDouble)
      i += 1
    }
    if (acc == 42.0) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("geobench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A flat JSON object; values are Long, Double or a nested such map. */
  private def json(m: Iterable[(String, Any)]): String = m.map {
    case (k, v: Long) => s""""$k":$v"""
    case (k, v: Double) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    case (k, v: Map[_, _]) => s""""$k":${json(v.asInstanceOf[Map[String, Any]])}"""
    case (k, v) => throw new IllegalArgumentException(s"$k: unsupported value $v")
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val setupReps = opts.getOrElse("setup-reps", "1").toInt
    val train = args.contains("--train")
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val launchedNs = opts("launched-ns").toLong
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    work.mkdirs()

    // Set-up, `setup-reps` times: the first from JVM launch, each later one
    // in a new session of the running Spark context, after dropping the
    // previous set-up's cached inputs. Each starts a session, makes the
    // seeded inputs and runs a warm-up pass (codegen, JIT, first jobs).
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    var t0 = launchedNs
    while (setups.size < setupReps) {
      if (spark == null) spark = session(cores, work)
      else {
        spark.catalog.clearCache()
        t0 = epochNs()
        spark = spark.newSession()
      }
      wl = Workload(name, seed, cores, work)
      val tSession = epochNs()
      wl.prepare(spark)
      val tInputs = epochNs()
      wl.pass(spark)
      val tEnd = epochNs()
      setups += (tEnd - t0) / 1e9
      System.err.println(f"[geobench] set-up ${setups.size}: session ${(tSession - t0) / 1e9}%.2f s, " +
        f"inputs ${(tInputs - tSession) / 1e9}%.2f s, warm-up ${(tEnd - tInputs) / 1e9}%.2f s")
    }
    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> median(setups.toSeq))
    val rec = if (trace) Some(new Recorder(spark)) else None
    // collect the earlier set-ups' garbage before timing, not in a pass
    System.gc()

    if (!train) {
      // untraced passes, back to back, about `seconds` long in all: a fixed
      // count from the workload's nominal pass time, so every run times the
      // same passes at the same point of the JVM's warm-up. With --trace 1
      // each runs in its own job group so listener counts split by pass.
      val count = passCount(seconds, wl.nominalPassS)
      val passes = mutable.ArrayBuffer.empty[Double]
      val canaries = mutable.ArrayBuffer.empty[Double]
      val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
      while (passes.size < count) {
        canaries += canarySec()
        val group = s"geobench-pass-${passes.size}"
        rec.foreach { r => r.drain(); spark.sparkContext.setJobGroup(group, group) }
        val planBefore = rec.map(_.planMillis).getOrElse(0L)
        val t0 = System.nanoTime()
        wl.pass(spark)
        val sec = (System.nanoTime() - t0) / 1e9
        passes += sec
        canaries += canarySec()
        rec.foreach { r =>
          spark.sparkContext.clearJobGroup()
          r.drain()
          val g = r.group(group)
          perPass += Map(
            "driver.jobs" -> g.jobs.toDouble,
            "driver.stages" -> g.stages.toDouble,
            "driver.tasks" -> g.tasks.toDouble,
            "driver.plan_s" -> (r.planMillis - planBefore) / 1e3,
            "driver.in_jobs_s" -> g.inJobsSec,
            "driver.outside_jobs_s" -> (sec - g.inJobsSec),
            "exec.run_s" -> g.runMs / 1e3,
            "exec.cpu_s" -> g.cpuNs / 1e9,
            "exec.gc_s" -> g.gcMs / 1e3,
            "exec.shuffle_read_bytes" -> g.shuffleRead.toDouble,
            "exec.shuffle_write_bytes" -> g.shuffleWrite.toDouble,
            "exec.spill_bytes" -> g.spill.toDouble)
        }
      }
      val passS = median(passes.toSeq)
      result ++= Seq(
        "pass_s" -> passS,
        "rows_per_s" -> wl.rows / passS,
        "peak_rss_mb" -> peakRssMb())
      System.err.println(f"[geobench] $name: ${passes.size} passes ${passes.map(p => f"$p%.3f").mkString(" ")} s, " +
        f"canary ${median(canaries.toSeq)}%.4f s")

      rec.foreach { r =>
        // one traced pass; its spans give the layer times
        val tracer = new Tracer(spark)
        val counts = wl.traced(spark, tracer)
        r.drain()
        val root = tracer.spans.find(_.name == "pass").get
        // each layer span `x.y` gives the metric `x.y_s`
        val layerSpans = tracer.spans.filter(_.parent == root.id)
        val spans = layerSpans.groupBy(_.name).map { case (n, ss) => s"${n}_s" -> ss.map(_.seconds).sum } ++ Map(
          "join.knn_jobs" -> tracer.spans.filter(_.name == "join.knn").map(s => r.group(s.group).jobs).sum.toDouble,
          "trace.overhead_s" -> (root.seconds - passS),
          "trace.layer_share" -> layerSpans.map(_.seconds).sum / root.seconds)
        // driver and executor counters: medians over the untraced passes
        val counters = perPass.head.keys.map(k => k -> median(perPass.toSeq.map(_(k)))).toMap
        result += "layers" -> (counts ++ spans ++ counters + ("host.canary_s" -> median(canaries.toSeq)))
        NioFiles.write(new File(work, s"$name-spans.json").toPath,
          tracer.toJson.getBytes(StandardCharsets.UTF_8))
      }

      val c = wl.check(spark)
      result ++= Seq("attempted" -> c.attempted, "failed" -> c.failed)
    }
    spark.stop()
    NioFiles.write(new File(opts("out")).toPath, (json(result) + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
