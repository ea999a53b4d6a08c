package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** The benchmark's JVM side. `perfbench/run.py` launches it; it is not
  * meant to be run by hand.
  *
  * Usage: Main --workload W --trace 0|1 --warm W --passes N --cores C
  *   --work DIR --src DIR --out FILE
  *   [--wiki FILE --pages N] [--corpus DIR --queries a,b,c]
  *
  * It sets the session up once, timed from JVM start, makes `--warm`
  * untimed passes (the first is the cold pass) and then `--passes`
  * timed steady passes, and writes the timings (and, traced, the
  * per-layer numbers and spans) to `--out`.
  */
object Main {

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** The first line of a /proc file that starts with `prefix`. */
  private def procLine(path: String, prefix: String): Option[String] = {
    val f = new File(path)
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith(prefix)) finally src.close()
    }
  }

  private def rssPeakMb(): Double = procLine("/proc/self/status", "VmHWM:")
    .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  /** CPU seconds the hypervisor gave to other guests, machine-wide
    * (the `steal` column of /proc/stat); 0 where it is not available.
    */
  private def stealS(): Double = procLine("/proc/stat", "cpu ")
    .flatMap(_.trim.split("\\s+").lift(8)).map(_.toDouble / 100.0)
    .getOrElse(0.0)

  /** CPU seconds (user + sys) of the JIT's compiler threads, per
    * thread id, from /proc/self/task; empty where it is not available.
    */
  private def jitThreadS(): Map[String, Double] = {
    val tasks = Option(new File("/proc/self/task").listFiles())
      .getOrElse(Array.empty[File])
    tasks.flatMap { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.matches("C[12] CompilerThre.*")) None
        else {
          // Fields after the command: state is the first, utime and
          // stime are the 12th and 13th (clock ticks).
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          Some(t.getName -> (f(11).toDouble + f(12).toDouble) / 100.0)
        }
      } catch { case _: java.io.IOException => None }
    }.toMap
  }

  /** JIT compiler CPU seconds since `before`. A compiler thread that
    * exits in between is not counted.
    */
  private def jitS(before: Map[String, Double]): Double =
    jitThreadS().map { case (id, s) => s - before.getOrElse(id, 0.0) }.sum

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}".take(500)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores")
    val work = a("work")
    val traceOn = a.getOrElse("trace", "0") == "1"

    // Set-up is timed from JVM start until the session has run one
    // warm-up query (a small scan, shuffle and aggregate).
    val spark = GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, 200000, 1, cores.toInt).selectExpr("id % 97 AS k", "id")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("id")).collect()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val env = Map(
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val workload: Workload = a("workload") match {
      case "wiki_pagerank" =>
        new WikiWorkload(spark, a("wiki"), s"$work/out", a("pages").toLong, 10)
      case _ =>
        new CorpusWorkload(spark, a("corpus"), a("queries").split(",").toSeq)
    }
    val warm = a("warm").toInt
    val timed = a("passes").toInt
    val checkDir = s"$work/check"
    val recorder = new Recorder
    val analysis = new Analysis(recorder,
      Analysis.layerMap(new File(a("src"))))
    var nextId = 0
    def newId(): Int = { nextId += 1; nextId }
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traceSpans = mutable.ArrayBuffer.empty[Map[String, Any]]

    // A traced run counts the jobs and stages of its untraced passes
    // too, so drift between the traced and the untraced calls shows.
    val counter = new JobCounter
    if (traceOn) spark.sparkContext.addSparkListener(counter)

    def runPass(k: Int, traced: Boolean): Unit = {
      val steps = workload.steps(k, traced)
      if (traced) {
        recorder.clear()
        spark.sparkContext.addSparkListener(recorder)
      }
      counter.clear()
      val passId = newId()
      val items = mutable.ArrayBuffer.empty[Map[String, Any]]
      val spans = mutable.ArrayBuffer.empty[Span]
      val values = mutable.ArrayBuffer.empty[(Step, Any)]
      val cpu0 = cpuNs()
      val jit0 = jitThreadS()
      val steal0 = stealS()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      steps.foreach { st =>
        val s0 = System.currentTimeMillis()
        val b0 = System.nanoTime()
        var b1 = b0
        val err = try {
          val v = st.build()
          b1 = System.nanoTime()
          values += (st -> st.exec(v))
          None
        } catch {
          case e: Throwable =>
            if (b1 == b0) b1 = System.nanoTime()
            Some(describe(e))
        }
        val e1 = System.nanoTime()
        spans += Span(newId(), passId, st.name, st.layer, s0,
          System.currentTimeMillis())
        items += Map("name" -> st.name, "build_s" -> (b1 - b0) / 1e9,
          "exec_s" -> (e1 - b1) / 1e9, "error" -> err)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9
      val jit = jitS(jit0)
      val steal = stealS() - steal0
      val ms1 = System.currentTimeMillis()
      val counts = if (!traceOn) Map.empty[String, Any] else {
        val deadline = System.currentTimeMillis() + 10000
        while (!(recorder.drained && counter.drained) &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        Thread.sleep(100)
        Map("jobs" -> counter.jobs, "stages" -> counter.stages)
      }
      if (traced) {
        spark.sparkContext.removeSparkListener(recorder)
        val pass = Span(passId, 0, s"pass$k", "bench", ms0, ms1)
        val row = analysis.summarize(pass, spans.toSeq)
        layerRows += row + ("trace.pass_s" -> wall) +
          ("queries.build_s" -> items.map(_("build_s").asInstanceOf[Double]).sum) +
          ("queries.exec_s" -> items.map(_("exec_s").asInstanceOf[Double]).sum)
        traceSpans ++= analysis.spans(pass, spans.toSeq, () => newId())
      }
      // Outside the timed window: leave each result for the check.
      val checkErrors = values.toSeq.flatMap { case (st, v) =>
        try { st.check(v, checkDir); None }
        catch { case e: Throwable =>
          Some(Map("name" -> st.name, "error" -> describe(e)))
        }
      }
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(100)
      passes += Map("index" -> k, "warm" -> (k < warm), "traced" -> traced,
        "wall_s" -> wall, "cpu_s" -> cpu, "jit_cpu_s" -> jit, "steal_s" -> steal,
        "items" -> items.toSeq, "check_errors" -> checkErrors) ++ counts
      System.err.println(f"[perfbench] pass $k%d traced=$traced " +
        f"wall $wall%.3f s cpu $cpu%.3f s jit $jit%.2f s steal $steal%.2f s")
    }

    // The warm passes (the first is the cold pass) are checked but
    // not timed as steady; the JIT compiles the hot code during them.
    (0 until warm).foreach(k => runPass(k, traced = false))
    // An untraced run times `timed` steady passes. A traced run makes
    // as many (at least two), alternately traced and untraced, so both
    // kinds see the same JVM state; the difference of their medians is
    // the tracing overhead.
    val steady = if (traceOn) math.max(2, timed) else timed
    (warm until warm + steady).foreach { k =>
      runPass(k, traced = traceOn && (k - warm) % 2 == 0)
    }

    val result = mutable.LinkedHashMap[String, Any](
      "env" -> env, "setup_s" -> setupS, "items_per_pass" -> workload.items,
      "passes" -> passes.toSeq, "rss_peak_mb" -> rssPeakMb(),
      "oracle_sql" -> workload.oracles)
    if (traceOn) {
      val keys = layerRows.flatMap(_.keys).distinct
      val med = keys.map(key => key -> median(layerRows.flatMap(_.get(key)).toSeq)).toMap
      val untraced = passes.toSeq.filter(p => p("warm") == false && p("traced") == false)
      def untracedMed(key: String): Double =
        median(untraced.map(p => p(key).asInstanceOf[Number].doubleValue))
      result("layers") = med +
        ("trace.overhead_s" -> (med("trace.pass_s") - untracedMed("wall_s"))) +
        ("trace.untraced_jobs" -> untracedMed("jobs")) +
        ("trace.untraced_stages" -> untracedMed("stages"))
      result("spans") = traceSpans.toSeq
    }
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(result))
    spark.stop()
  }
}
