package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

object Env {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  def processCpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = { var t = 0L; gcs.forEach(g => t += math.max(0L, g.getCollectionTime)); t }
  def loadAvg(): String =
    scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(' ').take(3).mkString(" ")
  def heapFlags: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("-Xms") || a.startsWith("-Xmx"))
  }
}

/** The benchmark's JVM side: `--workload W --seed N --seconds S --trace 0|1
  * --spec perfbench/spec.json --work DIR --out FILE --source-digest D`.
  * Prints the environment stamp and a metric table to stdout and writes the
  * result object to `--out`.
  */
object Main {
  /** Set-ups per run; setup_s counts their median. */
  private val SetupReps = 3
  /** Untimed repetitions after set-up: JIT, codegen and first-use costs
    * (after a single one, the first timed stream batch still ran ~30%
    * slow). setup_s counts them.
    */
  private val WarmupReps = 2
  /** The cleaning recipe's stages are traced alongside batch-sparse, so
    * that the traced runs of the workloads BENCHMARK.json lists cover
    * every layer.
    */
  private val TracedAlongside = Map("batch-sparse" -> "clean-recipe")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def generator(name: String, g: JsonNode): Long => Corpus = name match {
    case "batch-sparse" => Gen.sparse(g, _)
    case "batch-clique" => Gen.clique(g, _)
    case "stream-ingest" => Gen.stream(g, _)
    case "clean-recipe" => Gen.clean(g, _)
  }

  private def workload(spark: SparkSession, w: JsonNode, name: String, seed: Long): Workload = {
    val gen = () => generator(name, w.get("generator"))(seed)
    name match {
      case "stream-ingest" => new StreamIngest(spark, w, gen)
      case "clean-recipe" => new CleanRecipe(spark, w, gen)
      case _ => new BatchDedup(spark, w, gen)
    }
  }

  /** Output checks over a set of repetitions: each repetition's own checks,
    * one outcome for all of them, and the outcome recorded for the seed.
    */
  private def checkOutcomes(name: String, w: JsonNode, seed: Long, reps: Seq[Rep]): Seq[String] = {
    val outcomes = reps.map(r => (r.outcome.count, r.outcome.digest, r.outcome.recall)).distinct
    val exp = w.get("expected")
    reps.flatMap(_.outcome.problems).distinct.map(p => s"$name: $p") ++
      (if (outcomes.length > 1) Seq(s"$name: repetitions disagree: ${outcomes.mkString(", ")}") else Nil) ++
      (outcomes match {
        case Seq((c, d, rc)) if seed == exp.get("seed").asLong && (exp.get("count").asLong != c ||
            exp.get("digest").asText != d || exp.get("planted_recall").asDouble != rc) =>
          Seq(s"$name: seed $seed outputs count=$c digest=$d planted_recall=$rc differ from the recorded $exp")
        case _ => Nil
      })
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val spec = new ObjectMapper().readTree(new java.io.File(opts("spec")))
    val w = Option(spec.get("workloads").get(name))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))
    val work = opts("work")
    val nproc = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.buffer.pageSize", "8m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    // JVM plus session start, the first part of set-up
    val startS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val written = new OutputBytes
    sc.addSparkListener(written)

    val problems = ArrayBuffer[String]()
    val kernel = KernelProbe.run(spec.get("kernel_probe"))
    problems ++= kernel.problems

    // set-up, several times: generate the inputs from the seed and write
    // them as parquet; the last one is kept and prepared (the stream's
    // history is built once: it dominates the stream's set-up). The
    // generator self-check stays outside the timed part: every set-up must
    // give one content digest, and the next seed another.
    val workload = Main.workload(spark, w, name, seed)
    val digests = ArrayBuffer[String]()
    val setups = (0 until SetupReps).map { i =>
      if (i > 0) Workloads.delete(s"$work/setup-${i - 1}")
      val t0 = System.nanoTime()
      val c = workload.setup(s"$work/setup-$i")
      val t = (System.nanoTime() - t0) / 1e9
      digests += c.digest
      t
    }
    if (digests.distinct.length != 1)
      problems += s"generator: seed $seed gave digests ${digests.distinct.mkString(", ")}"
    if (generator(name, w.get("generator"))(seed + 1).digest == digests.head)
      problems += s"generator: seeds $seed and ${seed + 1} gave one digest"
    val corpus = workload.corpus
    val dir = s"$work/setup-${SetupReps - 1}"
    val p0 = System.nanoTime()
    workload.prepare(dir)
    val prepareS = (System.nanoTime() - p0) / 1e9
    val w0 = System.nanoTime()
    (1 to WarmupReps).foreach(i => workload.rep(dir, -i, None))
    val warmupS = (System.nanoTime() - w0) / 1e9

    val load = Env.loadAvg()
    val reps = ArrayBuffer[Rep]()
    var failed = 0
    var attempted = 0
    // closed loop, one caller: repetitions back to back until the time is
    // up (at least two). A traced run attaches the listener to every other
    // repetition, which gives the tracing overhead.
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val untraced = ArrayBuffer[Rep]()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // bytes Spark tasks wrote per input byte, one ratio per repetition
    val ratios = ArrayBuffer[Double]()
    var run = 0
    var stop = false
    def attempt(w: Workload, wdir: String, run: Int, traced: Option[Tracer]): Option[Rep] =
      try {
        BenchBus.drain(sc)
        val b0 = written.bytes
        traced.foreach(_.attach())
        val rep = try w.rep(wdir, run, traced) finally traced.foreach(_.detach())
        BenchBus.drain(sc)
        ratios += (written.bytes - b0).toDouble / w.inputBytes(wdir)
        attempted += rep.units
        if (rep.outcome.problems.nonEmpty) failed += rep.units
        traced.foreach(_.spans ++= rep.windows)
        Some(rep)
      } catch {
        case e: Exception =>
          attempted += 1
          failed += 1
          problems += s"repetition $run threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    while (!stop && (run < 2 || elapsed < seconds || (trace && reps.isEmpty))) {
      val traced = tracer.filter(_ => run % 2 == 1)
      attempt(workload, dir, run, traced) match {
        case Some(rep) => if (traced.isDefined) reps += rep else untraced += rep
        case None => stop = true
      }
      run += 1
    }

    // untraced runs keep every repetition in `untraced`
    val all = (untraced ++ reps).toSeq
    problems ++= checkOutcomes(name, w, seed, all)
    val docsPerS = median(all.map(r => r.docs / r.wallS))
    val lat = all.flatMap(_.latenciesS)
    val recall = all.headOption.map(_.outcome.recall).getOrElse(0.0)
    val setupS = startS + median(setups) + prepareS + warmupS

    // a traced run of some workloads traces another one alongside
    val extra = ArrayBuffer[Rep]()
    for (t <- tracer; other <- TracedAlongside.get(name)) {
      val ow = spec.get("workloads").get(other)
      val o = Main.workload(spark, ow, other, seed)
      val odir = s"$work/$other"
      o.setup(odir)
      o.rep(odir, -1, None)
      extra ++= (0 until 2).flatMap(i => attempt(o, odir, i, Some(t)))
      problems ++= checkOutcomes(other, ow, seed, extra.toSeq)
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_s", docsPerS, "1/s"),
        ("cpu_s_per_kdoc", median(all.map(r => r.cpuS / (r.docs / 1000.0))), "s"),
        ("latency_p50_s", median(lat), "s"),
        ("bytes_written_per_input_byte", median(ratios.toSeq), "1"),
        ("planted_recall", recall, "1"))
      else Layers.metrics(tracer.get, reps.toSeq, untraced.toSeq, extra.toSeq, kernel, workload)
    tracer.foreach(_.stop())

    val samples = Map("setup_s" -> setups.length, "docs_per_s" -> all.length,
      "cpu_s_per_kdoc" -> all.length, "latency_p50_s" -> lat.length,
      "bytes_written_per_input_byte" -> ratios.length, "planted_recall" -> all.length)
    val stamp = Seq(
      s""""workload":"$name"""", s""""seed":$seed""", s""""trace":$trace""",
      s""""nproc":$nproc""", s""""load_avg_at_start":"$load"""",
      s""""heap":"${Env.heapFlags.mkString(" ")}"""",
      s""""page_size":"${spark.conf.get("spark.buffer.pageSize")}"""",
      s""""java":"${System.getProperty("java.version")}"""",
      s""""spark":"${spark.version}"""", s""""source_digest":"${opts("source-digest")}"""",
      s""""jvm_session_start_s":$startS""", s""""prepare_s":$prepareS""", s""""warmup_s":$warmupS""",
      s""""setup_runs_s":"${setups.map(x => f"$x%.3f").mkString(" ")}"""",
      s""""repetition_s":"${all.map(r => f"${r.wallS}%.3f").mkString(" ")}"""", s""""corpus_docs":${corpus.size}""",
      s""""corpus_digest":"${digests.head.take(16)}"""", s""""repetitions":${all.length}""")
    println(stamp.mkString("{\"env\":{", ",", "}}"))
    workload match {
      case s: StreamIngest =>
        println(f"maintenance passes: ${s.maintS.length} median ${median(s.maintS.toSeq)}%.3f s")
        if (lat.nonEmpty) println(f"first / last timed batch: ${lat.head}%.3f s / ${lat.last}%.3f s")
      case _ =>
    }
    metrics.foreach { case (m, v, u) =>
      val n = samples.get(m).map(k => s"  (n=$k)").getOrElse("")
      println(f"$m%-44s $v%14.6f $u$n")
    }
    // a tail percentile needs ten samples beyond it
    println(s"latency tail not reported: ${lat.length} latency samples, a tail needs at least 11")
    problems.foreach(p => println(s"CHECK FAILED: $p"))

    tracer.foreach { t =>
      val f = new java.io.File(s"${opts("out")}.spans.json")
      java.nio.file.Files.write(f.toPath, t.spansJson.getBytes("UTF-8"))
    }
    val correct = problems.isEmpty
    // an output that disagrees with its expectation makes every unit suspect
    val failedUnits = if (!correct && failed == 0) attempted else failed
    val json = metrics.map { case (m, v, u) => s""""$m":{"value":${fmt(v)},"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failedUnits,"metrics":{""", ",", "}}")
    java.nio.file.Files.write(new java.io.File(opts("out")).toPath, json.getBytes("UTF-8"))
    spark.stop()
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
