package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.core.MinHashConfig
import graft.functions.TextAnalysis
import graft.operators.{CleanPipeline, MinHashPipeline}
import graft.plans.CheckpointedPipeline
import graft.streaming.StreamingDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What a timed unit produced, for the output checks: the pair count, an
  * order-independent digest of the cluster partition, the planted recall,
  * and every violated expectation.
  */
final case class Outcome(count: Long, digest: String, recall: Double, problems: Seq[String])

/** One timed repetition: a pipeline run, or a stream round (batches plus
  * one maintenance pass). `latenciesS` are the unit latencies inside it.
  * `windows` are the layer windows (traced runs only).
  */
final case class Rep(docs: Long, wallS: Double, cpuS: Double, latenciesS: Seq[Double],
                     units: Int, outcome: Outcome, windows: Seq[Span],
                     stageRows: Map[String, Double] = Map.empty)

/** A workload: `setup` generates the inputs from the seed, writes them
  * under `dir` as parquet and returns them; `prepare` builds once whatever
  * state the repetitions start from (the stream's history); `rep` runs one
  * timed repetition. `inputBytes` is the size of what a repetition reads.
  */
trait Workload {
  def corpus: Corpus
  def setup(dir: String): Corpus
  def prepare(dir: String): Unit = ()
  def rep(dir: String, run: Int, tracer: Option[Tracer]): Rep
  def inputBytes(dir: String): Long
}

object Workloads {
  def minhash(p: JsonNode): MinHashConfig =
    MinHashConfig(shingleSize = p.get("shingle").asInt, signatureSize = p.get("signature").asInt,
      nBandRows = p.get("band_rows").asInt, seed = p.get("minhash_seed").asInt,
      threshold = p.get("threshold").asDouble)

  def starCap(p: JsonNode): Option[Int] =
    Option(p.get("star_cap")).filterNot(_.isNull).map(_.asInt)

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(c => dirBytes(c.getPath)).sum
    else f.length()
  }

  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(c => delete(c.getPath))
    f.delete()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
  }

  def writeParquet(spark: SparkSession, c: Corpus, textCol: String, path: String): Unit =
    c.toDF(spark, textCol, spark.sparkContext.defaultParallelism).write.parquet(path)

  /** Checks a (doc_id -> cluster_id) labelling against the planted truth:
    * every planted family inside one cluster (recall over the planted
    * pairs), no cluster joining two families or an unplanted document.
    * Digest: sha-256 over the sorted (doc, smallest doc of its cluster).
    */
  def checkClusters(c: Corpus, labels: Map[Long, Long], count: Long, floor: Double): Outcome = {
    val label = (id: Long) => labels.getOrElse(id, id)
    val fams = c.families
    val planted = fams.map(_.length - 1).sum
    val found = fams.map(f => f.tail.count(d => label(d) == label(f.head))).sum
    val recall = if (planted == 0) 1.0 else found.toDouble / planted
    val familyOf = c.ids.indices.map(i => c.ids(i) -> c.family(i)).toMap
    val mixed = c.ids.groupBy(label).values.count { members =>
      val fs = members.map(familyOf).distinct
      members.length > 1 && (fs.length > 1 || fs.head < 0)
    }
    val minOf = c.ids.groupBy(label).values.flatMap(m => m.map(_ -> m.min)).toSeq.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    minOf.foreach { case (d, m) => md.update(s"$d:$m;".getBytes("UTF-8")) }
    Outcome(count, md.digest().take(8).map("%02x".format(_)).mkString, recall,
      (if (recall < floor) Seq(f"planted recall $recall%.4f below floor $floor") else Nil) ++
        (if (mixed > 0) Seq(s"$mixed clusters join unrelated documents") else Nil))
  }

  /** Layer windows of a staged run, from the `ts_ns` each stage commit
    * appended to the pipeline's `_metrics` table: stage i covers
    * (commit of stage i-1, commit of stage i].
    */
  def stageWindows(spark: SparkSession, work: String, startNs: Long, prefix: String,
                   stages: Seq[String], run: Int): (Seq[Span], Map[String, Double]) = {
    val commits = spark.read.parquet(s"$work/_metrics")
      .filter(col("stage").isin(stages: _*))
      .groupBy("stage").agg(max("ts_ns").as("ts"), sum("rows").as("rows")).collect()
      .map(r => (prefix + r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    (commits.indices.map { i =>
      Span(commits(i)._1, if (i == 0) startNs else commits(i - 1)._2, commits(i)._2, "pipeline", run)
    }, commits.map(c => c._1 -> c._3.toDouble).toMap)
  }
}

import Workloads._

/** `batch-sparse` and `batch-clique`: the CLI's staged dedup job
  * (`CheckpointedPipeline.run`) over a generated parquet corpus.
  */
final class BatchDedup(spark: SparkSession, w: JsonNode, generate: () => Corpus) extends Workload {
  private val p = w.get("pipeline")
  private val cfg = minhash(p)
  private val verify = p.get("verify_jaccard").asBoolean
  private val floor = w.get("recall_floor").asDouble
  private val stages = Seq("signatures", "candidates", "pairs", "jaccard", "clusters")
  var corpus: Corpus = _

  def setup(dir: String): Corpus = {
    corpus = generate()
    writeParquet(spark, corpus, "content", s"$dir/input")
    corpus
  }

  def inputBytes(dir: String): Long = dirBytes(s"$dir/input")

  def rep(dir: String, run: Int, tracer: Option[Tracer]): Rep = {
    val work = s"$dir/work-$run"
    val docs = spark.read.parquet(s"$dir/input")
    val cpu0 = Env.processCpuNs()
    val t0 = System.nanoTime()
    val (clusters, _) = new CheckpointedPipeline(spark, cfg, work, starCapBucketSize = starCap(p),
      verifyExactJaccard = verify).run(docs)
    val t1 = System.nanoTime()
    val cpu1 = Env.processCpuNs()
    val (windows, rows) =
      if (tracer.isDefined) stageWindows(spark, work, t0, "", stages, run) else (Nil, Map.empty[String, Double])
    val labels = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = spark.read.parquet(s"$work/pairs").count()
    val outcome = checkClusters(corpus, labels, pairs, floor)
    delete(work)
    Rep(corpus.size, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9, Seq((t1 - t0) / 1e9), 1,
      outcome, Span("pipeline", t0, t1, "", run) +: windows, rows)
  }
}

/** `clean-recipe`: the CLI's resumable cleaning recipe
  * (`CleanPipeline.runCheckpointed`: line_clean, quality, redact, exact,
  * neardup, clean_corpus) over a generated parquet corpus.
  */
final class CleanRecipe(spark: SparkSession, w: JsonNode, generate: () => Corpus) extends Workload {
  private val p = w.get("pipeline")
  private val cfg = CleanPipeline.Config(maxLineDocFreq = p.get("max_line_df").asLong,
    minhash = minhash(p), starCapBucketSize = starCap(p))
  private val floor = w.get("recall_floor").asDouble
  private val stages = Seq("line_clean", "quality", "redact", "exact", "neardup", "clean_corpus")
  private val boilerplate = {
    val ls = w.get("generator").get("boilerplate_lines")
    (0 until ls.size).map(ls.get(_).asText)
  }
  private val pii = java.util.regex.Pattern.compile(TextAnalysis.PiiPatterns.map(_._1).mkString("|"))
  var corpus: Corpus = _

  def setup(dir: String): Corpus = {
    corpus = generate()
    writeParquet(spark, corpus, "text", s"$dir/input")
    corpus
  }

  def inputBytes(dir: String): Long = dirBytes(s"$dir/input")

  def rep(dir: String, run: Int, tracer: Option[Tracer]): Rep = {
    val work = s"$dir/work-$run"
    val docs = spark.read.parquet(s"$dir/input")
    val cpu0 = Env.processCpuNs()
    val t0 = System.nanoTime()
    val (out, _, _) = CleanPipeline.runCheckpointed(spark, docs, work, cfg)
    val t1 = System.nanoTime()
    val cpu1 = Env.processCpuNs()
    val (windows, rows) =
      if (tracer.isDefined) stageWindows(spark, work, t0, "clean.", stages, run) else (Nil, Map.empty[String, Double])
    val kept = out.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    delete(work)
    Rep(corpus.size, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9, Seq((t1 - t0) / 1e9), 1,
      check(kept), Span("pipeline", t0, t1, "", run) +: windows, rows)
  }

  /** Every planted family keeps one document (recall: the share of the
    * other members removed), every low-quality document is dropped, every
    * other document is kept, and no kept text holds a boilerplate line or
    * unmasked PII. Digest: sha-256 over the sorted kept ids.
    */
  private def check(kept: Array[(Long, String)]): Outcome = {
    val ids = kept.map(_._1).toSet
    val fams = corpus.families
    val planted = fams.map(_.length - 1).sum
    val removed = fams.map(f => f.length - f.count(ids)).sum
    val recall = if (planted == 0) 1.0 else removed.toDouble / planted
    val lost = fams.count(f => !f.exists(ids))
    val low = corpus.ids.indices.filter(corpus.family(_) == Corpus.LowQuality).map(corpus.ids)
    val singles = corpus.ids.indices.filter(corpus.family(_) == -1).map(corpus.ids)
    val dirty = kept.count { case (_, t) => pii.matcher(t).find() || t.split('\n').exists(boilerplate.contains) }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    kept.map(_._1).sorted.foreach(d => md.update(s"$d;".getBytes("UTF-8")))
    Outcome(kept.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString, recall,
      Seq(
        (recall < floor) -> f"planted dup removal $recall%.4f below floor $floor",
        (lost > 0) -> s"$lost planted families lost every member",
        low.exists(ids) -> s"${low.count(ids)} low-quality documents kept",
        !singles.forall(ids) -> s"${singles.count(d => !ids(d))} unplanted documents dropped",
        (dirty > 0) -> s"$dirty kept documents hold boilerplate lines or PII"
      ).collect { case (true, msg) => msg })
  }
}

/** `stream-ingest`: a fixed history (the batch pipeline's signatures and
  * pairs, `bootstrap`, one `updateClusters`) is built once in set-up
  * (`prepare`); every round starts from a fresh
  * copy of it, makes one `processBatch` call per generated batch and then
  * one maintenance pass (`updateClusters` + `compact`).
  */
final class StreamIngest(spark: SparkSession, w: JsonNode, generate: () => Corpus) extends Workload {
  private val p = w.get("pipeline")
  private val cfg = minhash(p)
  private val floor = w.get("recall_floor").asDouble
  private val historyDocs = w.get("generator").get("history").get("docs").asInt
  private val batchDocs = w.get("generator").get("batch_docs").asInt
  private val nBatches = w.get("generator").get("batches").asInt
  var corpus: Corpus = _

  def setup(dir: String): Corpus = {
    corpus = generate()
    writeParquet(spark, corpus.slice(0, historyDocs), "content", s"$dir/history")
    (0 until nBatches).foreach { b =>
      val from = historyDocs + b * batchDocs
      writeParquet(spark, corpus.slice(from, from + batchDocs), "content", s"$dir/batch-$b")
    }
    corpus
  }

  def inputBytes(dir: String): Long = (0 until nBatches).map(b => dirBytes(s"$dir/batch-$b")).sum

  override def prepare(dir: String): Unit = {
    val sigs = MinHashPipeline.signatures(spark.read.parquet(s"$dir/history"), cfg).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    StreamingDedup.bootstrap(spark, s"$dir/snapshot", sigs,
      MinHashPipeline.pairs(MinHashPipeline.candidates(sigs, starCap(p)), sigs, cfg))
    sigs.unpersist()
    StreamingDedup.updateClusters(spark, s"$dir/snapshot")
  }

  def rep(dir: String, run: Int, tracer: Option[Tracer]): Rep = {
    val work = s"$dir/work-$run"
    copyTree(s"$dir/snapshot", work)
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    def timed[T](name: String)(f: => T): Double = {
      val files0 = if (tracer.isDefined) parquetFiles(work) else 0
      val t0 = System.nanoTime()
      f
      val t1 = System.nanoTime()
      if (tracer.isDefined) {
        spans += Span(name, t0, t1, "round", run)
        filesWritten(name) = filesWritten.getOrElse(name, Nil) :+ (parquetFiles(work) - files0).toDouble
      }
      (t1 - t0) / 1e9
    }
    val cpu0 = Env.processCpuNs()
    val t0 = System.nanoTime()
    val lat = (0 until nBatches).map { b =>
      val batch = spark.read.parquet(s"$dir/batch-$b")
      timed("stream.batch")(StreamingDedup.processBatch(spark, batch, b.toLong, work, cfg,
        starCapBucketSize = starCap(p)))
    }
    val maint = timed("stream.update_clusters")(StreamingDedup.updateClusters(spark, work)) +
      timed("stream.compact")(StreamingDedup.compact(spark, work))
    val t1 = System.nanoTime()
    val cpu1 = Env.processCpuNs()
    val labels = StreamingDedup.readClusters(spark, work).select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = spark.read.parquet(s"$work/pairs").count()
    val outcome = checkClusters(corpus, labels, pairs, floor)
    delete(work)
    if (run >= 0) maintS += maint
    Rep(nBatches.toLong * batchDocs, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9, lat,
      nBatches + 1, outcome, Span("round", t0, t1, "", run) +: spans.toSeq)
  }

  /** Maintenance-pass wall times, one per timed round (printed next to the metrics). */
  val maintS = scala.collection.mutable.ArrayBuffer[Double]()
  /** Parquet files each stream layer call left behind (traced runs). */
  val filesWritten = scala.collection.mutable.Map[String, Seq[Double]]()

  private def parquetFiles(path: String): Int = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(c => parquetFiles(c.getPath)).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0
  }
}
