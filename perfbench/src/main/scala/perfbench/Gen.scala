package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SplitMix64. The benchmark owns its random source so that neither a JDK
  * nor an engine change can alter the generated inputs.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = (nextLong() >>> 11) * (1.0 / (1L << 53)) < p
}

/** Generated documents plus the planted-duplicate ground truth.
  *
  * `family(i) >= 0` names the planted duplicate family of document i: all
  * members must end up in one cluster. `family(i) == Corpus.LowQuality`
  * marks a document the cleaning recipe's quality gate must drop.
  */
final case class Corpus(ids: Array[Long], texts: Array[String], family: Array[Int]) {
  def size: Int = ids.length

  /** sha-256 over (id, text) in generation order. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0
    while (i < ids.length) {
      md.update(s"${ids(i)}\u0000${texts(i)}\u0001".getBytes("UTF-8"))
      i += 1
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Planted families as id groups (size >= 2). */
  def families: Seq[Array[Long]] =
    ids.indices.filter(family(_) >= 0).groupBy(family(_)).values
      .map(_.map(ids(_)).toArray.sorted).filter(_.length >= 2).toSeq.sortBy(_.head)

  def slice(from: Int, until: Int): Corpus =
    Corpus(ids.slice(from, until), texts.slice(from, until), family.slice(from, until))

  def toDF(spark: SparkSession, textCol: String, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ids.indices.map(i => (ids(i), texts(i))), partitions)
      .toDF("doc_id", textCol)
  }
}

object Corpus {
  val LowQuality: Int = -2

  def concat(cs: Seq[Corpus]): Corpus =
    Corpus(cs.flatMap(_.ids).toArray, cs.flatMap(_.texts).toArray, cs.flatMap(_.family).toArray)
}

/** The benchmark-owned corpus generator. Every property a workload depends
  * on is read from the workload's `generator` block in perfbench/spec.json;
  * the seed is the benchmark's `--seed`.
  */
object Gen {
  private val VocabSize = 30000
  // seed-independent vocabulary of pseudo-words, 3..10 lowercase letters
  private val vocab: Array[String] = {
    val r = new Rng(0x70726f6ceL)
    Array.tabulate(VocabSize) { _ =>
      val n = r.between(3, 10)
      val sb = new StringBuilder(n)
      (0 until n).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
      sb.toString
    }
  }

  private def words(r: Rng, n: Int): Array[String] = Array.fill(n)(vocab(r.nextInt(VocabSize)))

  private def edit(r: Rng, ws: Array[String], frac: Double): Array[String] = {
    val out = ws.clone()
    val n = math.max(1, math.round(ws.length * frac).toInt)
    (0 until n).foreach(_ => out(r.nextInt(out.length)) = vocab(r.nextInt(VocabSize)))
    out
  }

  /** Mutable builder: appends documents, tracks families, then shuffles. */
  private final class Builder {
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val family = scala.collection.mutable.ArrayBuffer[Int]()
    private var nextFamily = 0
    def add(text: String, fam: Int = -1): Int = { texts += text; family += fam; texts.length - 1 }
    def newFamily(): Int = { nextFamily += 1; nextFamily - 1 }
    /** Put doc `i` into a family (creating one if it has none); returns it. */
    def familyOf(i: Int): Int = {
      if (family(i) < 0) family(i) = newFamily()
      family(i)
    }
    /** Fisher-Yates over documents; ids are `firstId + position`. */
    def build(r: Rng, firstId: Long): Corpus = {
      val order = Array.range(0, texts.length)
      var i = order.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
        i -= 1
      }
      Corpus(Array.tabulate(order.length)(firstId + _), order.map(texts), order.map(family))
    }
  }

  /** Unique long-ish documents with planted exact and near duplicates. */
  def sparse(g: JsonNode, seed: Long): Corpus = {
    val r = new Rng(seed)
    val b = new Builder
    val n = g.get("docs").asInt
    val nExact = math.round(n * g.get("exact_dup_frac").asDouble).toInt
    val nNear = math.round(n * g.get("near_dup_frac").asDouble).toInt
    val lo = g.get("min_words").asInt
    val hi = g.get("max_words").asInt
    val base = Array.fill(n - nExact - nNear)(words(r, r.between(lo, hi)))
    base.foreach(ws => b.add(ws.mkString(" ")))
    (0 until nExact).foreach { _ =>
      val src = r.nextInt(base.length)
      b.add(base(src).mkString(" "), b.familyOf(src))
    }
    val editFrac = g.get("near_dup_edit_frac").asDouble
    (0 until nNear).foreach { _ =>
      val src = r.nextInt(base.length)
      b.add(edit(r, base(src), editFrac).mkString(" "), b.familyOf(src))
    }
    b.build(r, 0L)
  }

  /** Short documents with heavy exact-duplicate cliques: random families,
    * one boilerplate family, sub-shingle documents (fewer tokens than the
    * shingle size: all-0xFFFFFFFF signatures, mutual duplicates by design)
    * and unrelated documents sharing one anchor phrase — the phrase holds
    * the minimum of signature rows 0..3, so band 0 of all of them lands in
    * one mega bucket larger than the candidate stage's salt chunk.
    */
  def clique(g: JsonNode, seed: Long): Corpus = {
    val r = new Rng(seed)
    val b = new Builder
    val lo = g.get("min_words").asInt
    val hi = g.get("max_words").asInt
    (0 until g.get("singleton_docs").asInt).foreach(_ => b.add(words(r, r.between(lo, hi)).mkString(" ")))
    (0 until g.get("families").asInt).foreach { _ =>
      val f = b.newFamily()
      val text = words(r, r.between(lo, hi)).mkString(" ")
      (0 until r.between(g.get("family_min").asInt, g.get("family_max").asInt))
        .foreach(_ => b.add(text, f))
    }
    val boiler = b.newFamily()
    val boilerText = g.get("boilerplate_text").asText
    (0 until g.get("boilerplate_copies").asInt).foreach(_ => b.add(boilerText, boiler))
    val sub = b.newFamily()
    (0 until g.get("sub_shingle_docs").asInt).foreach(_ => b.add(words(r, r.nextInt(3)).mkString(" "), sub))
    val anchor = g.get("anchor_phrase").asText
    (0 until g.get("anchored_docs").asInt).foreach { _ =>
      val ws = words(r, r.between(lo, hi))
      val at = r.nextInt(ws.length + 1)
      b.add((ws.take(at) ++ Array(anchor) ++ ws.drop(at)).mkString(" "))
    }
    b.build(r, 0L)
  }

  /** Stream input: a history corpus followed by `batches` batches of
    * `batch_docs` documents that duplicate history documents at the planted
    * rates; ids continue across them.
    */
  def stream(g: JsonNode, seed: Long): Corpus = {
    val history = sparse(g.get("history"), seed)
    val r = new Rng(seed ^ 0x5354524541L)
    val lo = g.get("min_words").asInt
    val hi = g.get("max_words").asInt
    val perBatch = g.get("batch_docs").asInt
    val exactFrac = g.get("exact_dup_frac").asDouble
    val nearFrac = g.get("near_dup_frac").asDouble
    val editFrac = g.get("near_dup_edit_frac").asDouble
    // families continue the history's family ids
    var nextFamily = history.family.max + 1
    val famOfHistory = history.family.clone()
    var firstId = history.size.toLong
    val batches = (0 until g.get("batches").asInt).map { _ =>
      val texts = Array.fill(perBatch)("")
      val fam = Array.fill(perBatch)(-1)
      (0 until perBatch).foreach { i =>
        val dup = r.chance(exactFrac + nearFrac)
        if (dup) {
          val near = r.chance(nearFrac / (exactFrac + nearFrac))
          val h = r.nextInt(history.size)
          if (famOfHistory(h) < 0) { famOfHistory(h) = nextFamily; nextFamily += 1 }
          val ws = history.texts(h).split(' ')
          texts(i) = (if (near) edit(r, ws, editFrac) else ws).mkString(" ")
          fam(i) = famOfHistory(h)
        } else texts(i) = words(r, r.between(lo, hi)).mkString(" ")
      }
      val c = Corpus(Array.tabulate(perBatch)(firstId + _), texts, fam)
      firstId += perBatch
      c
    }
    Corpus.concat(history.copy(family = famOfHistory) +: batches)
  }

  /** Multi-line documents for the cleaning recipe: boilerplate lines shared
    * by many documents (line_clean strips them), too-short documents
    * (quality drops them), inline e-mail addresses and IPv4 addresses
    * (redact masks them), and planted exact and near duplicates of the
    * remaining documents (exact and neardup remove all but one per family).
    */
  def clean(g: JsonNode, seed: Long): Corpus = {
    val r = new Rng(seed)
    val b = new Builder
    val n = g.get("docs").asInt
    val nExact = math.round(n * g.get("exact_dup_frac").asDouble).toInt
    val nNear = math.round(n * g.get("near_dup_frac").asDouble).toInt
    val nLow = math.round(n * g.get("low_quality_frac").asDouble).toInt
    val boilerplate = Array.tabulate(g.get("boilerplate_lines").size)(g.get("boilerplate_lines").get(_).asText)
    val boilerShare = g.get("boilerplate_share").asDouble
    val piiShare = g.get("pii_share").asDouble
    val lineWords = (g.get("min_line_words").asInt, g.get("max_line_words").asInt)
    val base = Array.fill(n - nExact - nNear - nLow) {
      val lines = Array.fill(r.between(g.get("min_lines").asInt, g.get("max_lines").asInt))(
        words(r, r.between(lineWords._1, lineWords._2)))
      if (r.chance(piiShare)) {
        val l = lines(r.nextInt(lines.length))
        l(r.nextInt(l.length)) =
          if (r.chance(0.5)) s"${vocab(r.nextInt(VocabSize))}${r.nextInt(10000)}@mail.example.org"
          else s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
      }
      val text = lines.map(_.mkString(" "))
      if (r.chance(boilerShare)) {
        val at = r.nextInt(text.length + 1)
        (text.take(at) :+ boilerplate(r.nextInt(boilerplate.length))) ++ text.drop(at)
      } else text
    }
    base.foreach(ls => b.add(ls.mkString("\n")))
    (0 until nExact).foreach { _ =>
      val src = r.nextInt(base.length)
      b.add(base(src).mkString("\n"), b.familyOf(src))
    }
    // near duplicates: word edits inside content lines, boilerplate kept
    val editFrac = g.get("near_dup_edit_frac").asDouble
    (0 until nNear).foreach { _ =>
      val src = r.nextInt(base.length)
      val lines = base(src).map(_.split(' '))
      val content = lines.indices.filterNot(i => boilerplate.contains(base(src)(i)))
      val edits = math.max(1, math.round(content.map(lines(_).length).sum * editFrac).toInt)
      (0 until edits).foreach { _ =>
        val l = lines(content(r.nextInt(content.length)))
        l(r.nextInt(l.length)) = vocab(r.nextInt(VocabSize))
      }
      b.add(lines.map(_.mkString(" ")).mkString("\n"), b.familyOf(src))
    }
    (0 until nLow).foreach(_ => b.add(words(r, r.between(1, 4)).mkString(" "), Corpus.LowQuality))
    b.build(r, 0L)
  }
}
