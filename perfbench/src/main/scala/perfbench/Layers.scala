package perfbench

import com.fasterxml.jackson.databind.JsonNode

/** Single-thread probe of the signature kernel (`SignatureKernel.compute`)
  * over a fixed document sample that does not depend on `--seed`: the exact
  * hash-operation count (shingles x signature size), the time per hash, and
  * a digest of every signature, checked against the recorded one so that a
  * kernel change that alters output fails the benchmark.
  */
final case class KernelResult(hashes: Long, nsPerHash: Double, digest: String, problems: Seq[String])

object KernelProbe {
  def run(k: JsonNode): KernelResult = {
    val cfg = Workloads.minhash(k)
    val docs = Gen.sparse(k.get("generator"), k.get("seed").asLong).texts
    val hashes = docs.map { d =>
      math.max(0, graft.core.Tokenizer.joinedTokens(d)._2.length - cfg.shingleSize + 1).toLong
    }.sum * cfg.signatureSize
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(4 * cfg.signatureSize)
    docs.foreach { d =>
      buf.clear()
      graft.core.SignatureKernel.compute(d, cfg)._1.foreach(buf.putInt)
      md.update(buf.array())
    }
    val digest = md.digest().take(8).map("%02x".format(_)).mkString
    val times = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      docs.foreach(graft.core.SignatureKernel.compute(_, cfg))
      (System.nanoTime() - t0).toDouble
    }.drop(2).sorted
    val expected = k.get("signature_digest").asText
    KernelResult(hashes, times(times.length / 2) / hashes, digest,
      if (digest != expected) Seq(s"kernel probe digest $digest differs from recorded $expected") else Nil)
  }
}

/** The traced run's per-layer metrics. Every layer reports the same fields
  * on every workload (zero where the workload does not enter the layer);
  * each field is the median over the layer's windows (one per repetition
  * for pipeline stages, one per call for stream calls). `extra` are traced
  * repetitions of a workload run alongside (the cleaning recipe's stages):
  * they give layer windows but no unattributed time or tracing overhead.
  */
object Layers {
  val Full = Seq("signatures", "candidates", "pairs", "jaccard", "clusters",
    "stream.batch", "stream.update_clusters", "stream.compact")
  val FullFields = Seq("wall_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "shuffle_read_mb" -> "MB",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "rows_out" -> "count", "tasks" -> "count",
    "task_skew" -> "1", "jobs" -> "count")
  val Clean = Seq("line_clean", "quality", "redact", "exact", "neardup", "clean_corpus").map("clean." + _)
  val CleanFields = Seq("wall_s" -> "s", "cpu_s" -> "s", "shuffle_write_mb" -> "MB", "rows_out" -> "count")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.length / 2) }

  def metrics(t: Tracer, traced: Seq[Rep], untraced: Seq[Rep], extra: Seq[Rep], kernel: KernelResult,
              w: Workload): Seq[(String, Double, String)] = {
    // per layer: one field map per window, with committed row counts where
    // the pipeline records them
    val occurrences: Map[String, Seq[Map[String, Double]]] = (traced ++ extra).flatMap { r =>
      r.windows.filter(_.parent.nonEmpty).map { s =>
        val m = t.window(s)
        s.name -> r.stageRows.get(s.name).map(n => m.updated("rows_out", n)).getOrElse(m)
      }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def field(layer: String, f: String): Double =
      median(occurrences.getOrElse(layer, Nil).map(_.getOrElse(f, 0.0)))

    val layers = Full.flatMap(l => FullFields.map { case (f, u) => (s"$l.$f", field(l, f), u) }) ++
      Clean.flatMap(l => CleanFields.map { case (f, u) => (s"$l.$f", field(l, f), u) })

    // whatever falls outside every layer window of a repetition
    val unattributed = traced.map { r =>
      val root = r.windows.find(_.parent.isEmpty).get
      val kids = r.windows.filter(_.parent.nonEmpty)
      ((root.endNs - root.startNs - kids.map(k => k.endNs - k.startNs).sum) / 1e9,
        t.cpuS(root.startNs, root.endNs) - kids.map(k => t.cpuS(k.startNs, k.endNs)).sum)
    }
    val docs = traced.headOption.map(_.docs.toDouble).getOrElse(1.0)
    val cands = field("candidates", "rows_out")
    val perNewDoc = w match {
      case _: StreamIngest =>
        val n = traced.headOption.map(r => r.docs.toDouble / (r.units - 1)).getOrElse(1.0)
        field("stream.batch", "rows_read") / n
      case _ => 0.0
    }
    val files = w match {
      case s: StreamIngest => median(s.filesWritten.getOrElse("stream.batch", Nil))
      case _ => 0.0
    }
    val rate = (rs: Seq[Rep]) => median(rs.map(r => r.docs / r.wallS))
    val (dpsU, dpsT) = (rate(untraced), rate(traced))
    layers ++ Seq(
      ("unattributed.wall_s", median(unattributed.map(_._1)), "s"),
      ("unattributed.cpu_s", median(unattributed.map(_._2)), "s"),
      ("kernel.hashes", kernel.hashes.toDouble, "count"),
      ("kernel.ns_per_hash", kernel.nsPerHash, "ns"),
      ("candidates.per_doc", if (occurrences.contains("candidates")) cands / docs else 0.0, "1"),
      ("pairs.survival", if (cands > 0) field("pairs", "rows_out") / cands else 0.0, "1"),
      ("jaccard.survival", if (cands > 0) field("jaccard", "rows_out") / cands else 0.0, "1"),
      ("stream.batch.rows_read_per_new_doc", perNewDoc, "1"),
      ("stream.batch.write_mb", field("stream.batch", "write_mb"), "MB"),
      ("stream.batch.files_written", files, "count"),
      ("trace.docs_per_s_untraced", dpsU, "1/s"),
      ("trace.docs_per_s_traced", dpsT, "1/s"),
      ("trace.overhead", if (dpsU > 0) 1.0 - dpsT / dpsU else 0.0, "1"))
  }
}
