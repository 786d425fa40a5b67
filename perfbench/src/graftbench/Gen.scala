package graftbench

/** Seeded load generation. graft only ever sees the requests built
  * here; the seed decides every mode, id, term and tag. */
object Gen {

  /** Key spaces of the corpus the requests are drawn over. */
  final case class Corpus(images: Int, vectors: Int, docs: Int,
      vocab: IndexedSeq[String], tags: IndexedSeq[String])

  /** Serving modes answered from an index or a point lookup, the fast
    * band. `mmr` is routed as a point mode, but its per-mode median sits
    * in the scan band (0.85 s against 0.17 to 0.41 s for the others and
    * 0.98 s and up for the scan modes), so it is weighted with the scan
    * modes. `centrality` is routable but left out: its per-JVM
    * graph-statistics store sits after the graph build on the set-up's
    * critical path and would add about 13 s to every run's set-up (see
    * README.md). */
  val PointModes: Seq[String] = Seq("whole", "tags", "graph")
  /** Modes that scan segments, postings or a candidate pool, the slow band. */
  val ScanModes: Seq[String] = Seq("mmr", "segment", "hybrid", "maxsim", "lexical", "fuzzy", "rrf", "mlt")

  /** Weights per block of requests: equal within a band, 6 to 1 between
    * the bands, so 18 of 26 requests (69 %) are point requests. The split
    * is a design choice, not measured traffic: it puts the median well
    * inside the point band and the 95th percentile well inside the scan
    * band, so neither sits on the boundary between two bands. */
  val PointWeight = 6
  val ScanWeight = 1
  val Weights: Seq[(String, Int)] = PointModes.map(_ -> PointWeight) ++ ScanModes.map(_ -> ScanWeight)
  val BlockSize: Int = Weights.map(_._2).sum
  val PointShare: Double = PointModes.size * PointWeight.toDouble / BlockSize

  /** Smooth weighted round-robin: `n` picks among weighted items, each
    * item's picks spread evenly over the sequence. */
  private def smooth[T](items: Seq[(T, Int)], n: Int): IndexedSeq[T] = {
    val total = items.map(_._2).sum
    val current = Array.fill(items.size)(0)
    IndexedSeq.fill(n) {
      items.indices.foreach(i => current(i) += items(i)._2)
      val i = items.indices.maxBy(current(_))
      current(i) -= total
      items(i)._1
    }
  }

  /** One block's modes: the two bands interleaved 18:8, and each band's
    * modes in turn, so any run of requests, not only a whole block, holds
    * close to the weighted mix. */
  val Block: IndexedSeq[String] = {
    val perBand = Seq(PointModes, ScanModes).map(ms => Iterator.continually(ms).flatten)
    smooth(Seq(0 -> PointModes.size * PointWeight, 1 -> ScanModes.size * ScanWeight), BlockSize)
      .map(b => perBand(b).next())
  }

  def bandOf(mode: String): String = if (PointModes.contains(mode)) "point" else "scan"

  private def pick[T](r: java.util.Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  /** Two distinct vocabulary terms: a fixed count keeps the cost of the
    * term modes from varying with the seed. */
  private def terms(r: java.util.Random, c: Corpus): Seq[String] = {
    val a = pick(r, c.vocab)
    Seq(a, pick(r, c.vocab.filterNot(_ == a)))
  }

  /** One character replaced, for words long enough to stay within one
    * edit of a vocabulary term. */
  private def typo(r: java.util.Random, w: String): String =
    if (w.length < 4) w
    else {
      val i = 1 + r.nextInt(w.length - 1)
      val ch = ('a' + r.nextInt(26)).toChar
      w.substring(0, i) + ch + w.substring(i + 1)
    }

  private def jsonList(xs: Seq[String]): String =
    xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")

  /** The request body for `mode`; ids are uniform over the key space the
    * mode looks up (image, vector or document ids). */
  def request(mode: String, r: java.util.Random, c: Corpus): String = mode match {
    case "whole" | "segment" | "hybrid" | "maxsim" =>
      s"""{"mode":"$mode","top_k":10,"query_image_id":${r.nextInt(c.images)}}"""
    case "mmr" | "graph" =>
      s"""{"mode":"$mode","top_k":10,"query_image_id":${r.nextInt(c.vectors)}}"""
    case "mlt" =>
      s"""{"mode":"mlt","top_k":10,"query_image_id":${r.nextInt(c.docs)}}"""
    case "tags" =>
      val tags = Seq.fill(1 + r.nextInt(2))(pick(r, c.tags)).distinct
      s"""{"mode":"tags","top_k":10,"tags":${jsonList(tags)}}"""
    case "lexical" =>
      s"""{"mode":"lexical","top_k":10,"terms":${jsonList(terms(r, c))}}"""
    case "fuzzy" =>
      s"""{"mode":"fuzzy","top_k":10,"terms":${jsonList(terms(r, c).map(typo(r, _)))}}"""
    case "rrf" =>
      s"""{"mode":"rrf","top_k":10,"terms":${jsonList(terms(r, c))},"query_image_id":${r.nextInt(c.vectors)}}"""
  }

  /** The first `n` requests of the stream for `seed`: (mode, body). The
    * modes repeat [[Block]]; the seed draws every id, term and tag. */
  def serveOps(seed: Long, n: Int, c: Corpus): IndexedSeq[(String, String)] = {
    val r = new java.util.Random(seed)
    IndexedSeq.tabulate(n) { i =>
      val m = Block(i % BlockSize)
      (m, request(m, r, c))
    }
  }

  /** A fixed first request per mode, for the set-up builds. */
  def first(mode: String): String = mode match {
    case "tags" => """{"mode":"tags","top_k":10,"tags":["lbl_1"]}"""
    case "lexical" | "fuzzy" | "rrf" => s"""{"mode":"$mode","top_k":10,"terms":["hash","merge"],"query_image_id":1}"""
    case m => s"""{"mode":"$m","top_k":10,"query_image_id":1}"""
  }

  /** Every mode `per` times, in mode order (warm-up rounds). */
  def everyMode(seed: Long, per: Int, c: Corpus): IndexedSeq[(String, String)] = {
    val r = new java.util.Random(seed)
    for (m <- Weights.map(_._1).toIndexedSeq; _ <- 0 until per) yield (m, request(m, r, c))
  }

  /** The seed-independent validation set: one fixed request per mode. */
  def validationSet(c: Corpus): IndexedSeq[(String, String)] = everyMode(20261017L, 1, c)
}
