package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bpe, UnigramLm}

/** Unigram-LM tokenizer gates: training vs an INDEPENDENT reference
  * implementation (written here from the stated algorithm — seed all
  * substrings ≥2 weighted occurrences plus the alphabet, soft EM via
  * forward–backward with the documented operand order, fixed-point
  * per-word quantization, geometric prune keeping the alphabet — not by
  * calling into the operator's internals beyond the shared symbol
  * convention), plus coverage, parity, and determinism faces.
  */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  // ---- independent reference implementation ----------------------------

  private def refSymbols(w: String): Vector[String] = {
    // code-point split, written independently of Bpe.symbols
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))
  }

  // code-point lexicographic compare, independent of UnigramLm.cpCompare
  private def refCpCompare(a: String, b: String): Int = {
    val xa = a.codePoints().toArray; val xb = b.codePoints().toArray
    val n = math.min(xa.length, xb.length)
    var i = 0
    while (i < n) {
      if (xa(i) != xb(i)) return Integer.compare(xa(i), xb(i))
      i += 1
    }
    Integer.compare(xa.length, xb.length)
  }

  private def refViterbi(
      word: String, logp: Map[String, Double], floor: Double,
      maxLen: Int): Vector[String] = {
    val cps = refSymbols(word)
    val m = cps.length
    case class Cell(score: Double, n: Int, prev: Int, piece: String)
    val cells = Array.fill[Cell](m + 1)(Cell(Double.NegativeInfinity, Int.MaxValue, -1, null))
    cells(0) = Cell(0.0, 0, -1, null)
    for (i <- 1 to m; j <- math.max(0, i - maxLen) until i
         if cells(j).score != Double.NegativeInfinity) {
      val piece = cps.slice(j, i).mkString
      val lpOpt =
        if (i - j == 1) Some(logp.getOrElse(piece, floor))
        else logp.get(piece)
      lpOpt.foreach { lp =>
        val s = cells(j).score + lp
        val l = cells(j).n + 1
        val cur = cells(i)
        val better = s > cur.score ||
          (s == cur.score && (l < cur.n ||
            (l == cur.n && (cur.piece == null ||
              refCpCompare(piece, cur.piece) < 0))))
        if (better) cells(i) = Cell(s, l, j, piece)
      }
    }
    var k = m
    val buf = scala.collection.mutable.ListBuffer.empty[String]
    while (k > 0) { buf.prepend(cells(k).piece); k = cells(k).prev }
    buf.toVector
  }

  private def refTrain(
      texts: Seq[String], vocabSize: Int,
      emIters: Int = 2, pruneRounds: Int = 2,
      maxLen: Int = UnigramLm.MaxPieceLen): Map[String, Long] = {
    val words = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    def pruneRef(c: Map[String, Long], target: Int): Map[String, Long] = {
      val singles = c.filter(p => refSymbols(p._1).length == 1)
        .map { case (p, n) => p -> math.max(n, 1L) }
      val multi = c.filter(p => refSymbols(p._1).length > 1)
        .toSeq.sortBy { case (p, n) => (-n, p) }
        .take(math.max(0, target - singles.size))
      singles ++ multi
    }
    def logpRef(c: Map[String, Long]): (Map[String, Double], Double) = {
      val lt = math.log(c.values.sum.toDouble)
      val m = c.map { case (p, n) => p -> (math.log(n.toDouble) - lt) }
      (m, (if (m.isEmpty) 0.0 else m.values.min) - 10.0)
    }
    def lseRef(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }
    // forward–backward expected counts, same documented operand order:
    // α by ascending end (starts ascending), β by descending start (ends
    // ascending), posterior by (end asc, start asc); per-word quantize
    def refExpected(
        w: String, n: Long, lp: Map[String, Double], fl: Double): Seq[(String, Long)] = {
      val cps = refSymbols(w)
      val m = cps.length
      def edge(j: Int, i: Int): Double = {
        val p = cps.slice(j, i).mkString
        if (i - j == 1) lp.getOrElse(p, fl)
        else lp.getOrElse(p, Double.NaN)
      }
      val alpha = Array.fill(m + 1)(Double.NegativeInfinity); alpha(0) = 0.0
      for (i <- 1 to m; j <- math.max(0, i - maxLen) until i) {
        val e = edge(j, i)
        if (!e.isNaN && alpha(j) != Double.NegativeInfinity)
          alpha(i) = lseRef(alpha(i), alpha(j) + e)
      }
      val beta = Array.fill(m + 1)(Double.NegativeInfinity); beta(m) = 0.0
      for (j <- (m - 1) to 0 by -1; i <- (j + 1) to math.min(m, j + maxLen)) {
        val e = edge(j, i)
        if (!e.isNaN && beta(i) != Double.NegativeInfinity)
          beta(j) = lseRef(beta(j), e + beta(i))
      }
      val z = alpha(m)
      if (z == Double.NegativeInfinity) Seq.empty
      else {
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        for (e <- 1 to m; s <- math.max(0, e - maxLen) until e) {
          val lw = edge(s, e)
          if (!lw.isNaN && alpha(s) != Double.NegativeInfinity &&
              beta(e) != Double.NegativeInfinity) {
            val p = cps.slice(s, e).mkString
            acc.update(p, acc.getOrElse(p, 0.0) +
              math.exp(alpha(s) + lw + beta(e) - z))
          }
        }
        acc.toSeq.flatMap { case (p, ec) =>
          val q = math.round(ec * n * UnigramLm.FpScale)
          if (q > 0L) Seq((p, q)) else Seq.empty
        }
      }
    }
    def emRef(c: Map[String, Long]): Map[String, Long] = {
      val (lp, fl) = logpRef(c)
      val acc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      words.foreach { case (w, n) =>
        refExpected(w, n, lp, fl).foreach { case (p, q) => acc(p) += q }
      }
      acc.toMap
    }
    val seedAcc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val alpha = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    words.foreach { case (w, n) =>
      val cps = refSymbols(w)
      for (i <- cps.indices; j <- (i + 1) to math.min(cps.length, i + maxLen))
        seedAcc(cps.slice(i, j).mkString) += n
      cps.foreach(cp => alpha(cp) += n)
    }
    val seedTarget = (vocabSize.toLong << pruneRounds).min(Int.MaxValue).toInt
    var counts = pruneRef(
      seedAcc.filter(_._2 >= 2L).toMap ++ alpha.toMap, seedTarget)
    for (round <- 1 to pruneRounds) {
      for (_ <- 1 to emIters) counts = emRef(counts)
      val target = math.max(vocabSize,
        (vocabSize.toLong << (pruneRounds - round)).min(Int.MaxValue).toInt)
      counts = pruneRef(counts, target)
    }
    emRef(counts)
  }

  // ---- fixtures --------------------------------------------------------

  private val corpus = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox is quick and the dog is lazy",
    "internationalization and internationalism share international roots",
    "the international fox jumps quickly over internationalization",
    "quick quick quick lazy lazy dog dog dog the the the")

  test("training matches the independent reference implementation exactly") {
    val got = UnigramLm.trainPieces(docsOf(corpus), vocabSize = 40)
      .select("piece", "weight_fp").as[(String, Long)].collect().toMap
    val want = refTrain(corpus, vocabSize = 40)
    assert(got === want)
  }

  test("piece ids are the dense (count desc, piece) rank") {
    val rows = UnigramLm.trainPieces(docsOf(corpus), vocabSize = 40)
      .as[(Long, String, Long)].collect()
    assert(rows.map(_._1).toSeq === (1L to rows.length).toSeq)
    val resorted = rows.sortBy { case (_, p, c) => (-c, p) }.map(_._1).toSeq
    assert(resorted === (1L to rows.length).toSeq)
  }

  test("a planted dominant piece is learned with top multi-char rank") {
    // "xyzw" occurs massively; its letters occur nowhere else
    val planted = docsOf(Seq.fill(30)("xyzw xyzw xyzw") ++ corpus)
    val pieces = UnigramLm.trainPieces(planted, vocabSize = 40)
      .as[(Long, String, Long)].collect()
    val multi = pieces.filter(p => Bpe.symbols(p._2).length > 1)
    assert(multi.nonEmpty && multi.minBy(_._1)._2 === "xyzw")
  }

  test("encoding reconstructs every word (coverage floor)") {
    val docs = docsOf(corpus :+ "ünïcödé été 😀x")
    val enc = UnigramLm.learnAndEncode(docs, vocabSize = 40)
    val rebuilt = enc.groupBy("doc_id", "pos")
      .agg(concat_ws("", collect_list(col("piece"))).as("word"))
    val orig = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
    assert(rebuilt.join(orig, Seq("doc_id", "pos"))
      .where(rebuilt("word") =!= orig("word")).count() === 0L)
    assert(rebuilt.count() === orig.count())
  }

  test("corpus encode agrees with per-word viterbi") {
    val docs = docsOf(corpus)
    val counts = UnigramLm.trainPieceCounts(docs, vocabSize = 40)
    val total = counts.values.sum.toDouble
    val lp = counts.map { case (p, c) => p -> (math.log(c.toDouble) - math.log(total)) }
    val floor = lp.values.min - 10.0
    val enc = UnigramLm.encodeCorpus(docs, counts)
      .groupBy("doc_id", "pos")
      .agg(collect_list(col("piece")).as("pieces"))
      .join(docs.select(col("doc_id"),
        posexplode(split(col("text"), " "))
          .as(Seq("pos", "word"))), Seq("doc_id", "pos"))
      .select("word", "pieces").as[(String, Seq[String])].collect()
    enc.foreach { case (w, ps) =>
      assert(ps === refViterbi(w, lp, floor, UnigramLm.MaxPieceLen),
        s"word $w segmented differently")
    }
  }

  test("local and distributed paths agree") {
    val docs = docsOf(corpus)
    val local = UnigramLm.trainPieceCounts(docs, vocabSize = 40)
    spark.conf.set("spark.graft.unigram.localVocabMax", "0")
    try {
      val dist = UnigramLm.trainPieceCounts(docs, vocabSize = 40)
      assert(dist === local)
    } finally spark.conf.unset("spark.graft.unigram.localVocabMax")
  }

  test("output is invariant to input partitioning") {
    val docs = docsOf(corpus)
    val a = UnigramLm.trainPieces(docs.repartition(1), 40)
      .as[(Long, String, Long)].collect().toSeq
    val b = UnigramLm.trainPieces(docs.repartition(7), 40)
      .as[(Long, String, Long)].collect().toSeq
    assert(a === b)
  }

  test("lattice invariant: alphabet-only vocab gives exact per-char counts") {
    // with no multi-cp pieces there is exactly ONE segmentation, so the
    // posterior is 1 per occurrence and quantization is exact:
    // ec(cp) = occurrences(cp) × n × FpScale precisely
    val lp = Map("a" -> math.log(0.5), "b" -> math.log(0.3), "c" -> math.log(0.2))
    val floor = math.log(0.2) - 10.0
    val got = UnigramLm.expectedCounts("abcab", 7L, lp, floor).toMap
    assert(got === Map(
      "a" -> 2L * 7L * UnigramLm.FpScale,
      "b" -> 2L * 7L * UnigramLm.FpScale,
      "c" -> 1L * 7L * UnigramLm.FpScale))
  }

  test("lattice invariant: total expected piece mass is bounded by word length") {
    // for any vocab, the expected number of pieces in a segmentation lies
    // in [ceil(m / MaxPieceLen), m] — so the quantized totals must too
    // (within one quantum per piece)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val m = 1 + rnd.nextInt(12)
      val word = Seq.fill(m)(('a' + rnd.nextInt(3)).toChar).mkString
      // random piece vocabulary over the same 3-letter alphabet
      val pieces = (Seq("a", "b", "c") ++
        Seq.fill(6)(Seq.fill(1 + rnd.nextInt(5))(('a' + rnd.nextInt(3)).toChar).mkString))
        .distinct
      val lp = pieces.map(p => p -> math.log(1.0 / pieces.size)).toMap
      val floor = lp.values.min - 10.0
      val n = 1L + rnd.nextInt(5)
      val total = UnigramLm.expectedCounts(word, n, lp, floor).map(_._2).sum
      val lo = math.ceil(m.toDouble / UnigramLm.MaxPieceLen)
      val slack = (m + 1) // one quantum per potential piece
      assert(total >= (lo * n * UnigramLm.FpScale - slack).toLong,
        s"word=$word total=$total below floor")
      assert(total <= m.toLong * n * UnigramLm.FpScale + slack,
        s"word=$word total=$total above ceiling")
    }
  }

  test("fixture-scale run converges to whole-word pieces on the closed vocabulary") {
    // the fixture corpus has ~31 distinct words: the OPTIMAL unigram
    // inventory is the word list itself, and EM should find it — every
    // word short enough to be one piece must surface as a learned piece
    // (fragment substrings correctly lose their posterior mass), even
    // though that leaves the inventory far below the 100-piece budget
    val docs = Tables.documents(spark, sfDir)
    val pieces = UnigramLm.trainPieces(docs, vocabSize = 100)
      .as[(Long, String, Long)].collect()
    val learned = pieces.map(_._2).toSet
    assert(pieces.forall(p => Bpe.symbols(p._2).length <= UnigramLm.MaxPieceLen))
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .distinct().as[String].collect()
    val short = words.filter(w => Bpe.symbols(w).length <= UnigramLm.MaxPieceLen)
    assert(short.forall(learned.contains),
      s"words missing from the converged inventory: ${short.filterNot(learned.contains).mkString(",")}")
    // and the whole words dominate the ranking over any fragment
    val topByRank = pieces.sortBy(_._1).take(short.length).map(_._2).toSet
    assert(short.count(topByRank.contains) >= short.length - 2)
  }

  test("docQualityWithModel: micro-nat sums match a per-word reference walk") {
    // tiny fixed model mirroring TextKeys.FixedUnigramModel's shape (integer scores)
    val model = Seq("ab" -> -2.0, "cd" -> -3.0, "a" -> -4.0, "b" -> -4.0,
      "c" -> -5.0, "d" -> -5.0, "e" -> -5.0)
    val lp = model.toMap
    val floor = lp.values.min - 10.0 // -15
    val docs = docsOf(Seq("abcd ab e", "zz ab", "eeee"))
    val got = UnigramLm.docQualityWithModel(docs, model).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // reference: per word, refViterbi under the same model; micro sums
    def wordScore(w: String): (Long, Long, Long) = {
      val ps = refViterbi(w, lp, floor, UnigramLm.MaxPieceLen)
      val micro = ps.map(p => math.round(lp.getOrElse(p, floor) * 1e6)).sum
      (ps.length.toLong, ps.count(p => !lp.contains(p)).toLong, micro)
    }
    val texts = Map(0L -> Seq("abcd", "ab", "e"), 1L -> Seq("zz", "ab"),
      2L -> Seq("eeee"))
    texts.foreach { case (id, ws) =>
      val scored = ws.map(wordScore)
      val n = scored.map(_._1).sum
      val unk = scored.map(_._2).sum
      val tot = scored.map(_._3).sum
      assert(got(id) == ((n, unk, tot, (-tot) / n)),
        s"doc $id: ${got(id)} vs ${(n, unk, tot, (-tot) / n)}")
    }
    // "zz" has no model pieces: both z's hit the floor and count as UNK
    assert(got(1L)._2 == 2L)
    // a floor-free doc has zero UNKs
    assert(got(0L)._2 == 0L && got(2L)._2 == 0L)
  }

  test("docQualityWithModel ranks fluent text above noise on the fixture model") {
    val model = graft.entry.TextKeys.FixedUnigramModel
    val docs = docsOf(Seq(
      "table data value in row",     // in-model-ish words
      "qqqq xxxx zzzz qqqq xxxx"))   // floor-heavy noise
    val got = UnigramLm.docQualityWithModel(docs, model).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got(0L) < got(1L),
      s"noise must score worse (higher neg-logp): $got")
  }
}
