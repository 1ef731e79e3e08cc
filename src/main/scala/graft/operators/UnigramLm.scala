package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram language-model subword tokenizer (Kudo 2018, "Subword
  * Regularization: Improving Neural Network Translation Models with
  * Multiple Subword Candidates" — public; the SentencePiece `unigram`
  * algorithm), completing the tokenizer family's second major branch
  * next to [[Bpe]]: seed a large candidate-piece inventory, fit piece
  * probabilities by EM over the corpus likelihood, prune to the target
  * vocabulary, and Viterbi-encode.
  *
  * The E-step is SOFT EM, the real Kudo algorithm: per word, a
  * forward–backward pass over the segmentation lattice yields each
  * piece's expected count under the current model (hard/Viterbi EM was
  * tried first and collapses — every piece off the single best path gets
  * zero mass and dies, leaving a fraction of the target inventory).
  * Distributed float sums are partition-order-dependent, so expected
  * counts are QUANTIZED PER WORD to fixed-point longs (×2^20, a power of
  * two so the scaling itself is exact) before aggregation: the per-word
  * lattice pass is a pure function with a FIXED operand order (documented
  * at [[expectedCounts]]), and a `sum` of longs is invariant to partition
  * order — so the learned vocabulary stays a pure function of the corpus
  * (determinism sweep + cross-path parity hold exactly). Quantization
  * error is bounded by 2^-21 per (word, piece) and only perturbs
  * near-tied prune boundaries, the same class of tie the explicit
  * (weight desc, piece) ordering already resolves.
  *
  * Scale shape — the same vocabulary trick as [[Bpe.bpeMerges]]: the
  * corpus is touched exactly ONCE (the map-side-combined word count);
  * seeding and every EM iteration run over the (word, count) table,
  * orders of magnitude smaller under Zipf. The piece table is bounded by
  * seedSize + the single-code-point alphabet BY CONSTRUCTION, so
  * broadcasting it to the per-word Viterbi map and collecting the
  * per-iteration counts are both bounded driver actions (the IVF
  * centroid-table discipline). The iteration count is FIXED
  * (pruneRounds × emIters), not data-dependent like BPE's k, and each
  * iteration is one flatMap + one groupBy over the vocabulary.
  *
  * SIZE-GATED dual path (the repo's standard pattern, parity-spec'd):
  * below `spark.graft.unigram.localVocabMax` (default 200k) distinct
  * words the weighted vocabulary collects to the driver and the EM loop
  * runs locally — at fixture scale ~6 Spark jobs of vocabulary-sized
  * work are pure overhead. Past the gate the same loop runs distributed
  * (per-word Viterbi in a typed map with the piece table broadcast,
  * integer count aggregation). Identical output either way: both paths
  * call the same [[viterbi]] / seed-count functions per word and
  * aggregate exact longs with (count desc, piece) tie-breaks.
  *
  * Rows-only by design in the driver contract: the learned piece
  * inventory is data-dependent (seed → EM → prune is not one SQL query);
  * UnigramLmSpec gates training against an independent reference
  * implementation and encode against per-word [[viterbi]] equality.
  */
object UnigramLm {

  /** Upper bound on piece length in CODE POINTS (the [[Bpe.symbols]]
    * convention — a non-BMP char counts once). SentencePiece's default
    * seeding cap has the same role.
    */
  val MaxPieceLen = 6

  /** Code-point string order — the order Spark's UTF8String binary
    * comparison implements. Java's `String.compareTo` compares UTF-16
    * code units and DISAGREES above U+FFFF (surrogates sort between
    * U+D7FF and U+E000), so every driver-side (weight, piece) sort uses
    * THIS ordering to stay bit-compatible with a distributed
    * `orderBy(piece)` tie-break on non-BMP pieces.
    */
  private[graft] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** (weight desc, piece cp-asc) — the one ranking order used by prune,
    * the piece-id table, and the encoder id map.
    */
  private def byWeightDesc(x: (String, Long), y: (String, Long)): Boolean =
    x._2 > y._2 || (x._2 == y._2 && cpCompare(x._1, y._1) < 0)

  private def wordVocab(docs: DataFrame): DataFrame = docs
    .where(col("text").isNotNull)
    .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
    .where(length(col("word")) > 0)
    .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** All substring occurrences of a word with 1..maxLen code points:
    * (piece, occurrences-in-this-word). Every occurrence position
    * counts (the SentencePiece seeding convention), weighted later by
    * the word's corpus count.
    */
  private[graft] def seedPieces(word: String, maxLen: Int): Map[String, Long] = {
    val cps = Bpe.symbols(word)
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var i = 0
    while (i < cps.length) {
      var j = i + 1
      while (j <= math.min(cps.length, i + maxLen)) {
        out(cps.slice(i, j).mkString) += 1L
        j += 1
      }
      i += 1
    }
    out.toMap
  }

  /** Single best segmentation of `word` under log-probabilities `logp`
    * — the left-to-right DP the ENCODING side uses (training uses the
    * soft [[expectedCounts]] lattice pass; encoding is Viterbi, the
    * standard unigram inference). Deterministic tie rule
    * at each DP cell: higher score, then fewer pieces, then the
    * lexicographically smaller arriving piece; the candidate start
    * positions are scanned in ascending order so float comparisons see
    * identical operand sequences everywhere. Single code points absent
    * from `logp` score `floorLogp` (coverage floor — segmentation can
    * never fail), which callers set below the table's minimum.
    */
  private[graft] def viterbi(
      word: String, logp: scala.collection.Map[String, Double],
      floorLogp: Double, maxLen: Int = MaxPieceLen): Vector[String] = {
    val cps = Bpe.symbols(word)
    val m = cps.length
    val score = Array.fill(m + 1)(Double.NegativeInfinity)
    val nPieces = Array.fill(m + 1)(Int.MaxValue)
    val prev = Array.fill(m + 1)(-1)
    val via = new Array[String](m + 1)
    score(0) = 0.0
    nPieces(0) = 0
    var i = 1
    while (i <= m) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (score(j) != Double.NegativeInfinity) {
          val piece = cps.slice(j, i).mkString
          val lp =
            if (i - j == 1) logp.getOrElse(piece, floorLogp)
            else logp.getOrElse(piece, Double.NaN)
          if (!lp.isNaN) {
            val s = score(j) + lp
            val l = nPieces(j) + 1
            val better = s > score(i) ||
              (s == score(i) && (l < nPieces(i) ||
                (l == nPieces(i) &&
                  (via(i) == null || cpCompare(piece, via(i)) < 0))))
            if (better) {
              score(i) = s; nPieces(i) = l; prev(i) = j; via(i) = piece
            }
          }
        }
        j += 1
      }
      i += 1
    }
    val out = List.newBuilder[String]
    val rev = scala.collection.mutable.ArrayBuffer.empty[String]
    var k = m
    while (k > 0) { rev += via(k); k = prev(k) }
    rev.reverseIterator.foreach(out += _)
    out.result().toVector
  }

  /** Fixed-point scale for per-word expected counts: a power of two, so
    * quantization multiplies only the exponent (no extra rounding noise
    * beyond the single final `round`).
    */
  val FpScale: Long = 1L << 20

  private def logpOf(counts: scala.collection.Map[String, Long])
      : (Map[String, Double], Double) = {
    val total = counts.valuesIterator.sum.toDouble
    val lt = math.log(total)
    val m = counts.iterator
      .map { case (p, c) => p -> (math.log(c.toDouble) - lt) }.toMap
    // strictly below any real piece so the floor never beats the table
    val floor = (if (m.isEmpty) 0.0 else m.valuesIterator.min) - 10.0
    (m, floor)
  }

  /** log(e^a + e^b) with the max factored out — the lattice pass's only
    * accumulator. Every call site folds candidates in ASCENDING start /
    * end position order, so both training paths and the spec's reference
    * implementation see bit-identical operand sequences.
    */
  private def lse(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }

  /** Soft-EM E-step for ONE word: forward–backward over the segmentation
    * lattice, returning each piece's expected count × word count,
    * quantized to [[FpScale]] fixed-point. Operand order is FIXED —
    * α by ascending end with candidate starts ascending, β by descending
    * start with candidate ends ascending, posterior accumulation by
    * (end ascending, start ascending) — so the doubles are reproducible
    * bit-for-bit across paths and the reference implementation.
    */
  private[graft] def expectedCounts(
      word: String, n: Long,
      logp: scala.collection.Map[String, Double], floorLogp: Double,
      maxLen: Int = MaxPieceLen): Iterator[(String, Long)] = {
    val cps = Bpe.symbols(word)
    val m = cps.length
    // edge (j, i) exists iff the span is a known piece, or a single code
    // point (coverage floor)
    def edgeLogp(j: Int, i: Int): Double = {
      val piece = cps.slice(j, i).mkString
      if (i - j == 1) logp.getOrElse(piece, floorLogp)
      else logp.getOrElse(piece, Double.NaN)
    }
    val alpha = Array.fill(m + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    var i = 1
    while (i <= m) {
      var j = math.max(0, i - maxLen)      // ascending start order
      while (j < i) {
        val lw = edgeLogp(j, i)
        if (!lw.isNaN && alpha(j) != Double.NegativeInfinity)
          alpha(i) = lse(alpha(i), alpha(j) + lw)
        j += 1
      }
      i += 1
    }
    val beta = Array.fill(m + 1)(Double.NegativeInfinity)
    beta(m) = 0.0
    var j2 = m - 1
    while (j2 >= 0) {
      var i2 = j2 + 1                      // ascending end order
      val hi = math.min(m, j2 + maxLen)
      while (i2 <= hi) {
        val lw = edgeLogp(j2, i2)
        if (!lw.isNaN && beta(i2) != Double.NegativeInfinity)
          beta(j2) = lse(beta(j2), lw + beta(i2))
        i2 += 1
      }
      j2 -= 1
    }
    val z = alpha(m)
    if (z == Double.NegativeInfinity) Iterator.empty
    else {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      var e = 1
      while (e <= m) {
        var s = math.max(0, e - maxLen)    // (end asc, start asc)
        while (s < e) {
          val lw = edgeLogp(s, e)
          if (!lw.isNaN && alpha(s) != Double.NegativeInfinity &&
              beta(e) != Double.NegativeInfinity) {
            val mu = math.exp(alpha(s) + lw + beta(e) - z)
            val piece = cps.slice(s, e).mkString
            acc.update(piece, acc.getOrElse(piece, 0.0) + mu)
          }
          s += 1
        }
        e += 1
      }
      acc.iterator.flatMap { case (p, ec) =>
        val q = math.round(ec * n * FpScale)
        if (q > 0L) Iterator((p, q)) else Iterator.empty
      }
    }
  }

  /** One soft-EM count pass over a LOCAL word vocabulary. */
  private def emCountsLocal(
      words: Seq[(String, Long)],
      logp: Map[String, Double], floor: Double): Map[String, Long] = {
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    words.foreach { case (w, n) =>
      expectedCounts(w, n, logp, floor).foreach { case (p, q) => out(p) += q }
    }
    out.toMap
  }

  /** Prune to the piece-count target: keep the top `target` pieces by
    * (count desc, piece), PLUS every single-code-point piece regardless
    * (with a count floor of 1) — the coverage alphabet is never pruned,
    * so any word stays segmentable. Matches SentencePiece's
    * required-character handling.
    */
  private def prune(
      counts: Map[String, Long], target: Int): Map[String, Long] = {
    val singles = counts.filter { case (p, _) => Bpe.symbols(p).length == 1 }
      .map { case (p, c) => p -> math.max(c, 1L) }
    val multi = counts.filter { case (p, _) => Bpe.symbols(p).length > 1 }
      .toSeq.sortWith(byWeightDesc)
      .take(math.max(0, target - singles.size))
    singles ++ multi
  }

  /** Learn the piece inventory: (piece_id, piece, weight_fp) with
    * piece_id the dense rank by (weight desc, piece) and weight_fp the
    * [[FpScale]] fixed-point expected corpus count from the final soft-EM
    * pass. `vocabSize` bounds the MULTI-code-point piece budget; the
    * single-code-point alphabet always rides along (coverage guarantee),
    * so the output has at most vocabSize + |alphabet| rows.
    */
  def trainPieces(
      docs: DataFrame, vocabSize: Int,
      emIters: Int = 2, pruneRounds: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    val counts = trainPieceCounts(docs, vocabSize, emIters, pruneRounds)
    pieceTable(spark, counts)
  }

  /** The bounded trained inventory as a plain Seq — [[encodeCorpus]]'s
    * input shape and what [[learnAndEncode]] threads through (bounded by
    * vocabSize + alphabet BY CONSTRUCTION, like the IVF centroid table).
    */
  def trainPieceCounts(
      docs: DataFrame, vocabSize: Int,
      emIters: Int = 2, pruneRounds: Int = 2): Map[String, Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(vocabSize >= 1, "vocabSize must be >= 1")
    require(emIters >= 1 && pruneRounds >= 1, "iteration counts must be >= 1")
    val localMax = spark.conf
      .getOption("spark.graft.unigram.localVocabMax").map(_.toLong)
      .getOrElse(200000L)
    val words = wordVocab(docs).as[(String, Long)]
    val wordsCached = graft.CacheTracker.pin(words)
    val nWords = wordsCached.count()

    // geometric prune schedule ending at vocabSize: seed inventory is
    // 4× the target, halving per round (2 rounds: 4x -> 2x -> 1x)
    def targetAt(round: Int): Int =
      math.max(vocabSize,
        (vocabSize.toLong << (pruneRounds - round)).min(Int.MaxValue).toInt)
    val seedTarget = (vocabSize.toLong << pruneRounds).min(Int.MaxValue).toInt

    if (nWords <= localMax) {
      val local = wordsCached.collect().toSeq
      wordsCached.unpersist() // local loop never touches the Dataset again
      // seed: weighted substring occurrences pruned to the 4×-target
      // inventory. Hapax substrings (weighted count 1) are never seeded
      // — ALGORITHMIC on both paths: they cannot earn EM mass a single
      // word doesn't already give them, and dropping them is what bounds
      // the distributed path's seed collect. The single-code-point
      // alphabet is folded back in regardless (coverage floor).
      val seed = {
        val acc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        val alpha = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        local.foreach { case (w, n) =>
          seedPieces(w, MaxPieceLen).foreach { case (p, c) => acc(p) += c * n }
          Bpe.symbols(w).foreach(cp => alpha(cp) += n)
        }
        prune(acc.filter(_._2 >= 2L).toMap ++ alpha.toMap, seedTarget)
      }
      var counts = seed
      for (round <- 1 to pruneRounds) {
        for (_ <- 1 to emIters) {
          val (lp, floor) = logpOf(counts)
          counts = emCountsLocal(local, lp, floor)
        }
        counts = prune(counts, targetAt(round))
      }
      val (lp, floor) = logpOf(counts)
      emCountsLocal(local, lp, floor)
    } else {
      // distributed: identical math, per-word work in typed maps with
      // the bounded piece table broadcast; per-word quantization means
      // the aggregate is a sum of exact longs, so partition order cannot
      // perturb it
      // Pre-aggregate INSIDE each partition before the exchange: a word
      // emits ~lattice-size (piece, q) pairs, so the naive flatMap
      // shuffles ~20 rows per word per pass; folding into a per-partition
      // map first bounds the exchange at partitions × |inventory| rows
      // regardless of corpus size. Long sums are associative/commutative,
      // so the result is bit-identical to the naive form (A/B at the
      // 500k soak: see README).
      def partitionAgg(rows: Dataset[(String, Long)]): Dataset[(String, Long)] = {
        import spark.implicits._
        rows.mapPartitions { it =>
          val acc = scala.collection.mutable.HashMap.empty[String, Long]
          it.foreach { case (p, q) =>
            acc.update(p, acc.getOrElse(p, 0L) + q)
          }
          acc.iterator
        }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      }
      def emCountsDist(
          vocab: Dataset[(String, Long)],
          logp: Map[String, Double], floor: Double): Map[String, Long] = {
        val bc = spark.sparkContext.broadcast((logp, floor))
        try partitionAgg(vocab.flatMap { case (w, n) =>
          expectedCounts(w, n, bc.value._1, bc.value._2)
        }).collect().toMap // bounded: EM emits only current-inventory pieces
        finally bc.destroy() // eager collect above — nothing can re-read it
      }
      // Seeding is the one pass whose distinct-key space is NOT bounded
      // by an inventory (every ≤6-cp substring of the corpus), so the
      // driver never collects it whole: drop hapaxes (algorithmic, both
      // paths), keep multi-cp pieces only, and take the top
      // (seedTarget − |alphabet|) by (count desc, piece) DISTRIBUTED —
      // orderBy+limit plans as TakeOrdered, a bounded per-partition heap,
      // so the collect is ≤ seedTarget rows by construction. The alphabet
      // (bounded, collected separately) folds in with prune()'s count
      // floor — the exact composition prune() applies locally.
      val alpha = alphabetCounts(wordsCached)
      val nMultiSeed = math.max(0, seedTarget - alpha.size)
      val multiSeed = partitionAgg(wordsCached.flatMap { case (w, n) =>
          seedPieces(w, MaxPieceLen).map { case (p, c) => (p, c * n) }
        })
        .filter(t => t._2 >= 2L && Bpe.symbols(t._1).length > 1)
        .toDF("piece", "cnt")
        .orderBy(col("cnt").desc, col("piece"))
        .limit(nMultiSeed)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val seed = alpha.map { case (p, c) => p -> math.max(c, 1L) } ++ multiSeed
      var counts = seed
      for (round <- 1 to pruneRounds) {
        for (_ <- 1 to emIters) {
          val (lp, floor) = logpOf(counts)
          counts = emCountsDist(wordsCached, lp, floor)
        }
        counts = prune(counts, targetAt(round))
      }
      val (lp, floor) = logpOf(counts)
      val out = emCountsDist(wordsCached, lp, floor)
      wordsCached.unpersist()
      out
    }
  }

  /** The single-code-point alphabet with weighted occurrence counts —
    * folded into the distributed seed so the coverage floor survives the
    * `>= 2` seed-collect bound even for characters appearing once.
    */
  private def alphabetCounts(words: Dataset[(String, Long)]): Map[String, Long] = {
    val spark = words.sparkSession
    import spark.implicits._
    words.flatMap { case (w, n) => Bpe.symbols(w).map(cp => (cp, n)) }
      .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .collect().toMap // bounded: the distinct-character alphabet
  }

  private def pieceTable(
      spark: SparkSession, counts: Map[String, Long]): DataFrame = {
    import spark.implicits._
    // weight_fp: the piece's expected corpus count in FpScale fixed
    // point (exact long — the determinism face)
    counts.toSeq.sortWith(byWeightDesc).zipWithIndex
      .map { case ((p, c), i) => (i + 1L, p, c) }
      .toDF("piece_id", "piece", "weight_fp")
      .orderBy(col("piece_id"))
  }

  /** Corpus-scale encoding with a trained inventory: (doc_id, pos, spos,
    * piece, piece_id) — token `pos` becomes pieces spos = 0..m by the
    * shared [[viterbi]]. Same shape as [[Bpe.encodeCorpus]]: the Viterbi
    * runs once per DISTINCT word (typed map over the vocabulary with the
    * bounded piece table broadcast), the corpus is touched by one
    * map-only posexplode plus the equi-join back on the word key (AQE
    * broadcasts the vocabulary side when it fits); piece ids join from
    * the bounded trained table. The orderBy is the deterministic output
    * face the harness hashes.
    */
  def encodeCorpus(docs: DataFrame, pieces: Map[String, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (lp, floor) = logpOf(pieces)
    // lazily consumed by the returned plan — the session owner's
    // CacheTracker.releaseAll reclaims executor copies after the action
    val bc = graft.CacheTracker.registerBroadcast(
      spark.sparkContext.broadcast((lp, floor)))
    val segmented = wordVocab(docs).as[(String, Long)]
      .map { case (w, _) => (w, viterbi(w, bc.value._1, bc.value._2)) }
      .toDF("word", "pieces")
    val ids = pieceTable(spark, pieces).select(col("piece"), col("piece_id"))
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
      .join(segmented, Seq("word"))
      .select(col("doc_id"), col("pos"),
        posexplode(col("pieces")).as(Seq("spos", "piece")))
      .join(broadcast(ids), Seq("piece"), "left")
      .select(col("doc_id"), col("pos"), col("spos"), col("piece"),
        // unknown-char floor pieces carry no trained id
        coalesce(col("piece_id"), lit(0L)).as("piece_id"))
      .orderBy(col("doc_id"), col("pos"), col("spos"))
  }

  /** Corpus encoding with an EXTERNALLY-PROVIDED (piece, score) model —
    * the shape a shipped SentencePiece model file has (piece + log-prob
    * score), decoupling encoding from this module's trainer: load any
    * trained model, encode at scale. Same [[viterbi]], same corpus-join
    * shape as [[encodeCorpus]]; the coverage floor is min(score) − 10
    * (single code points absent from the model segment at the floor and
    * carry piece_id 0); piece ids are the dense (score desc, piece
    * cp-asc) rank — the [[pieceTable]] ranking applied to the given
    * scores.
    *
    * With INTEGER-valued scores every DP sum is exact float arithmetic
    * (integers ≤ 2^53 are exact doubles and integer sums stay exact), so
    * the chosen segmentation is reproducible bit-for-bit by ANY engine —
    * which is what makes the fixed-model face ORACLE-CHECKABLE where the
    * learned-inventory face is rows-only (`unigram_encode_fixed` vs
    * `unigram_encode` in the driver contract).
    */
  def encodeCorpusWithModel(
      docs: DataFrame, model: Seq[(String, Double)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(model.nonEmpty, "model must have at least one piece")
    val lp = model.toMap
    require(lp.size == model.size, "duplicate pieces in model")
    val floor = model.map(_._2).min - 10.0
    val ids = model
      .sortWith((x, y) => x._2 > y._2 ||
        (x._2 == y._2 && cpCompare(x._1, y._1) < 0))
      .zipWithIndex.map { case ((p, _), i) => p -> (i + 1L) }.toMap
    val bc = graft.CacheTracker.registerBroadcast(
      spark.sparkContext.broadcast((lp, floor, ids)))
    val segmented = wordVocab(docs).as[(String, Long)]
      .map { case (w, _) =>
        val (m, f, _) = bc.value
        (w, viterbi(w, m, f))
      }
      .toDF("word", "pieces")
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
      .join(segmented, Seq("word"))
      .select(col("doc_id"), col("pos"),
        posexplode(col("pieces")).as(Seq("spos", "piece")))
      .as[(Long, Int, Int, String)]
      .map { case (docId, pos, spos, piece) =>
        (docId, pos, spos, piece, bc.value._3.getOrElse(piece, 0L))
      }
      .toDF("doc_id", "pos", "spos", "piece", "piece_id")
      .orderBy(col("doc_id"), col("pos"), col("spos"))
  }

  /** Per-document LM quality score under a FIXED (piece, score) model —
    * the perplexity-filter primitive of corpus curation (CCNet-style:
    * score every document by how well a reference LM explains it, drop
    * or downweight the tail; here the LM is the unigram piece model, so
    * the document score is the Viterbi segmentation's total log-prob).
    *
    * Exactness discipline: scores convert to MICRO-NATS (×10⁶, rounded
    * once on the driver) and every downstream number is INTEGER
    * arithmetic — total = sum of longs, mean = `(−total) div n_pieces`
    * (non-negative dividend, so floor-vs-truncate can't diverge between
    * engines) — the pagerank fixed-point discipline, making a float-free
    * hash-exact quality surface. Off-model single code points score the
    * model floor (min − 10 nats) and count as [UNK].
    *
    * Output: (doc_id, n_pieces, n_unk, total_logp_micro,
    * mean_neg_logp_micro) — higher mean_neg_logp_micro = worse fit =
    * lower quality; n_unk/n_pieces is the coverage signal.
    *
    * Scale shape: [[encodeCorpusWithModel]]'s per-distinct-WORD Viterbi
    * (never per occurrence) + one corpus-keyed aggregate; the model
    * rides a broadcast join against the bounded piece inventory.
    */
  def docQualityWithModel(
      docs: DataFrame, model: Seq[(String, Double)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val floorMicro = math.round((model.map(_._2).min - 10.0) * 1e6)
    val scores = model.map { case (p, s) => (p, math.round(s * 1e6)) }
      .toDF("piece", "score_micro")
    encodeCorpusWithModel(docs, model)
      .join(broadcast(scores), Seq("piece"), "left")
      .select(col("doc_id"), col("piece_id"),
        coalesce(col("score_micro"), lit(floorMicro)).as("sm"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_pieces"),
        sum(when(col("piece_id") === 0, 1L).otherwise(0L)).as("n_unk"),
        sum(col("sm")).as("total_logp_micro"))
      .select(col("doc_id"), col("n_pieces"), col("n_unk"),
        col("total_logp_micro"),
        expr("(-total_logp_micro) div n_pieces").as("mean_neg_logp_micro"))
      .orderBy(col("doc_id"))
  }

  /** [[trainPieceCounts]] then [[encodeCorpus]] — the end-to-end face. */
  def learnAndEncode(docs: DataFrame, vocabSize: Int): DataFrame =
    encodeCorpus(docs, trainPieceCounts(docs, vocabSize))

  /** Bounded per-word encoding closure for map-only application OUTSIDE
    * the corpus-join shape — the streaming path
    * ([[graft.streaming.StreamingOps.streamingTokenize]]) ships this in
    * the task closure instead of joining on the word key (a stream
    * micro-batch has no vocabulary worth deduplicating against).
    * Same [[viterbi]] and the same dense (weight desc, piece) id rank as
    * [[encodeCorpus]], so outputs match row for row; unknown-char floor
    * pieces carry id 0, the [[encodeCorpus]] contract.
    */
  def tokenEncoder(pieces: Map[String, Long]): String => Seq[(String, Long)] = {
    val (lp, floor) = logpOf(pieces)
    val ids = pieces.toSeq.sortWith(byWeightDesc).zipWithIndex
      .map { case ((p, _), i) => p -> (i + 1L) }.toMap
    w => viterbi(w, lp, floor).map(p => (p, ids.getOrElse(p, 0L)))
  }
}
