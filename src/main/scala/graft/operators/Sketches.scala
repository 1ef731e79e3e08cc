package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch aggregates — the approximate-at-scale counterpart of the exact
  * event aggregates (Relational.hourlyEvents / eventPropStats). The
  * reference has nothing like this (its stats are exact counts over an
  * in-RAM dict, reference core/hnsw/graph.py:209-234); at 100 TB the
  * scale play is MERGEABLE sketches: aggregate once into a small sketch
  * table, then answer rollups by merging sketches instead of rescanning
  * events.
  *
  *  - distinct users: HLL sketches (Apache DataSketches via Spark's
  *    hll_sketch_agg), mergeable across any grouping with hll_union_agg.
  *  - value quantiles: percentile_approx (Greenwald-Khanna), with the
  *    accuracy knob exposed.
  *
  * Approximate answers cannot hash-match a DuckDB oracle (different
  * sketch implementations), so the contract is spec-gated relative error
  * vs the exact aggregates, mirroring the HNSW recall gate.
  */
object Sketches {

  /** Per-day sketch table: (day, hll_users BINARY, n_events, sum_value).
    * Small enough to keep hot; the input events scan happens once.
    */
  def dailyUserSketches(events: DataFrame, lgK: Int = 12): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        hll_sketch_agg(col("user_id"), lit(lgK)).as("hll_users"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))

  /** Roll the per-day sketch table up to total distinct users WITHOUT
    * touching the events table again — the mergeability payoff.
    */
  def totalDistinctUsers(daily: DataFrame): Long =
    daily
      .agg(hll_sketch_estimate(hll_union_agg(col("hll_users"))).as("est"))
      .collect()(0).getLong(0)

  /** Per-event-type value quantiles (p50/p95/p99) at a chosen accuracy.
    * `accuracy` is the Greenwald-Khanna knob: error ≤ 1/accuracy.
    */
  def valueQuantiles(events: DataFrame, accuracy: Int = 10000): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(percentile_approx(
        col("value"), array(lit(0.5), lit(0.95), lit(0.99)), lit(accuracy))
        .as("quantiles"))
      .select(
        col("event_type"),
        col("quantiles")(0).as("p50"),
        col("quantiles")(1).as("p95"),
        col("quantiles")(2).as("p99"))
      .orderBy(col("event_type"))

  /** Mergeable Misra-Gries frequent-items summary over token streams: at
    * most k counters per partial; any item with true frequency
    * > N/(k+1) is GUARANTEED to survive every decrement (classic MG
    * bound, preserved under the subtract-(k+1)-th-largest merge of
    * Agarwal et al.'s mergeable-summaries construction). Runs as an
    * object-hash aggregate (same engine class as collect_set /
    * hll_sketch_agg) with map-side partials, so the full token shuffle
    * never happens — only ≤ k survivors per partial move.
    */
  /** Buffer layout (base, nLive, minRaw, counts): an entry is LIVE iff
    * its raw count > base, and its effective count is raw − base. The
    * base offset makes MG's decrement-all step O(1) — bump base instead
    * of copying the map — which matters because on heavy-tailed token
    * streams the decrement fires for nearly EVERY tail token once the
    * sketch is full of heavy counters (the naive copy is O(k) per token
    * there; this is the sketch's hot loop at scale). minRaw is a lower
    * bound on the minimum live raw count: while base + 1 < minRaw a bump
    * provably kills no entry, so the drop path stays allocation-free;
    * when the bound is reached, one compaction scan drops dead entries
    * and re-exacts (nLive, minRaw). Dead entries are also bounded at k
    * (compact on insert when exceeded), so the map never outgrows 2k.
    */
  private type MgBuf = (Long, Long, Long, Map[String, Long])

  private class MgTokens(k: Int) extends org.apache.spark.sql.expressions
      .Aggregator[String, MgBuf, Seq[String]] {
    override def zero: MgBuf = (0L, 0L, Long.MaxValue, Map.empty)

    private def compact(base: Long, m: Map[String, Long]): MgBuf = {
      val live = m.filter { case (_, c) => c > base }
      val mr = if (live.isEmpty) Long.MaxValue else live.values.min
      (base, live.size.toLong, mr, live)
    }

    override def reduce(b: MgBuf, tok: String): MgBuf = {
      val (base, nLive, minRaw, m) = b
      m.get(tok) match {
        case Some(c) if c > base =>
          // live increment: raising a count can only raise the true
          // minimum, so minRaw stays a valid lower bound — O(1)
          (base, nLive, minRaw, m.updated(tok, c + 1L))
        case _ if nLive < k =>
          // free slot: insert at raw base+1 — exactly the new minimum
          val m2 = m.updated(tok, base + 1L)
          if (m2.size >= nLive + 1L + k) compact(base, m2) // dead ≥ k
          else (base, nLive + 1L, base + 1L, m2)
        case _ if base + 1L < minRaw =>
          // full + nobody can die: the O(1) steady-state drop path
          (base + 1L, nLive, minRaw, m)
        case _ =>
          // full and the bound is reached: pay one scan to drop dead
          // entries and re-exact the bound
          compact(base + 1L, m)
      }
    }

    override def merge(x: MgBuf, y: MgBuf): MgBuf = {
      def live(b: MgBuf): Map[String, Long] =
        b._4.collect { case (t, c) if c > b._1 => t -> (c - b._1) }
      val s = live(y).foldLeft(live(x)) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      val kept =
        if (s.size <= k) s
        else { // subtract the (k+1)-th largest count, keep positives
          val d = s.values.toIndexedSeq.sorted(Ordering[Long].reverse).apply(k)
          s.collect { case (t, c) if c > d => t -> (c - d) }
        }
      compact(0L, kept)
    }

    override def finish(b: MgBuf): Seq[String] =
      b._4.collect { case (t, c) if c > b._1 => t }.toSeq.sorted
    override def bufferEncoder: org.apache.spark.sql.Encoder[MgBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Exact heavy hitters via sketch-prune + exact-verify — the pattern
    * that keeps an approximate structure out of the ANSWER: the MG
    * sketch yields ≤ k candidate tokens (a guaranteed SUPERSET of every
    * token with frequency > N/(k+1), whatever the partition merge
    * order), a second pass recounts ONLY those candidates through a
    * broadcast semi-join, and the exact threshold filter discards the
    * order-dependent extras. Output — all tokens with
    * cnt·(k+1) > N, with exact counts — is therefore DETERMINISTIC and
    * DuckDB-oracle-checkable, unlike raw sketch contents. At scale this
    * replaces a full distinct-token shuffle with (≤ k survivors per
    * map-side partial) + (one aggregate filtered to ≤ k tokens).
    */
  def heavyHitters(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"heavyHitters needs k >= 1 (got $k)")
    val toks = docs.select(
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    val mg = udaf(new MgTokens(k), org.apache.spark.sql.Encoders.STRING)
    // ONE pass computes the sketch AND the stream length N — the
    // two-scan total (sketch, then exact recount of ≤ k candidates) is
    // the floor for this pattern
    val sketch = toks
      .agg(mg(col("token")).as("cands"), count(lit(1)).as("n_total"))
    // one row; read by both the candidate and total sides
    graft.CacheTracker.pin(sketch)
    val cand = sketch.select(explode(col("cands")).as("token"))
    val total = sketch.select(col("n_total"))
    toks.join(broadcast(cand), Seq("token")) // ≤ k candidates: broadcast
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") * lit(k + 1L) > col("n_total"))
      .select(col("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** KMV (k-minimum-values) distinct-user sketch per day, surfaced as
    * data next to the exact count: the md5-portable draw (first 8 hex
    * chars as an integer in [0, 2^32)) feeds the bounded dedup-aware
    * `graft_kmin` aggregate — map-side partials carry ≤ k longs per
    * (day, partition), never the distinct stream — and the estimator is
    * a plain column over the returned ascending array: fewer than k
    * distinct draws ⇒ the set IS the count (exact); otherwise
    * (k−1) / (kth_draw / 2^32). Deterministic end to end, so the THIRD
    * portable sketch (after the count-min cells and the MG-pruned heavy
    * hitters) whose contents hash-match a DuckDB replay — HLL's binary
    * registers never can.
    */
  def kmvDailyUsers(events: DataFrame, k: Int = 64): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2 (got $k)")
    val draw = conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        graft.functions.VectorFunctions.kMinValues(draw, k).as("mins"))
      .select(
        col("day"), col("n_exact"),
        size(col("mins")).cast("long").as("n_draws"),
        (round(
          when(size(col("mins")) < k, size(col("mins")).cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (element_at(col("mins"), k).cast("double") / lit(4294967296.0))),
          6) + 0.0).as("kmv_est"))
      .orderBy(col("day"))
  }

  /** KMV set-operation estimates BETWEEN sources — the sketched twin of
    * [[CorpusStats.sourceOverlap]]: per source, one KMV sketch over its
    * distinct word-shingle set; per source PAIR, the merged sketch
    * answers |A∪B|, Jaccard, and |A∩B| WITHOUT the exact path's
    * corpus-sized shingle inversion ever carrying per-pair state. The
    * estimators are the standard KMV set algebra (Beyer et al. 2007,
    * "On synopses for distinct-value estimation under multiset
    * operations"): X = the k smallest of KA ∪ KB is a valid KMV of the
    * union, so union_est = (k−1)/(kth draw/2³²) — or the EXACT distinct
    * count when fewer than k draws exist — and the fraction of X present
    * in both sketches estimates Jaccard; intersection = J · |A∪B|.
    *
    * Same portable-draw discipline as [[kmvDailyUsers]] (first 8 md5 hex
    * chars of the shingle), so every number is deterministic and the
    * whole face hash-matches a DuckDB replay — the sketch CONTENTS are
    * data, not binary state.
    *
    * Scale shape: ONE corpus-sized aggregate (groupBy source, map-side
    * partial k-heaps carry ≤ k longs per (source, partition)); the
    * pairwise algebra then runs over the SKETCH table — sources² rows of
    * k longs, gated by the same source-cardinality contract as the exact
    * operator. At 100 TB the exact operator's explode fans out per
    * shingle; this one's sketch table is bytes per source.
    */
  def kmvSourceOverlap(
      docs: DataFrame, n: Int = 3, k: Int = 64,
      maxSources: Int = 256): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2 (got $k)")
    val nSources = docs.agg(countDistinct(col("source"))).first().getLong(0)
    require(nSources <= maxSources,
      s"kmvSourceOverlap: $nSources sources exceeds maxSources=$maxSources " +
        "— the pairwise report is quadratic in sources; re-bucket first")
    val draw = conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long")
    val sketches = docs
      .select(col("source"),
        explode(graft.functions.VectorFunctions
          .wordShingles(col("text"), n)).as("shingle"))
      .select(col("source"), draw.as("draw"))
      .groupBy(col("source"))
      .agg(graft.functions.VectorFunctions
        .kMinValues(col("draw"), k).as("mins"))
    // one row per source — read by both pair sides
    graft.CacheTracker.pin(sketches)
    val a = sketches.select(col("source").as("src_a"), col("mins").as("ma"))
    val b = sketches.select(col("source").as("src_b"), col("mins").as("mb"))
    val x = slice(array_sort(array_union(col("ma"), col("mb"))), 1, k)
    val nX = size(x)
    val nBoth = size(array_intersect(array_intersect(x, col("ma")), col("mb")))
    val kth = element_at(x, k).cast("double")
    // inter_est multiplies through the UNROUNDED union estimator: the
    // rounded-jaccard × rounded-union product is dyadic × 6-decimal and
    // lands systematically on x.xxxxxx5 boundaries, where Spark's
    // (decimal-string HALF_UP) and DuckDB's (binary) round() disagree
    a.crossJoin(b).where(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        (round(nBoth.cast("double") / nX, 6) + 0.0).as("jaccard_est"),
        (round(
          when(nX < k, nX.cast("double"))
            .otherwise(lit((k - 1).toDouble) / (kth / lit(4294967296.0))),
          6) + 0.0).as("union_est"),
        (round(
          when(nX < k, nBoth.cast("double"))
            .otherwise(
              lit((k - 1).toDouble * 4294967296.0) * nBoth / (kth * nX)),
          6) + 0.0).as("inter_est"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Fixed-bin histogram quantiles per event type — the engine-portable
    * quantile sketch next to [[valueQuantiles]]'s Greenwald-Khanna (whose
    * internal summary is Spark-specific): bin the value range into
    * `nBins` equal slices between the group's exact min and max, count
    * per bin (ONE shuffle whose key space is groups × bins — mergeable,
    * corpus-size-independent, the CMS argument for quantiles), then read
    * each quantile as the LOWER EDGE of the first bin whose cumulative
    * count reaches ceil(q·n) — computed with INTEGER ceil-division
    * `(n·num + den−1) div den`, so the crossing index is exact in any
    * engine. Estimate error is bounded by one bin width by
    * construction; everything else is deterministic arithmetic on exact
    * counts, so the face is oracle-checkable, unlike GK.
    *
    * The per-group cumulative walk runs as an `aggregate` over the
    * sorted (bin, cnt) array — bounded at nBins entries per group, no
    * window, no second shuffle. The input IS scanned twice (the min/max
    * pass fixes the bin edges before the counting pass) — the standard
    * fixed-range histogram trade against GK's single pass; both scans
    * are map-side-combined aggregates.
    */
  def histQuantiles(events: DataFrame, nBins: Int = 256): DataFrame = {
    require(nBins >= 1, s"histQuantiles needs nBins >= 1 (got $nBins)")
    val stats = events
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        count(lit(1)).as("n"))
    val span = col("vmax") - col("vmin")
    val binCol = when(col("vmax") === col("vmin"), lit(0))
      .otherwise(least(
        floor((col("value") - col("vmin")) / span * nBins).cast("int"),
        lit(nBins - 1)))
    val bins = events
      .join(broadcast(stats), "event_type")
      .select(col("event_type"), binCol.as("bin"))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("bin"), col("cnt")))).as("bins"))
      .join(broadcast(stats), "event_type")
    // first bin whose cumulative count reaches the integer-exact target;
    // the fold state is (cum, found_bin = -1 until crossed)
    def crossing(num: Int, den: Int) = {
      val target = expr(s"(n * $num + ${den - 1}) div $den")
      aggregate(col("bins"),
        struct(lit(0L).as("cum"), lit(-1).as("found")),
        (acc, b) => struct(
          (acc.getField("cum") + b.getField("cnt")).as("cum"),
          when(acc.getField("found") >= 0, acc.getField("found"))
            .when(acc.getField("cum") + b.getField("cnt") >= target,
              b.getField("bin"))
            .otherwise(lit(-1)).as("found")),
        acc => acc.getField("found"))
    }
    def edge(bin: Column) =
      round(col("vmin") + bin.cast("double") * span / nBins, 6) + 0.0
    bins.select(
      col("event_type"), col("n"),
      edge(crossing(1, 2)).as("p50_est"),
      edge(crossing(95, 100)).as("p95_est"),
      edge(crossing(99, 100)).as("p99_est"))
      .orderBy(col("event_type"))
  }

  /** Engine-portable count-min row hash: first 8 md5 hex chars of
    * `token|row` parsed as an integer, mod `width` — md5 is bit-identical
    * everywhere (the Sampling.hashBucket discipline), so sketch cells
    * and estimates are reproducible across engines and partitionings.
    */
  private def cmsBucket(token: Column, rowJ: Int, width: Int): Column =
    conv(substring(md5(concat(token, lit("|"), lit(rowJ.toString))), 1, 8),
      16, 10).cast("long") % width

  /** Count-min sketch over the token stream, surfaced as DATA: the
    * depth×width cell table is one shuffle whose key space is the sketch
    * size (never the vocabulary — the CMS payoff at 100 TB, where even
    * the distinct-token frame is huge), and the top-`topK` tokens by
    * exact count are then estimated as min-over-rows of their cells.
    * Output (token, exact_n, est_n, overcount): est_n ≥ exact_n ALWAYS —
    * the one-sided CMS guarantee surfaced as a checkable column. Because
    * the hash is the md5-portable one, the entire sketch is
    * deterministic and DuckDB-oracle-checkable, unlike library sketches
    * whose binary layouts differ per engine.
    *
    * The exact side (groupBy token) exists to gate the estimates; a
    * production pipeline would keep only the cell table and answer point
    * queries from it.
    */
  private def cmsRowBuckets(depth: Int, width: Int)(token: Column): Column =
    explode(array((0 until depth).map(j =>
      struct(lit(j).as("row_j"), cmsBucket(token, j, width).as("bucket"))): _*))

  /** The CMS cell table alone — (row_j, bucket, cell_n), ≤ depth×width
    * rows. Pure built-in column ops, so the SAME plan runs on a
    * STREAMING frame: a streaming aggregation whose state is bounded at
    * the sketch size BY CONSTRUCTION (no watermark needed — the key
    * space cannot grow), emitted in complete mode. That is the sketch
    * property that makes live corpus-frequency monitoring free.
    */
  def cmsCells(docs: DataFrame, depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth >= 1 && width >= 1,
      s"cms needs depth/width >= 1 (got $depth/$width)")
    docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .select(cmsRowBuckets(depth, width)(col("token")).as("rb"))
      .groupBy(col("rb.row_j").as("row_j"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell_n"))
  }

  def cmsTokenEstimates(
      docs: DataFrame,
      depth: Int = 4,
      width: Int = 256,
      topK: Int = 25): DataFrame = {
    require(depth >= 1 && width >= 1 && topK >= 1,
      s"cms needs depth/width/topK >= 1 (got $depth/$width/$topK)")
    val toks = docs.select(
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    def rowBuckets(token: Column) = cmsRowBuckets(depth, width)(token)
    val cells = cmsCells(docs, depth, width)
    val probes = toks
      .groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token")).limit(topK)
      .select(col("token"), col("exact_n"), rowBuckets(col("token")).as("rb"))
      .select(col("token"), col("exact_n"),
        col("rb.row_j").as("row_j"), col("rb.bucket").as("bucket"))
    probes
      .join(broadcast(cells), Seq("row_j", "bucket")) // ≤ depth×width rows
      .groupBy(col("token"))
      .agg(max(col("exact_n")).as("exact_n"), min(col("cell_n")).as("est_n"))
      .select(col("token"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
      .orderBy(col("token"))
  }
}
