package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge-list graph algorithms over DataFrames — the join-based power
  * iteration family (Pregel-without-Pregel). First member: PageRank,
  * the standard authority score for curation over similarity graphs
  * (which documents sit at the center of a near-dup neighborhood; which
  * vectors are ANN hubs — the knn_graph_stats in-degree extreme, made
  * global and damped).
  *
  * All arithmetic is INTEGER micro-units: ranks live as longs in units
  * of 1/scale, every division is integral `div`, and contributions sum
  * as longs — associative and commutative, so the result is
  * partition-invariant and bit-identical to the DuckDB oracle's `//`
  * rendering (the same fixed-point discipline UnigramLm's EM uses).
  * Per iteration: r'(v) = (scale·(1−d)) div den div n
  *                       + (Σ_{u→v} r(u) div outdeg(u)) · num div den.
  * Truncation sheds mass deterministically (bounded by n per division
  * layer) — both engines shed identically.
  *
  * Scale shape: the edge list is repartitioned by src ONCE and persisted;
  * each iteration is then (edges ⋈ ranks on src) ⋈ outdeg + one groupBy —
  * ranks (node-count sized, far smaller than edges) moves to the edges'
  * partitioning, the edge frame itself never reshuffles across
  * iterations. On a 1000-executor cluster the same plan holds with the
  * edge list bucketed by src; iterations are a fixed small constant so
  * the lineage stays shallow (checkpoint between iterations at larger
  * iteration counts).
  *
  * Contract: the graph is CLOSED — every dst also appears as a src
  * (true for knnGraph output, where neighbors are assigned corpus
  * vectors). Edges into unknown nodes drop their contribution
  * deterministically at the node join.
  */
object GraphOps {

  def pageRank(
      edges: DataFrame,
      iterations: Int = 5,
      scale: Long = 1000000000L,
      dampNum: Long = 85,
      dampDen: Long = 100,
      srcCol: String = "src_id",
      dstCol: String = "nbr_id"): DataFrame =
    iterate(edges, None, iterations, scale, dampNum, dampDen, srcCol, dstCol)

  /** Personalized (topic-sensitive) PageRank: initial mass and the
    * teleport term land ONLY on the seed set, so scores measure
    * proximity-with-authority to the seeds — the "expand from a known-
    * good set" curation primitive (seed docs → ranked neighborhood).
    * Seeds outside the node set are ignored (dropped by the node join);
    * non-seed nodes score only what random walks from the seeds reach.
    */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame, // one column: node ids
      iterations: Int = 5,
      scale: Long = 1000000000L,
      dampNum: Long = 85,
      dampDen: Long = 100,
      srcCol: String = "src_id",
      dstCol: String = "nbr_id"): DataFrame =
    iterate(edges, Some(seeds), iterations, scale, dampNum, dampDen, srcCol, dstCol)

  /** Triangle census over the UNDIRECTED closure of an edge list — the
    * transitivity diagnostic next to knnGraphStats' reciprocity: how
    * often are two of my neighbors also neighbors of each other? A
    * similarity graph whose triangles collapse after an embedding
    * change has lost local structure.
    *
    * Algorithm is the standard degree-ordered orientation: symmetrize
    * and dedup to canonical (u < v) pairs, orient every edge from the
    * (degree, id)-SMALLER endpoint to the larger, build wedges by
    * joining oriented edges on their source, and close each wedge with
    * a semi-join back into the oriented list. The orientation is a
    * total order, so every triangle is counted exactly once, and the
    * oriented out-degree is bounded (≤ O(√m) on any graph) — the wedge
    * join never explodes on hubs, which is the whole reason this shape
    * survives skewed 100 TB graphs where a naive neighbor-pair join
    * squares the hub degree.
    *
    * Output (one row): n_nodes, n_edges_und, n_wedges (open + closed,
    * Σ deg·(deg−1)/2), n_triangles, global_clustering =
    * 3·triangles / wedges rounded to 6 (0.0 on a wedgeless graph).
    * Everything is integer-exact except the one rounded ratio.
    */
  def triangleStats(
      edges: DataFrame,
      srcCol: String = "src_id",
      dstCol: String = "nbr_id"): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s") =!= col("d"))
    val und = e
      .select(least(col("s"), col("d")).as("u"), greatest(col("s"), col("d")).as("v"))
      .distinct()
    graft.CacheTracker.pin(und)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    graft.CacheTracker.pin(deg)
    // orient from the (deg, id)-smaller endpoint to the larger — the
    // explicit compare (not a struct order) so the SQL twin is term-equal
    // db (the oriented head's degree) needs no third deg join: the head
    // is one of the two endpoints whose degrees the orientation compare
    // already joined — pick dv when the edge kept (u → v), du when it
    // flipped. One join (and its exchanges) less, identical rows.
    val keepUV = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(keepUV, col("u")).otherwise(col("v")).as("a"),
        when(keepUV, col("v")).otherwise(col("u")).as("b"),
        when(keepUV, col("dv")).otherwise(col("du")).as("db"))
    // materialize the three-consumer cache BEFORE the wedge join fans
    // out: AQE schedules the x/y/semi scans concurrently, and three
    // first-scans of an unpopulated cache each recompute the whole
    // und ⋈ deg³ orientation chain (the KnnGraphTables wave lesson —
    // measured ~31 CPU-s on a 2,500-edge fixture graph, ~3× the
    // necessary work). One bounded count populates und/deg/oriented in
    // a single pass; every downstream scan then reads the cache.
    graft.CacheTracker.fill(oriented)
    // wedges at the oriented source, legs ordered by the same total
    // order, closed by the (leg1 → leg2) oriented edge
    val triangles = oriented.as("x")
      .join(oriented.as("y"),
        col("x.a") === col("y.a") &&
          (col("x.db") < col("y.db") ||
            (col("x.db") === col("y.db") && col("x.b") < col("y.b"))))
      .select(col("x.b").as("a"), col("y.b").as("b"))
      .join(oriented.select(col("a"), col("b")), Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val base = und.agg(count(lit(1)).as("n_edges_und"))
    val nodes = deg.agg(
      count(lit(1)).as("n_nodes"),
      // integral div: deg·(deg−1) is even, so the sum stays exact long
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    nodes.crossJoin(base).crossJoin(triangles)
      .select(
        col("n_nodes"), col("n_edges_und"), col("n_wedges"), col("n_triangles"),
        (round(
          when(col("n_wedges") === 0, lit(0.0))
            .otherwise(col("n_triangles") * lit(3.0) / col("n_wedges")), 6) + 0.0)
          .as("global_clustering"))
  }

  /** Synchronous label propagation over the similarity graph — the
    * semi-supervised labeler: a small seeded subset carries known labels
    * (quality tiers, topics, licenses), and every other node repeatedly
    * takes the MAJORITY label among its out-neighbors (its k nearest
    * items), ties to the SMALLEST label. Seeds are clamped; nodes with
    * no labeled neighbor keep their current label (−1 = unlabeled).
    * Everything is counts and integer compares — deterministic, so the
    * fixed-iteration run hash-matches an unrolled oracle.
    *
    * The per-iteration argmax is ONE aggregate: `max(struct(cnt,
    * −label))` picks the highest count then (via the negation) the
    * smallest label — no ranking window, so the shuffle key space is
    * (nodes × live labels), never a sorted partition.
    *
    * Scale shape matches [[pageRank]]: edges repartitioned by src once
    * and persisted; each iteration joins the node-sized label frame to
    * the edges and aggregates. Same closed-graph contract.
    */
  def labelPropagation(
      edges: DataFrame,
      seeds: DataFrame, // columns: node id, label (>= 0)
      iterations: Int = 5,
      srcCol: String = "src_id",
      dstCol: String = "nbr_id",
      smallEdgeThreshold: Long = 1L << 20): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val eRaw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val Seq(seedId, seedLab) = seeds.columns.take(2).toSeq
    // one label per seed node (min wins if a caller passes duplicates)
    val s = seeds
      .select(col(seedId).cast("long").as("node_id"),
        col(seedLab).cast("long").as("slabel"))
      .where(col("slabel") >= 0)
      .groupBy(col("node_id")).agg(min(col("slabel")).as("slabel"))
    // Size-gated dual path (the PrefixSum.runningSum discipline): each
    // synchronous round of the distributed loop is 3 joins + 2
    // aggregates — ~6 stages — and the per-round frame must persist
    // (it is referenced twice by round i+1), so a 5-round run is ~30
    // cache-bounded stages whose scheduling overhead DWARFS the work on
    // a small graph (measured: ~11 s on 25k edges vs ~38 s on 32M —
    // near-constant). Below the gate the identical integer recurrence
    // runs in the driver over the collected (bounded) edge list; both
    // paths are bit-identical, schema-identical, same tie rules. The
    // gate reads planner stats — no job; 8 B/row fallback is
    // deliberately conservative so a big frame can never misroute to
    // the driver (misrouting a small one merely pays the stages).
    val stats = eRaw.queryExecution.optimizedPlan.stats
    val byteGate =
      if (smallEdgeThreshold > Long.MaxValue / 8L) Long.MaxValue
      else smallEdgeThreshold * 8L
    val small = stats.rowCount match {
      case Some(rc) => rc <= BigInt(smallEdgeThreshold)
      case None => stats.sizeInBytes <= BigInt(byteGate)
    }
    if (small) return labelPropagationLocal(eRaw, s, iterations)
    val e = graft.CacheTracker.pin(eRaw.repartition(col("src")))
    val nodes = e.select(col("src").as("node_id")).distinct()
    var labels = nodes
      .join(s, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("slabel"), lit(-1L)).as("lab"),
        col("slabel").isNotNull.as("is_seed"))
    graft.CacheTracker.pin(labels)
    (1 to iterations).foreach { _ =>
      val best = e
        .join(labels.select(col("node_id").as("dst"), col("lab").as("nl")), "dst")
        .where(col("nl") >= 0)
        .groupBy(col("src"), col("nl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("nl")).as("neg"))).as("m"))
        .select(col("src").as("node_id"), (-col("m.neg")).as("vote"))
      labels = labels
        .join(best, Seq("node_id"), "left")
        .select(col("node_id"),
          when(col("is_seed"), col("lab"))
            .when(col("vote").isNotNull, col("vote"))
            .otherwise(col("lab")).as("lab"),
          col("is_seed"))
      graft.CacheTracker.pin(labels)
    }
    labels
      // neither side is ever null (node ids exist, −1 is the unlabeled
      // sentinel); the coalesces only mark the columns non-nullable so
      // both gate paths expose the SAME schema regardless of the input
      // frame's nullability (the PrefixSum dual-path lesson)
      .select(coalesce(col("node_id"), lit(-1L)).as("vec_id"),
        coalesce(col("lab"), lit(-1L)).as("label"))
      .orderBy(col("vec_id"))
  }

  /** Driver-local replay of the identical recurrence for gate-small
    * graphs: sort-scan majority per round (count desc, label asc — the
    * same (cnt, −label) order the aggregate uses), seeds clamped,
    * synchronous updates. Bounded by the caller's row gate.
    */
  private def labelPropagationLocal(
      eRaw: DataFrame, seedsNorm: DataFrame, iterations: Int): DataFrame = {
    val spark = eRaw.sparkSession
    import spark.implicits._
    val edgesLocal = eRaw.as[(Long, Long)].collect()
    val nodeIds = edgesLocal.map(_._1).distinct.sorted
    val idx = nodeIds.zipWithIndex.toMap
    // semi-join BEFORE collecting: seeds outside the node set are
    // ignored anyway, and this bounds the driver collect at |nodes|
    // (≤ the edge gate) even against an oversized seed frame
    val seedMap = seedsNorm
      .join(eRaw.select(col("src").as("node_id")).distinct(),
        Seq("node_id"), "left_semi")
      .as[(Long, Long)].collect()
      .filter(p => idx.contains(p._1)).toMap
    var lab = nodeIds.map(v => seedMap.getOrElse(v, -1L))
    // (srcIdx, dstIdx) with both endpoints known — an edge into an
    // unknown node contributes nothing, exactly like the join drop
    val adj = edgesLocal.collect {
      case (s, d) if idx.contains(s) && idx.contains(d) => (idx(s), idx(d))
    }
    (1 to iterations).foreach { _ =>
      val votes = adj.collect { case (si, di) if lab(di) >= 0 => (si, lab(di)) }
        .sorted
      val next = lab.clone()
      var i = 0
      while (i < votes.length) {
        val src = votes(i)._1
        // scan this src's run, tracking (bestCnt, bestLab): higher count
        // wins, ties to the SMALLER label (runs arrive label-ascending)
        var bestCnt = 0L; var bestLab = -1L
        while (i < votes.length && votes(i)._1 == src) {
          val l = votes(i)._2
          var c = 0L
          while (i < votes.length && votes(i)._1 == src && votes(i)._2 == l) {
            c += 1; i += 1
          }
          if (c > bestCnt) { bestCnt = c; bestLab = l }
        }
        if (!seedMap.contains(nodeIds(src)) && bestCnt > 0) next(src) = bestLab
      }
      lab = next
    }
    // tuple encoding is non-nullable long/long — the same schema the
    // distributed when-chain resolves to, so callers never behave
    // differently by data size (the PrefixSum dual-path lesson);
    // the parity spec pins this
    spark.createDataset(nodeIds.zip(lab).toSeq)
      .toDF("vec_id", "label")
      .orderBy(col("vec_id"))
  }

  private def iterate(
      edges: DataFrame,
      seeds: Option[DataFrame],
      iterations: Int,
      scale: Long,
      dampNum: Long,
      dampDen: Long,
      srcCol: String,
      dstCol: String): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(scale >= 1 && dampDen >= 1 && dampNum >= 0 && dampNum <= dampDen,
      "damping must satisfy 0 <= num <= den, scale >= 1")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .repartition(col("src"))
    graft.CacheTracker.pin(e)
    val allNodes = e.select(col("src").as("node_id")).distinct()
    // is_seed marks where initial mass and teleport land; the global
    // walk seeds everywhere (is_seed = true for every node)
    val nodes = (seeds match {
      case Some(sd) =>
        val s = sd.select(sd.columns.head).toDF("node_id")
          .select(col("node_id").cast("long").as("node_id"))
          .distinct().withColumn("is_seed", lit(true))
        allNodes.join(s, Seq("node_id"), "left")
          .select(col("node_id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      case None => allNodes.withColumn("is_seed", lit(true))
    })
    graft.CacheTracker.pin(nodes)
    // n = the TELEPORT population (seed count), not the node count.
    // It is a single bounded scalar and the sanity check below already
    // pulls it to the driver — inline it as a LITERAL instead of the
    // old crossJoin(broadcast(one-row aggregate)): the broadcast
    // exchange of that frame executed as a separate driver job PER
    // ITERATION (+1 for the init), pure scheduling waste at every
    // scale, and with a literal n the whole teleport term constant-folds
    // (same truncating div chain, so every rank value is unchanged).
    val n = nodes.where(col("is_seed")).agg(count(lit(1)).as("n"))
      .head().getLong(0)
    // a non-empty graph whose seed set misses every node would make
    // `x div n` NULL for ALL nodes — fail loudly (one cheap driver
    // check on already-persisted frames) instead of propagating NULL
    // ranks; an empty graph is fine (zero rank rows — n is never used,
    // but keep the folded literal nonzero so ANSI constant folding of
    // `div 0` cannot fail planning on the empty frame)
    require(n > 0 || nodes.isEmpty,
      "pageRank: no seed intersects the graph's node set — " +
        "teleport population would be 0")
    val nLit = if (n == 0) 1L else n
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val teleNum = scale * (dampDen - dampNum)
    var ranks = nodes
      .select(col("node_id"), col("is_seed"),
        expr(s"CASE WHEN is_seed THEN CAST($scale AS BIGINT) div $nLit ELSE CAST(0 AS BIGINT) END")
          .as("r"))
    (1 to iterations).foreach { _ =>
      val inc = e
        .join(ranks.select(col("node_id").as("src"), col("r")), "src")
        .join(outdeg, "src")
        .select(col("dst"), expr("r div odeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
      ranks = nodes
        .join(inc.withColumnRenamed("dst", "node_id"), Seq("node_id"), "left")
        .select(col("node_id"), col("is_seed"),
          (expr(s"CASE WHEN is_seed THEN (CAST($teleNum AS BIGINT) div $dampDen) div $nLit ELSE CAST(0 AS BIGINT) END") +
            expr(s"(coalesce(inc, CAST(0 AS BIGINT)) * $dampNum) div $dampDen"))
            .as("r"))
    }
    ranks.select(
      col("node_id").as("vec_id"),
      col("r").as("pr_micro"),
      (round(col("r").cast("double") / lit(scale.toDouble), 6) + lit(0.0)).as("pr"))
      .orderBy(col("vec_id"))
  }
}
