package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** k-center coreset selection — Gonzalez's greedy farthest-point
  * traversal (Gonzalez 1985, "Clustering to minimize the maximum
  * intercluster distance"; 2-approximation for the k-center objective).
  * The diversity-selection primitive of a curation pipeline: pick k
  * documents whose embeddings COVER the corpus (every vector is within
  * the returned radius of some pick) — seed sets for labeling,
  * diverse eval suites, prototype selection — where top-k-by-score
  * would return k near-duplicates of the same mode.
  *
  * Greedy rule: start from the smallest id (deterministic anchor, the
  * engine-portable analog of "an arbitrary point"); each round pick the
  * vector FARTHEST from every center chosen so far (max of the min-
  * distance, 6-decimal rounded, ties to the smaller id). The distance
  * map is maintained INCREMENTALLY: one narrow per-row `least(md, d(v,
  * new_center))` map per round — each round costs ONE distance per row,
  * not |centers|, so k rounds scan the corpus k times with nothing but
  * a 1-row argmax aggregate shuffled per round (the IvfTrained
  * training-loop shape). Driver state: k (id, vector) pairs — bounded.
  *
  * Output: (rank 1..k, vec_id, radius) where radius is the selected
  * vector's distance to the nearest EARLIER center — i.e. the covering
  * radius of the first rank−1 centers, the monotone non-increasing
  * coverage curve (rank 1 anchors at 0.0). Oracle-checkable by k
  * unrolled CTE stages, the pagerank unrolling precedent.
  *
  * 100 TB note: k full scans is the honest cost of exact Gonzalez; at
  * extreme scale run it over a deterministic [[Sampling]] subsample
  * (the standard coreset-of-a-sample composition, which preserves the
  * approximation bound up to the sample's covering radius).
  */
object Coreset {

  def kCenter(
      emb: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"kCenter needs k >= 1 (got $k)")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    def d(center: Array[Double]): Column =
      VectorFunctions.roundDist(
        VectorFunctions.cosine(col("v"), typedLit(center)))

    // anchor: the smallest id — TakeOrdered(1), no global sort; the
    // take(1) form gives the module-standard loud require on an empty
    // frame instead of head()'s bare NoSuchElementException
    val firstRows = base.orderBy(col("vec_id")).take(1)
    require(firstRows.nonEmpty, "kCenter on an empty frame")
    val first = firstRows(0)
    val picks = scala.collection.mutable.ArrayBuffer(
      (1L, first.getLong(0), 0.0))
    var center = first.getSeq[Double](1).toArray
    // state: min distance to the chosen set so far, updated by one
    // narrow map per round (md already rounded; least() preserves it)
    var state = graft.CacheTracker.pin(
      base.select(col("vec_id"), col("v"), d(center).as("md")))
    var rank = 2L
    while (rank <= k) {
      // argmax of (md, smaller-id tiebreak); v rides along so the round
      // needs no second job (nid is unique — v never decides the max)
      val top = state
        .select(max(struct(col("md"), (-col("vec_id")).as("nid"),
          col("v").as("v"))).as("m"))
        .select(col("m.md"), (-col("m.nid")).as("vec_id"), col("m.v"))
        .head()
      picks += ((rank, top.getLong(1), top.getDouble(0)))
      center = top.getSeq[Double](2).toArray
      // filled before dropping the parent
      val next = graft.CacheTracker.fill(state
        .select(col("vec_id"), col("v"),
          least(col("md"), d(center)).as("md")))
      state.unpersist(blocking = false)
      state = next
      rank += 1
    }
    state.unpersist(blocking = false)
    picks.toSeq.toDF("rank", "vec_id", "radius")
      .select(col("rank"), col("vec_id"),
        (round(col("radius"), 6) + lit(0.0)).as("radius"))
      .orderBy(col("rank"))
  }

  /** The unrolled DuckDB twin: one (c_t, d_t) CTE pair per round,
    * mirroring the incremental `least` update term for term. Kept
    * adjacent to [[kCenter]] so the two statements cannot drift.
    * `dist(a, b)` renders the metric (the caller passes the shared
    * SQL-dialect helper).
    */
  def oracleSql(table: String, k: Int, dist: (String, String) => String): String = {
    require(k >= 1)
    val sb = new StringBuilder
    sb ++= s"WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),\n"
    sb ++= "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),\n"
    sb ++= s"d1 AS (SELECT e.vec_id, e.v, round(${dist("e.v", "c1.v")}, 6) + 0.0 AS md FROM e, c1)"
    for (t <- 2 to k) {
      val p = t - 1
      sb ++= s",\nc$t AS (SELECT vec_id, v, md FROM d$p ORDER BY md DESC, vec_id LIMIT 1)"
      if (t < k)
        sb ++= s",\nd$t AS (SELECT d$p.vec_id, d$p.v, " +
          s"least(d$p.md, round(${dist(s"d$p.v", s"c$t.v")}, 6) + 0.0) AS md FROM d$p, c$t)"
    }
    sb ++= "\n"
    sb ++= (1 to k).map { t =>
      val radius = if (t == 1) "0.0" else "round(md, 6) + 0.0"
      s"SELECT CAST($t AS BIGINT) AS rank, vec_id, $radius AS radius FROM c$t"
    }.mkString("", "\nUNION ALL ", "\n")
    sb ++= "ORDER BY rank"
    sb.toString
  }
}
