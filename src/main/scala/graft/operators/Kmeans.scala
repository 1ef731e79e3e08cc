package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Integer-exact Lloyd's k-means — the ORACLE-CHECKABLE trainer next to
  * the MLlib-backed [[IvfTrained]] (whose engine-internal RNG is what
  * keeps `ivf_trained_knn` rows-only): init = the first k ids' vectors
  * (the knnGraph/Ivf centroid convention, no RNG), and every quantity
  * lives in integer MICRO units — vectors quantized once to
  * round(x·10⁶) longs, distances = integer squared euclidean (exact in
  * long: ≤ dim·(2·10⁶)² ≪ 2⁶³, and still exact through the topk
  * aggregate's double at < 2⁵³), centroid update = truncating integer
  * mean (Spark `div` ≡ DuckDB `//`, both toward zero, sign-checked).
  * Every iteration is therefore bit-identical in any engine and
  * partition-invariant — the integer-PageRank discipline applied to
  * clustering, which is exactly what makes a TRAINED quantizer
  * hash-checkable at all. Empty clusters keep their previous centroid
  * (stated in both engines).
  *
  * Scale shape per iteration: ONE broadcast of the k·dim centroid
  * micros into the argmin (the bounded graft_topk(1) aggregate —
  * map-side combined, the exchange carries one row per vector, never
  * the k-way candidate stream), then ONE (cent, dim)-keyed long-form
  * sum whose shuffle is bounded by k·dim groups. Driver state: the
  * k·dim centroid array (the IvfTrained.Model shape).
  */
object Kmeans {

  case class Model(centroids: Array[(Long, Array[Long])]) // (cent_id, micro vec)

  /** round(x·10⁶) as long — Spark round is HALF_UP (away from zero),
    * DuckDB round is half-away-from-zero: identical on every input.
    */
  private def microCol(vecCol: Column): Column =
    transform(vecCol.cast("array<double>"),
      x => round(x * 1e6, 0).cast("long"))

  private def microFrame(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("vec_id"),
      microCol(col(vecCol)).as("mv"))

  /** (vec_id, mv, cent_id, sqdist): each vector's argmin centroid under
    * (sqdist, cent_id) order — ONE map-only codegen'd expression over
    * the literal k·dim centroid matrix ([[graft.functions
    * .ArgminSqDistMicro]]). The first cut of this was a crossJoin ×
    * HOF-aggregate × graft_topk(1): semantically identical but the
    * candidate stream blew up k× and the HOF ran interpreted with
    * boxing — 172 s/iteration at 1M×64×256 vs ~2 s for the native loop
    * (the ArrayMatVec escalation, measured before replacing).
    */
  private def assignTo(micro: DataFrame, model: Model): DataFrame = {
    val ordered = model.centroids.sortBy(_._1)
    require(ordered.map(_._1).sameElements(ordered.indices.map(_.toLong)),
      "assignTo expects dense cent_ids 0..k-1 (the fit convention)")
    val dim = ordered.head._2.length
    val am = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.ArgminSqDistMicro(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("mv")),
        ordered.flatMap(_._2.toSeq).toSeq, ordered.length, dim))
    micro
      .select(col("vec_id"), col("mv"), am.as("am"))
      .select(col("vec_id"), col("mv"),
        col("am.cent_id").as("cent_id"), col("am.sqdist").as("sqdist"))
  }

  /** The assignment as a reusable column pair over ANY frame with the
    * vector column — the streaming twin's surface: a trained model is
    * bounded (k·dim longs) and rides the plan as a literal, so live
    * ingest rows route to their cell map-only with no state, no
    * shuffle, and the EXACT batch semantics (same quantization, same
    * argmin, same tie rule). Returns (cent_id, sqdist_micro) columns.
    */
  def assignColumns(model: Model, vecCol: Column): (Column, Column) = {
    val ordered = model.centroids.sortBy(_._1)
    val dim = ordered.head._2.length
    val am = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.ArgminSqDistMicro(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          transform(vecCol.cast("array<double>"),
            x => round(x * 1e6, 0).cast("long"))),
        ordered.flatMap(_._2.toSeq).toSeq, ordered.length, dim))
    (am.getField("cent_id"), am.getField("sqdist"))
  }

  def fit(
      emb: DataFrame,
      k: Int,
      iterations: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Model = {
    require(k >= 1 && iterations >= 0, "k >= 1, iterations >= 0")
    val micro = graft.CacheTracker.pin(microFrame(emb, idCol, vecCol))
    var model = Model(micro.orderBy(col("vec_id")).limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1).toArray) })
    require(model.centroids.length == k,
      s"kmeans.fit: corpus has fewer than k=$k rows")
    for (_ <- 1 to iterations) {
      val updated = assignTo(micro, model)
        .select(col("cent_id"), posexplode(col("mv")).as(Seq("i", "x")))
        .groupBy(col("cent_id"), col("i"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("cent_id"), col("i"), expr("s div n").as("v"))
        .collect() // bounded: k·dim rows
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray
        }
      model = Model(model.centroids.map { case (cid, old) =>
        (cid, updated.getOrElse(cid, old)) // empty cluster keeps its centroid
      })
    }
    model
  }

  /** Long-form trained-centroid face after `iterations` Lloyd rounds:
    * (cent_id, dim_idx, centroid_micro, n_assigned) — n from one more
    * assignment pass under the FINAL model.
    */
  def fitFace(
      emb: DataFrame,
      k: Int,
      iterations: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val model = fit(emb, k, iterations, idCol, vecCol)
    val counts = assignTo(microFrame(emb, idCol, vecCol), model)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
    model.centroids.toSeq
      .flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, i) => (cid, i.toLong, x) }
      }
      .toDF("cent_id", "dim_idx", "centroid_micro")
      .join(counts, Seq("cent_id"), "left")
      .select(col("cent_id"), col("dim_idx"), col("centroid_micro"),
        coalesce(col("n"), lit(0L)).as("n_assigned"))
      .orderBy(col("cent_id"), col("dim_idx"))
  }

  /** Final-assignment face: (vec_id, cent_id, sqdist_micro). */
  def assignFace(
      emb: DataFrame,
      k: Int,
      iterations: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val model = fit(emb, k, iterations, idCol, vecCol)
    assignTo(microFrame(emb, idCol, vecCol), model)
      .select(col("vec_id"), col("cent_id"),
        col("sqdist").as("sqdist_micro"))
      .orderBy(col("vec_id"))
  }

  /** Driver-side micro quantization — Spark's round() is BigDecimal
    * HALF_UP on the double, replicated exactly (KmeansSpec pins the
    * equivalence through the fit parity). Shared with the PQ trainer's
    * query-table construction.
    */
  private[operators] def microOf(v: Seq[Double]): Array[Long] =
    v.map(x => BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray

  /** Trained-quantizer ANN over the integer-exact model: assign the
    * corpus to the fitted cells, probe the `nProbe` cells nearest the
    * query (integer sqdist, driver-ranked over the bounded k·dim
    * model), exact cosine over only the probed cells' members, top-k.
    * Every stage deterministic ⇒ the WHOLE trained-ANN path is
    * oracle-checkable INCLUDING the cell pruning — the property the
    * MLlib-backed ivf_trained_knn (engine-internal RNG) cannot have.
    * nProbe = k cells degrades to exact knn (spec-gated).
    */
  /** The query's nProbe nearest cells under the model — integer sqdist
    * over the bounded k·dim matrix, ranked driver-side, ties by cent_id.
    * Shared with the residual-PQ probe.
    */
  private[operators] def probeCellsFor(
      model: Model, qMicro: Array[Long], nProbe: Int): Seq[Long] =
    model.centroids
      .map { case (cid, c) =>
        (c.zip(qMicro).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }
      .sorted.take(nProbe).map(_._2).toSeq

  def trainedKnn(
      emb: DataFrame,
      query: DataFrame, // one row, col "qv" in the original space
      k: Int,
      kCells: Int,
      iterations: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nProbe >= 1 && nProbe <= kCells, "bad k/nProbe")
    val model = fit(emb, kCells, iterations, idCol, vecCol)
    val qMicro = microOf(
      query.select(col("qv").cast("array<double>")).head().getSeq[Double](0))
    val probeCells = probeCellsFor(model, qMicro, nProbe)
    val members = assignTo(microFrame(emb, idCol, vecCol), model)
      .where(col("cent_id").isin(probeCells: _*))
      .select(col("vec_id").as(idCol))
    // NO broadcast hint on the member set: at fixture scale AQE
    // broadcasts it anyway, and at billions of rows the probed-cell
    // membership (~corpus·nProbe/kCells ids) outgrows a driver
    // broadcast — AQE picks, and the at-scale face below avoids the
    // join entirely via file-level partition pruning
    emb
      .join(members, Seq(idCol), "left_semi")
      .crossJoin(broadcast(query))
      .select(col(idCol),
        VectorFunctions.roundDist(
          VectorFunctions.cosine(col(vecCol), col("qv"))).as("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }

  /** Materialize the TRAINED quantizer as a partitioned parquet layout
    * (the `Ivf.writeLayout` discipline for the integer-exact model):
    * the final-model assignment written `partitionBy(cent_id)` — one
    * map-only codegen-argmin pass, no join — plus the k·dim model as a
    * long-form side table. At 100 TB the index IS this layout: a probe
    * reads ONLY the probed cells' directories.
    */
  def writeLayout(
      emb: DataFrame,
      kCells: Int,
      iterations: Int,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val model = fit(emb, kCells, iterations, idCol, vecCol)
    model.centroids.toSeq
      .flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, i) => (cid, i.toLong, x) }
      }
      .toDF("cent_id", "dim_idx", "v")
      .write.mode("overwrite").parquet(s"$path/model")
    val (cent, _) = assignColumns(model, col(vecCol))
    emb
      .select(col(idCol).cast("long").as(idCol), col(vecCol),
        cent.as("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$path/cells")
    model
  }

  /** Load the model side table back into the driver-side form. */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Model =
    Model(spark.read.parquet(s"$path/model")
      .collect() // bounded: k·dim rows by construction
      .groupBy(_.getLong(0))
      .map { case (cid, rows) =>
        (cid, rows.sortBy(_.getLong(1)).map(_.getLong(2)).toArray)
      }
      .toArray.sortBy(_._1))

  /** [[trainedKnn]] over the persisted layout — the at-scale face: the
    * probe ranks cells against the tiny model table, then the cell
    * scan's `cent_id IN (...)` partition filter prunes every unprobed
    * directory at FILE LISTING (plan-gated in KmeansSpec), so no
    * membership frame is ever broadcast or shuffled. Same rows as
    * [[trainedKnn]] by construction (same model ⇒ same cells ⇒ same
    * members ⇒ same exact rerank).
    */
  def trainedKnnFromLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      query: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nProbe >= 1, "bad k/nProbe")
    val model = readModel(spark, path)
    val qMicro = microOf(
      query.select(col("qv").cast("array<double>")).head().getSeq[Double](0))
    val probeCells = probeCellsFor(model, qMicro, nProbe)
    spark.read.parquet(s"$path/cells")
      .where(col("cent_id").isin(probeCells: _*)) // → partition pruning
      .crossJoin(broadcast(query))
      .select(col(idCol),
        VectorFunctions.roundDist(
          VectorFunctions.cosine(col(vecCol), col("qv"))).as("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }

  /** The unrolled-iteration DuckDB twin, generated ADJACENT to the
    * Scala loop (the Coreset/pageRankSql precedent). `what` selects the
    * final face: "fit" (centroids + counts) or "assign".
    */
  /** The shared CTE chain: micro quantization, first-k init, unrolled
    * Lloyd rounds + one extra assignment round under the final model.
    * `p_` prefixes every CTE name and `(off, len)` restricts the micro
    * frame to one SUBSPACE slice of the vector (dims off until off+len,
    * re-indexed to 0) — the hooks the PQ twin uses to unroll one Lloyd
    * chain per subspace in a single statement; the defaults reproduce
    * the whole-vector chain byte for byte. `srcCte`, when set, replaces
    * the embedding-unnest micro frame with an EXISTING (vec_id, i, x)
    * CTE already in micro longs (the residual-PQ twin trains on
    * residual micros another chain produced — no re-rounding).
    */
  private[operators] def iterationCtes(
      table: String, k: Int, iterations: Int,
      p: String = "", off: Int = 0, len: Int = -1,
      srcCte: String = ""): String = {
    val reIdx = if (len < 0) "" else s" - $off"
    val where = if (len < 0) "" else s" WHERE p > $off AND p <= ${off + len}"
    // multiply-referenced CTEs are MATERIALIZED: DuckDB inlines CTEs by
    // default, so a chain-of-chains (the residual-PQ twin nests the
    // coarse chain under four subspace chains) re-evaluates each
    // reference — measured as the oracle gate running past 10 minutes;
    // materialization bounds every CTE to one evaluation
    val mCte =
      if (srcCte.nonEmpty)
        s"""${p}m AS MATERIALIZED (
           |  SELECT vec_id, CAST(i$reIdx AS BIGINT) AS i, x
           |  FROM $srcCte${
          if (len < 0) "" else s" WHERE i >= $off AND i < ${off + len}"})"""
          .stripMargin
      else
        s"""${p}m AS MATERIALIZED (
           |  SELECT vec_id, CAST(p - 1$reIdx AS BIGINT) AS i,
           |    CAST(round(x * 1000000, 0) AS BIGINT) AS x
           |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |        unnest(generate_series(1, len(embedding))) AS p FROM $table)$where)"""
          .stripMargin
    val base =
      s"""$mCte,
         |${p}c0 AS MATERIALIZED (
         |  SELECT d.rn - 1 AS cent_id, m.i, m.x AS v
         |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
         |        FROM (SELECT vec_id FROM $table ORDER BY vec_id LIMIT $k)) d
         |  JOIN ${p}m m ON m.vec_id = d.vec_id)""".stripMargin
    // iteration t reads c{t-1}; one extra assignment round (I+1) gives
    // the final model's assignment for counts / the assign face
    val iterCtes = (1 to iterations + 1).map { t =>
      val upd =
        if (t <= iterations)
          s""",
             |${p}u$t AS MATERIALIZED (SELECT a.cent_id, m.i,
             |  CAST(sum(m.x) // count(*) AS BIGINT) AS v
             |  FROM ${p}a$t a JOIN ${p}m m ON m.vec_id = a.vec_id GROUP BY 1, 2),
             |${p}c$t AS MATERIALIZED (SELECT * FROM ${p}u$t
             |  UNION ALL
             |  SELECT p.cent_id, p.i, p.v FROM ${p}c${t - 1} p
             |  WHERE p.cent_id NOT IN (SELECT DISTINCT cent_id FROM ${p}u$t))""".stripMargin
        else ""
      s"""${p}d$t AS (SELECT m.vec_id, c.cent_id,
         |  CAST(sum((m.x - c.v) * (m.x - c.v)) AS BIGINT) AS sq
         |  FROM ${p}m m JOIN ${p}c${t - 1} c ON c.i = m.i GROUP BY 1, 2),
         |${p}a$t AS MATERIALIZED (SELECT vec_id, cent_id, sq FROM (
         |  SELECT vec_id, cent_id, sq,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY sq, cent_id) AS rn
         |  FROM ${p}d$t) WHERE rn = 1)$upd""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iterCtes"
  }

  def oracleSql(table: String, k: Int, iterations: Int, what: String): String = {
    val fin = iterations + 1
    val tail = what match {
      case "fit" =>
        s"""SELECT c.cent_id AS cent_id, CAST(c.i AS BIGINT) AS dim_idx,
           |  c.v AS centroid_micro,
           |  CAST(coalesce(n.n, 0) AS BIGINT) AS n_assigned
           |FROM c$iterations c
           |LEFT JOIN (SELECT cent_id, count(*) AS n FROM a$fin GROUP BY 1) n
           |  ON n.cent_id = c.cent_id
           |ORDER BY c.cent_id, dim_idx""".stripMargin
      case "assign" =>
        s"""SELECT vec_id, cent_id, sq AS sqdist_micro
           |FROM a$fin
           |ORDER BY vec_id""".stripMargin
      case other => throw new IllegalArgumentException(s"unknown face $other")
    }
    s"WITH ${iterationCtes(table, k, iterations)}\n$tail"
  }

  /** The trained-ANN twin: the same CTE chain, then the query's probe
    * cells (integer sqdist against the FINAL centroids, ties by
    * cent_id), candidates = probed cells' members, exact distance via
    * the caller-supplied `dist` renderer (the Coreset convention).
    */
  def trainedKnnOracleSql(
      table: String, kCells: Int, iterations: Int, k: Int, nProbe: Int,
      dist: (String, String) => String): String = {
    val fin = iterations + 1
    s"""WITH ${iterationCtes(table, kCells, iterations)},
       |qm AS (
       |  SELECT CAST(p - 1 AS BIGINT) AS i,
       |    CAST(round(x * 1000000, 0) AS BIGINT) AS x
       |  FROM (SELECT unnest(embedding::DOUBLE[]) AS x,
       |        unnest(generate_series(1, len(embedding))) AS p
       |        FROM $table WHERE vec_id = 0)),
       |qd AS (SELECT c.cent_id, sum((qm.x - c.v) * (qm.x - c.v)) AS sq
       |       FROM qm JOIN c$iterations c ON c.i = qm.i GROUP BY 1),
       |probes AS (SELECT cent_id FROM qd ORDER BY sq, cent_id LIMIT $nProbe),
       |cand AS (SELECT a.vec_id FROM a$fin a
       |         JOIN probes p ON p.cent_id = a.cent_id),
       |q AS (SELECT embedding::DOUBLE[] AS qv FROM $table WHERE vec_id = 0)
       |SELECT e.vec_id,
       |  round(${dist("e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
       |FROM $table e
       |JOIN cand ON cand.vec_id = e.vec_id, q
       |ORDER BY distance, e.vec_id
       |LIMIT $k""".stripMargin
  }
}
