package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ivf

/** Incremental kNN-graph refresh over in-memory frames: the parity
  * contract (refreshed edges ≡ rebuilt edges, row for row) across adds,
  * removes, changes, the no-op delta, and the centroid-perturbation
  * fallback — plus the scoping claim that an untouched-cell src keeps
  * its base edge rows, and the changed-src report.
  */
class KnnGraphRefreshSpec extends SparkSpec {

  private val (k, nCents, nProbe) = (5, 16, 4)

  private lazy val base = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  // every test refreshes from the same base build: build it once
  private lazy val baseState = Ivf.knnGraphBuild(base, k, nCents, nProbe)

  private def edgeRows(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("vec_id")).collect().map(_.getLong(0)).toSet

  private def noRemoves: DataFrame = base.select(col("vec_id")).limit(0)

  /** The mixed delta: changes (reversed vectors, re-added under their
    * id), removes, and adds under fresh ids — centroid ids (< 16)
    * deliberately untouched so refresh stays on the incremental path.
    */
  private lazy val changed =
    base.where(col("vec_id") >= 16 && col("vec_id") % 89 === 7)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
  private lazy val mixedAdds = changed
    .unionByName(base.where(col("vec_id") % 41 === 3)
      .select((col("vec_id") + 1000000).as("vec_id"),
        reverse(col("embedding")).as("embedding")))
  private lazy val mixedRemoves =
    base.where(col("vec_id") >= 16 && col("vec_id") % 97 === 5)
      .select(col("vec_id"))

  /** The corpus after a delta: removes and re-added ids out, adds in. */
  private def applied(adds: DataFrame, removes: DataFrame): DataFrame =
    base.join(removes, Seq("vec_id"), "left_anti")
      .join(adds.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(adds)

  private lazy val mixedRebuilt =
    edgeRows(Ivf.knnGraph(applied(mixedAdds, mixedRemoves), k, nCents, nProbe))

  test("adds + removes + changes refresh to exactly the rebuilt graph") {
    val refreshed = Ivf.knnGraphRefresh(
      baseState, mixedAdds, mixedRemoves, k, nCents, nProbe)
    assert(refreshed.isDefined, "delta within bounds must not demand a rebuild")
    assert(edgeRows(refreshed.get.state.edges) == mixedRebuilt)
  }

  test("empty delta returns the base state ITSELF (identity, not a rebuild)") {
    val refreshed = Ivf.knnGraphRefresh(
      baseState, base.limit(0), noRemoves, k, nCents, nProbe)
    // reference equality: proves the empty delta short-circuits — an ==
    // on edge rows would also pass if it misfired into a recompute
    assert(refreshed.get.state.ranked eq baseState.ranked)
    assert(refreshed.get.state.edges eq baseState.edges)
  }

  test("a small delta stays on the incremental path: planted base row propagates") {
    val spark2 = spark
    import spark2.implicits._
    // poison one merge-path src's base edge list with a sentinel
    // neighbor at distance -1: an INCREMENTAL refresh merges base edge
    // rows through (sentinel survives at rank 1); a rebuild would
    // erase it — the decisive behavioral distinguisher for the path
    val sentinel = Seq((17L, 999999L, -1.0, 1L))
      .toDF("src_id", "nbr_id", "distance", "rank")
    val poisoned = baseState.copy(edges =
      baseState.edges.where(col("src_id") =!= 17L).unionByName(sentinel))
    val adds = base.where(col("vec_id") < 3)
      .select((col("vec_id") + 1000000).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val refreshed = Ivf.knnGraphRefresh(poisoned, adds, noRemoves, k, nCents, nProbe)
    assert(refreshed.get.state.edges
      .where(col("src_id") === 17L && col("nbr_id") === 999999L)
      .count() == 1)
  }

  test("above the broadcast-probe cap the shuffle join gives identical edges") {
    // cap = 0 forces the full recompute's candidate join off the
    // broadcast path (near the 10%-delta ceiling the probe side is
    // ~0.1·n·nProbe vector rows — too big to broadcast); results must
    // be byte-identical to the broadcast path AND the rebuild
    val capped = Ivf.knnGraphRefresh(baseState, mixedAdds, noRemoves,
      k, nCents, nProbe, broadcastProbeBytesCap = 0L)
    val rebuilt = Ivf.knnGraph(applied(mixedAdds, noRemoves), k, nCents, nProbe)
    assert(edgeRows(capped.get.state.edges) == edgeRows(rebuilt))
  }

  test("centroid perturbation degrades to a rebuild, still parity-exact") {
    // removing vec_id 3 changes the first-16 membership -> None, and
    // the caller's fallback is the from-scratch build itself
    val removes = base.where(col("vec_id") === 3).select(col("vec_id"))
    assert(Ivf.knnGraphRefresh(baseState, base.limit(0), removes,
      k, nCents, nProbe).isEmpty)
  }

  test("srcs with no touched cell in their probe set keep base edge rows") {
    val st = baseState
    val changed = base.where(col("vec_id") >= 16 && col("vec_id") % 113 === 9)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val refreshed = Ivf.knnGraphRefresh(st, changed, noRemoves, k, nCents, nProbe)
      .get.state
    // the touched-cell set: old + new assignments of the changed rows
    val changedIds = ids(changed)
    assert(changedIds.nonEmpty, "fixture must exercise a non-empty delta")
    val oldAssign = st.ranked
      .select(col("src_id"), element_at(col("cells.vec_id"), 1).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val newAssign = refreshed.ranked
      .select(col("src_id"), element_at(col("cells.vec_id"), 1).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val touched = changedIds.map(oldAssign) ++ changedIds.map(newAssign)
    // a src whose probe set avoids every touched cell must carry its
    // BASE edge rows verbatim in the refreshed frame
    val probeSets = refreshed.ranked
      .select(col("src_id"), col("cells.vec_id").as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val untouched = probeSets.collect {
      case (src, cells) if (cells & touched).isEmpty => src
    }.toSet
    assert(untouched.nonEmpty, "fixture must leave some srcs untouched")
    val baseEdges = edgeRows(st.edges).filter(t => untouched(t._1))
    val refEdges = edgeRows(refreshed.edges).filter(t => untouched(t._1))
    assert(baseEdges == refEdges)
  }

  test("tracked refresh: changedSrcs covers every differing src, state identical") {
    val st = baseState
    val rr = Ivf.knnGraphRefresh(st, mixedAdds, mixedRemoves, k, nCents, nProbe)
    assert(rr.isDefined, "incremental path must report a changed-src set")
    val reported = rr.get.changedSrcs.toSet
    // edges: a src whose rows differ between base and refreshed MUST be
    // reported (superset may list unchanged srcs — that is allowed)
    val baseBySrc = edgeRows(st.edges).groupBy(_._1)
    val refBySrc = edgeRows(rr.get.state.edges).groupBy(_._1)
    val differing = (baseBySrc.keySet ++ refBySrc.keySet)
      .filter(s => baseBySrc.get(s) != refBySrc.get(s))
    assert(differing.nonEmpty, "fixture must change some edge lists")
    assert(differing.subsetOf(reported),
      s"unreported changed srcs: ${differing -- reported}")
    // and TIGHT on the merge side (r15): a reported src is either an
    // actual change, a full-recompute src (delta id or a src whose base
    // top-k held a removed/changed neighbor), or a removed src — a
    // merge src that kept its base rows must NOT be reported
    val newEmb = applied(mixedAdds, mixedRemoves)
    val deltaIds = ids(changed) ++ (ids(base) -- ids(newEmb)) ++
      (ids(newEmb) -- ids(base))
    val lossy = edgeRows(st.edges)
      .filter(t => deltaIds(t._2)).map(_._1).toSet
    val explained = differing ++ lossy ++ deltaIds
    assert(reported.subsetOf(explained),
      s"over-reported merge srcs: ${reported -- explained}")
    // ranked: outside the reported set, rows are the base rows verbatim
    val keep = !col("src_id").isin(reported.toSeq: _*)
    val refRanked = rr.get.state.ranked
    assert(st.ranked.where(keep).except(refRanked.where(keep)).count() == 0)
    assert(refRanked.where(keep).except(st.ranked.where(keep)).count() == 0)
    // and the refreshed state is still parity-exact with a rebuild
    assert(edgeRows(rr.get.state.edges) == mixedRebuilt)
  }

  test("tracked refresh: rebuild fallback reports None, empty delta reports empty") {
    val st = baseState
    // centroid perturbation -> rebuild -> None (every src may differ)
    val rebuilt = Ivf.knnGraphRefresh(st, base.limit(0),
      base.where(col("vec_id") === 3).select(col("vec_id")), k, nCents, nProbe)
    assert(rebuilt.isEmpty)
    // identity -> Some(empty); unknown remove ids are a no-op too
    val idem = Ivf.knnGraphRefresh(st, base.limit(0), noRemoves, k, nCents, nProbe)
    assert(idem.isDefined && idem.get.changedSrcs.isEmpty)
    assert(idem.get.state.ranked eq st.ranked)
    val unknown = Ivf.knnGraphRefresh(st, base.limit(0),
      base.select((col("vec_id") + 5000000).as("vec_id")).limit(3),
      k, nCents, nProbe)
    assert(unknown.get.changedSrcs.isEmpty && (unknown.get.state.edges eq st.edges))
  }

  test("refresh and build reject k, nCentroids or nProbe below 1") {
    // nProbe = 0 gave every vector an EMPTY probed-cell list, and the
    // refresh's driver-side cell lookups failed mid-generation
    intercept[IllegalArgumentException](
      Ivf.knnGraphBuild(base, k, nCents, nProbe = 0))
    intercept[IllegalArgumentException](
      Ivf.knnGraphBuild(base, k = 0, nCents, nProbe))
    intercept[IllegalArgumentException](
      Ivf.knnGraphRefresh(baseState, base.limit(0), noRemoves, k, nCents, 0))
  }
}
