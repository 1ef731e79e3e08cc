package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ivf, KnnGraphTables}

/** The one refresh algorithm over its table store must stay
  * ROW-IDENTICAL to the same algorithm over its frame store and to a
  * from-scratch build on the same delta chain — cell pruning, the
  * inverted-index lossy set (stale-tolerant), and the bucketed rewrites
  * are cost moves, never semantics moves. Fallback triggers are the
  * frame store's.
  */
class KnnGraphTablesSpec extends SparkSpec {

  private val (dim, k, nCents, nProbe, nBuckets) = (6, 4, 20, 3, 16)

  private def vecs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      (i, (0 until dim).map(j =>
        ((i * 31 + j * 17 + 7) % 97).toDouble / 48.0 - 1.0))
    }.toDF("vec_id", "embedding")
  }

  private def changedVecs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      (i, (0 until dim).map(j =>
        ((i * 13 + j * 29 + 3) % 89).toDouble / 44.0 - 1.0))
    }.toDF("vec_id", "embedding")
  }

  private def edgeRows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.select(col("src_id"), col("nbr_id"), col("distance"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet

  private def rankedRows(df: DataFrame): Set[(Long, Seq[Double], Seq[Long])] =
    df.select(col("src_id"), col("src_v"), col("cells.vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Long](2)))
      .toSet

  test("init ≡ knnGraphBuild; three mixed generations stay row-identical to the in-memory chain") {
    // three chains over one delta sequence: the table store, the frame
    // store, and a from-scratch knnGraphBuild of each new corpus
    val dir = Files.createTempDirectory("graph-tables").toString
    val base = vecs(0L until 400L)
    KnnGraphTables.init(spark, dir, base, k, nCents, nProbe, nBuckets)
    var mem = {
      val b = Ivf.knnGraphBuild(base, k, nCents, nProbe)
      Ivf.KnnGraphState(
        b.ranked.localCheckpoint(true), b.edges.localCheckpoint(true))
    }
    val st0 = KnnGraphTables.readState(spark, dir)
    assert(edgeRows(st0.edges) == edgeRows(mem.edges))
    assert(rankedRows(st0.ranked) == rankedRows(mem.ranked))

    // the new corpus, evolved alongside for the from-scratch build
    var corpus = base
    def gen(adds: DataFrame, removeIds: Seq[Long]): Unit = {
      import spark.implicits._
      val removes = removeIds.toDF("vec_id")
      val rep = KnnGraphTables.refresh(spark, dir, adds, removes)
      assert(rep.nonEmpty, "delta within bounds must not demand a rebuild")
      // localCheckpoint truncates the per-generation plan nesting and
      // keeps the frame state alive through releaseAll (the serving-
      // loop discipline the graphrefresh soak uses)
      val rr = Ivf.knnGraphRefresh(mem, adds, removes, k, nCents, nProbe)
      assert(rr.nonEmpty, "frame store unexpectedly demanded a rebuild")
      mem = Ivf.KnnGraphState(
        rr.get.state.ranked.localCheckpoint(true),
        rr.get.state.edges.localCheckpoint(true))
      corpus = (if (removeIds.isEmpty) corpus
        else corpus.where(!col("vec_id").isin(removeIds: _*)))
        .join(adds.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .unionByName(adds)
        .localCheckpoint(true)
      val fresh = Ivf.knnGraphBuild(corpus, k, nCents, nProbe)
      val st = KnnGraphTables.readState(spark, dir)
      assert(edgeRows(st.edges) == edgeRows(mem.edges))
      assert(rankedRows(st.ranked) == rankedRows(mem.ranked))
      assert(edgeRows(mem.edges) == edgeRows(fresh.edges))
      assert(rankedRows(mem.ranked) == rankedRows(fresh.ranked))
      graft.CacheTracker.releaseAll()
    }

    // gen 1: pure adds (new cells gain members; merge srcs re-cut)
    gen(vecs(400L until 415L), Seq.empty)
    // gen 2: pure removes (lossy srcs refill through the inverted index)
    gen(vecs(Seq.empty[Long]), (100L until 110L).toSeq)
    // gen 3: mixed — changes (remove+re-add with a different vector),
    // removes, and adds in one generation; the inverted index now
    // carries stale entries from gens 1-2
    gen(
      changedVecs(200L until 206L).unionByName(vecs(415L until 425L)),
      (200L until 206L) ++ (300L until 305L))
    // gen 4: a delta that touches ONLY previously-touched ids — stale
    // index entries must not corrupt the lossy set
    gen(changedVecs(Seq(400L, 401L)), Seq(410L, 205L))
  }

  test("empty delta is the identity; report says so") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graph-tables-empty").toString
    KnnGraphTables.init(spark, dir, vecs(0L until 300L), k, nCents, nProbe,
      nBuckets)
    val before = edgeRows(KnnGraphTables.readState(spark, dir).edges)
    val rep = KnnGraphTables.refresh(spark, dir,
      vecs(Seq.empty[Long]), Seq.empty[Long].toDF("vec_id")).get
    assert(rep.changedSrcs == 0 && rep.stagedBytes == 0L)
    assert(edgeRows(KnnGraphTables.readState(spark, dir).edges) == before)
  }

  test("a NEW add id below max(centIds) on an id-gapped corpus triggers the rebuild fallback") {
    import spark.implicits._
    // id-gapped corpus: centroids are the nCents LOWEST ids — here
    // {0..9, 30..39} with max 39. A brand-new id 15 is NOT a stored
    // centroid id, but a from-scratch build on the new corpus would
    // seat it in the lowest-nCents set (displacing 39) — centroid
    // membership changes, so refresh must fall back (r16 advice: the
    // id-only guard proceeded with stale centroids and silently
    // diverged)
    val dir = Files.createTempDirectory("graph-tables-gap").toString
    val corpus = vecs((0L until 10L) ++ (30L until 330L))
    KnnGraphTables.init(spark, dir, corpus, k, nCents, nProbe, nBuckets)
    assert(KnnGraphTables.refresh(spark, dir,
      vecs(Seq(15L)), Seq.empty[Long].toDF("vec_id")).isEmpty,
      "new id below max(centIds) must demand a rebuild")
    // the frame store agrees: it demands the rebuild too
    val mem = Ivf.knnGraphBuild(corpus, k, nCents, nProbe)
    val newCorpus = corpus.unionByName(vecs(Seq(15L)))
    assert(Ivf.knnGraphRefresh(mem, vecs(Seq(15L)),
      Seq.empty[Long].toDF("vec_id"), k, nCents, nProbe).isEmpty,
      "frame store should rebuild on the same delta")
    // re-init on the new corpus (the fallback path) matches from-scratch
    KnnGraphTables.init(spark, dir, newCorpus, k, nCents, nProbe, nBuckets)
    val fresh = Ivf.knnGraphBuild(newCorpus, k, nCents, nProbe)
    assert(edgeRows(KnnGraphTables.readState(spark, dir).edges) ==
      edgeRows(fresh.edges))
    // a CHANGED vector for an existing above-max id still refreshes
    val rep = KnnGraphTables.refresh(spark, dir,
      changedVecs(Seq(100L)), Seq.empty[Long].toDF("vec_id"))
    assert(rep.nonEmpty, "existing above-max change must not rebuild")
    graft.CacheTracker.releaseAll()
  }

  test("duplicate ids within one delta do not inflate the corpus count") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graph-tables-dup").toString
    KnnGraphTables.init(spark, dir, vecs(0L until 300L), k, nCents, nProbe,
      nBuckets)
    // the same new id added twice, the same existing id removed twice:
    // meta.n must move by exactly (+1, −1) — duplicate rows in the
    // caller's frames are one mutation (r16 advice: raw row counts
    // drifted meta.n and skewed the 10% gate)
    val rep = KnnGraphTables.refresh(spark, dir,
      vecs(Seq(500L, 500L)),
      Seq(250L, 250L).toDF("vec_id")).get
    assert(rep.added == 1 && rep.removed == 1 && rep.corpusSize == 300L)
    graft.CacheTracker.releaseAll()
  }

  test("a crash between per-table commits never tears the generation (group pointer)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graph-tables-crash").toString
    val base = vecs(0L until 400L)
    KnnGraphTables.init(spark, dir, base, k, nCents, nProbe, nBuckets)
    val before = edgeRows(KnnGraphTables.readState(spark, dir).edges)
    val beforeRanked = rankedRows(KnnGraphTables.readState(spark, dir).ranked)
    val adds = changedVecs(200L until 206L).unionByName(vecs(400L until 410L))
    val removes = (300L until 305L).toDF("vec_id")

    final class Crash extends RuntimeException("injected crash")
    def crashAfter(table: String): Unit = {
      intercept[Crash](KnnGraphTables.refresh(spark, dir, adds, removes,
        onCommitted = n => if (n == table) throw new Crash))
      graft.CacheTracker.releaseAll()
      // the torn generation is INVISIBLE: readers resolve the group
      // pointer and see the intact prior generation across BOTH primary
      // tables — through r17 this crash left edges at G+1 with ranked
      // at G and no recovery path short of a full init
      val st = KnnGraphTables.readState(spark, dir)
      assert(edgeRows(st.edges) == before,
        s"crash after $table commit tore the visible edges")
      assert(rankedRows(st.ranked) == beforeRanked,
        s"crash after $table commit tore the visible ranked state")
    }
    // crash right after the FIRST commit (edges ahead, 7 tables behind)
    crashAfter("edges")
    // and again mid-append on the same directory — the recovery path
    // must also discard a torn append, not duplicate it
    crashAfter("probeidx")
    // a third torn layer, then the refresh finally completes: the
    // SAME delta recomputed from the pins must land exactly once and
    // match the frame store and a from-scratch build
    crashAfter("meta")
    val rep = KnnGraphTables.refresh(spark, dir, adds, removes)
    assert(rep.nonEmpty, "recovery refresh must not demand a rebuild")
    val corpus = base
      .where(!col("vec_id").isin((300L until 305L): _*))
      .join(adds.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(adds)
    val mem0 = {
      val b = Ivf.knnGraphBuild(base, k, nCents, nProbe)
      Ivf.KnnGraphState(
        b.ranked.localCheckpoint(true), b.edges.localCheckpoint(true))
    }
    val rr = Ivf.knnGraphRefresh(mem0, adds, removes, k, nCents, nProbe)
    assert(rr.nonEmpty)
    val st = KnnGraphTables.readState(spark, dir)
    assert(edgeRows(st.edges) == edgeRows(rr.get.state.edges))
    assert(rankedRows(st.ranked) == rankedRows(rr.get.state.ranked))
    assert(edgeRows(st.edges) ==
      edgeRows(Ivf.knnGraphBuild(corpus, k, nCents, nProbe).edges))
    // and the graph directory keeps working: one more clean generation
    val rep2 = KnnGraphTables.refresh(spark, dir,
      changedVecs(Seq(401L)), Seq(100L).toDF("vec_id"))
    assert(rep2.nonEmpty)
    graft.CacheTracker.releaseAll()
  }

  test("probeIdx compaction fires on its trigger and later refreshes stay row-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graph-tables-probecompact").toString
    val base = vecs(0L until 400L)
    KnnGraphTables.init(spark, dir, base, k, nCents, nProbe, nBuckets)
    var mem = {
      val b = Ivf.knnGraphBuild(base, k, nCents, nProbe)
      Ivf.KnnGraphState(
        b.ranked.localCheckpoint(true), b.edges.localCheckpoint(true))
    }
    def gen(adds: DataFrame, removeIds: Seq[Long],
        trigger: Double): KnnGraphTables.Report = {
      val removes = removeIds.toDF("vec_id")
      val rep = KnnGraphTables.refresh(spark, dir, adds,
        removes, probeCompactTrigger = trigger).get
      val rr = Ivf.knnGraphRefresh(mem, adds, removes, k, nCents, nProbe)
      assert(rr.nonEmpty)
      mem = Ivf.KnnGraphState(
        rr.get.state.ranked.localCheckpoint(true),
        rr.get.state.edges.localCheckpoint(true))
      val st = KnnGraphTables.readState(spark, dir)
      assert(edgeRows(st.edges) == edgeRows(mem.edges))
      assert(rankedRows(st.ranked) == rankedRows(mem.ranked))
      graft.CacheTracker.releaseAll()
      rep
    }
    // the default trigger holds at this scale: appends alone
    assert(!gen(vecs(400L until 410L), (100L until 105L).toSeq, 2.0)
      .probeCompacted)
    // force the fire: any nonzero probeidx bytes exceed a ~0 threshold.
    // The rebuild reads the just-committed ranked and re-inits the
    // vector-carrying index with ver-0 rows
    assert(gen(changedVecs(200L until 204L), Seq(300L), 1e-9).probeCompacted)
    // post-compaction generations must resolve max-ver correctly even
    // though the base rows restarted at ver 0 while append versions
    // keep counting from the table's manifest generation: a mixed
    // delta whose tombstones must supersede compacted base rows
    assert(!gen(changedVecs(Seq(400L, 201L)), Seq(405L, 106L), 2.0)
      .probeCompacted)
    // and a second fire on the grown chain, then one more clean gen
    assert(gen(vecs(410L until 416L), Seq.empty, 1e-9).probeCompacted)
    assert(!gen(changedVecs(Seq(412L)), Seq(411L), 2.0).probeCompacted)
  }

  test("fallback triggers: centroid membership touched, or delta > 10%") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graph-tables-fb").toString
    KnnGraphTables.init(spark, dir, vecs(0L until 300L), k, nCents, nProbe,
      nBuckets)
    // centroid ids are the lowest nCents ids of the build
    assert(KnnGraphTables.refresh(spark, dir,
      changedVecs(Seq(3L)), Seq.empty[Long].toDF("vec_id")).isEmpty)
    assert(KnnGraphTables.refresh(spark, dir,
      vecs(Seq.empty[Long]), (250L until 290L).toDF("vec_id")).isEmpty)
    // the delta id collect stops at n/10 + 1 ids: far above the gate it
    // still falls back, and at the boundary the gate stays exact —
    // 31 ids over n = 300 is rejected, 30 (30·10 = n) refreshes
    assert(KnnGraphTables.refresh(spark, dir, vecs(1000L until 1600L),
      (200L until 300L).toDF("vec_id")).isEmpty)
    assert(KnnGraphTables.refresh(spark, dir, vecs(300L until 331L),
      Seq.empty[Long].toDF("vec_id")).isEmpty)
    val atGate = KnnGraphTables.refresh(spark, dir, vecs(300L until 330L),
      Seq.empty[Long].toDF("vec_id"))
    assert(atGate.nonEmpty && atGate.get.corpusSize == 330L)
    // the fallback is a re-init on the new corpus — subsequent deltas
    // refresh against it
    val corpus2 = vecs((0L until 250L) ++ (290L until 300L))
    KnnGraphTables.init(spark, dir + "2", corpus2, k, nCents, nProbe,
      nBuckets)
    val rep = KnnGraphTables.refresh(spark, dir + "2",
      vecs(500L until 505L), Seq.empty[Long].toDF("vec_id"))
    assert(rep.nonEmpty && rep.get.corpusSize == 265L)
    // a corpus smaller than nCents holds every id as a centroid, so ANY
    // new id joins the centroid set of a from-scratch build
    KnnGraphTables.init(spark, dir + "3", vecs(0L until 15L), k, nCents,
      nProbe, nBuckets)
    assert(KnnGraphTables.refresh(spark, dir + "3", vecs(Seq(100L)),
      Seq.empty[Long].toDF("vec_id")).isEmpty)
    graft.CacheTracker.releaseAll()
  }
}
